package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** Deterministic on-disk CSV fixtures for the oracle-gated IO queries
  * (`q_s2_cams_scan`, `q_s5_compile_cube`).
  *
  * Round 1 left the whole CSV/IO layer (S1–S8) covered by ScalaTest only;
  * these fixtures let the driver's DuckDB gate drive the *real* parse
  * paths: the commented-header `;`-separated csv_expert reader
  * (reference `code/get-cams-solrad-ts.py:62-96`) and the glob-scan +
  * filename-provenance + broadcast-metadata compile pipeline
  * (reference `code/compile-solrad.py:25-195`).
  *
  * Both the Spark query and the DuckDB oracle read the same files, so the
  * writers are pure functions of nothing: byte-identical on every call,
  * written idempotently under `target/verify-fixtures/`. Values are exact
  * binary fractions (quarters) so aggregation order can never move a
  * rounded result.
  */
object VerifyFixtures {

  val root = "/root/repo/target/verify-fixtures"

  // ----------------------------------------------------------- csv_expert
  /** Number of `#` lines atop the CAMS fixture (metadata + header) — the
    * DuckDB oracle skips exactly this many. A long preamble on purpose:
    * the driver path then proves sniffHeader reads past any fixed window.
    */
  val camsPreambleLines = 300

  val camsPath = s"$root/cams/raw_1min_alpha_site_observed_cloud.csv"

  /** 3 h of 1-min rows minus a 15-min outage, plus two corrupt lines:
    * one garbage-everywhere (dropped via unparseable time, pandas
    * `errors='coerce'` semantics) and one with a valid time but a
    * non-numeric GHI (kept; GHI contributes null to its bucket mean).
    */
  def camsExpertFixture(): String = writeIfAbsent(Paths.get(camsPath)) {
    val sb = new StringBuilder
    (1 until camsPreambleLines).foreach { i =>
      sb ++= s"# Metadata line $i: CAMS solar radiation timeseries fixture;;;;\n"
    }
    sb ++= "# Observation period;GHI;DHI;BNI;Cloud coverage\n"
    def iso(min: Int): String = {
      val h = min / 60; val m = min % 60
      f"2024-03-01T$h%02d:$m%02d:00.0"
    }
    (0 until 180).foreach { i =>
      if (i < 60 || i >= 75) { // 15-minute outage: bucket 01:00 empty, 01:10 partial
        if (i == 30) sb ++= "not_a_time/also_bad;oops;42;x;y\n"
        val row = s"${iso(i)}/${iso(i + 1)};" +
          (if (i == 45) "abc" else s"${100 + (i % 40) * 0.25}") +
          s";${50 + (i % 23) * 0.5};${200 + (i % 17) * 0.25};${(i % 101) * 0.25}"
        sb ++= row + "\n"
      }
    }
    sb.result()
  }

  /** Output directory for the S7 CSV-sink round-trip query — written by
    * `q_s7_csv_sink` at query-construction time, read back by both the
    * Spark query and the DuckDB oracle.
    */
  val csvSinkDir = s"$root/csv_sink"

  // ------------------------------------------------------ compile pipeline
  val processedDir = s"$root/processed"
  val processedGlob = s"$processedDir/processed_10min_*_observed_cloud.csv"
  val locationPath = s"$root/processed/asrs_location.csv"

  /** Station set exercising every compile edge: canonicalization across
    * `_`/`-`/case (`Beta-2` file ↔ `Beta-2` metadata via key `beta2`),
    * the exclusion filter (Sleman), a file with no metadata row (Gamma —
    * dropped by the inner broadcast join), a metadata row with no file
    * (Delta), and a corrupt-time line (dropped by the lenient parse).
    */
  private val stations = Seq(
    // (file tag, metadata name, lat, lon, elev, tz, has file, in metadata)
    ("Alpha_Site", "Alpha_Site", -6.25, 106.75, 25.0, "UTC+7", true, true),
    ("Beta-2", "Beta-2", -7.5, 110.25, 150.5, "UTC-3", true, true),
    ("Sleman", "Sleman", -7.75, -110.25, 210.0, "UTC+7", true, true),
    ("Gamma", "Gamma", 0.0, 0.0, 0.0, "UTC+0", true, false),
    ("Delta", "Delta", 1.5, 120.5, 75.25, "UTC+9", false, true))

  /** Writes the per-station processed files + the station metadata CSV;
    * returns (glob, metadataCsvPath).
    */
  def compileFixture(): (String, String) = {
    stations.zipWithIndex.foreach { case ((tag, _, _, _, _, _, hasFile, _), idx) =>
      if (hasFile) {
        writeIfAbsent(Paths.get(s"$processedDir/processed_10min_${tag}_observed_cloud.csv")) {
          val sb = new StringBuilder
          sb ++= "time,GHI,DHI,BNI,Cloud coverage\n"
          (0 until 8).foreach { i =>
            if (idx == 0 && i == 3) sb ++= "not-a-timestamp,1.0,2.0,3.0,4.0\n"
            val m = i * 10
            sb ++= f"2024-03-01 ${m / 60}%02d:${m % 60}%02d:00," +
              s"${100.0 * (idx + 1) + i * 0.5},${40.0 * (idx + 1) + i * 0.25}," +
              s"${150.0 * (idx + 1) + i * 0.75},${i * 2.5}\n"
          }
          sb.result()
        }
      }
    }
    writeIfAbsent(Paths.get(locationPath)) {
      val rows = stations.zipWithIndex.collect {
        case ((_, name, lat, lon, elev, tz, _, inMeta), i) if inMeta =>
          s"${i + 1},$name,$lat,$lon,$elev,$tz"
      }
      "no,station,latitude,longitude,elevation,timezone\n" + rows.mkString("\n") + "\n"
    }
    (processedGlob, locationPath)
  }

  // --------------------------------------------------------------- media
  val mediaDir = s"$root/media"
  val mediaGlob = s"$mediaDir/media_*.bin"
  val mediaExpectedPath = s"$mediaDir/expected_media.csv"

  /** Binary media fixture for the oracle-gated decode query: one file per
    * container format with a REAL header (PNG IHDR, GIF screen
    * descriptor, JPEG marker walk incl. a fill byte and a COM segment)
    * plus one non-image payload that exercises the stub path. All files
    * share a `.bin` extension on purpose — format comes from content
    * sniffing, not the name. The expected (media_type, n_bytes, width,
    * height) per file is PINNED as literals in `expected_media.csv`
    * (the DuckDB oracle reads it), independent of the Scala decode.
    */
  def mediaFixture(): String = {
    def png(w: Int, h: Int): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(33)
      out.put(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A))
      out.putInt(13).put("IHDR".getBytes("US-ASCII")).putInt(w).putInt(h)
      out.put(8.toByte).put(6.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      out.array()
    }
    def gif(w: Int, h: Int): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(10).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("GIF89a".getBytes("US-ASCII")).putShort(w.toShort).putShort(h.toShort)
      out.array()
    }
    def jpeg(w: Int, h: Int): Array[Byte] = {
      // SOI, fill byte, COM segment, SOF0 (3 components), EOI = 30 bytes
      val out = java.nio.ByteBuffer.allocate(30)
      out.put(Array[Byte](0xFF.toByte, 0xD8.toByte))                  // SOI
      out.put(0xFF.toByte)                                            // fill
      out.put(Array[Byte](0xFF.toByte, 0xFE.toByte, 0, 4, 'h', 'i')) // COM
      out.put(Array[Byte](0xFF.toByte, 0xC0.toByte, 0, 17, 8))        // SOF0
      out.putShort(h.toShort).putShort(w.toShort).put(3.toByte)
      (1 to 3).foreach(c => out.put(c.toByte).put(0x11.toByte).put(0.toByte))
      out.put(Array[Byte](0xFF.toByte, 0xD9.toByte))                  // EOI
      out.array()
    }
    writeBytesIfAbsent(Paths.get(s"$mediaDir/media_001.bin"), png(640, 480))
    writeBytesIfAbsent(Paths.get(s"$mediaDir/media_002.bin"), gif(320, 200))
    writeBytesIfAbsent(Paths.get(s"$mediaDir/media_003.bin"), jpeg(1920, 1080))
    writeBytesIfAbsent(Paths.get(s"$mediaDir/media_004.bin"),
      "not an image".getBytes(StandardCharsets.UTF_8))
    writeIfAbsent(Paths.get(mediaExpectedPath)) {
      // media_004: stub-decode constants (FNV-ish checksum -> fake dims),
      // pinned here once so a stub regression can't silently re-pin them.
      """id,media_type,n_bytes,width,height
        |1,image/png,33,640,480
        |2,image/gif,10,320,200
        |3,image/jpeg,30,1920,1080
        |4,application/octet-stream,12,360,383
        |""".stripMargin
    }
    mediaGlob
  }

  // -------------------------------------------------------- audio/video
  val avDir = s"$root/av"
  val avGlob = s"$avDir/av_*.bin"
  val avExpectedPath = s"$avDir/expected_av.csv"

  /** Audio/video container fixture for the oracle-gated AV-metadata
    * query: real WAV (RIFF chunk layout), FLAC (STREAMINFO block) and
    * MP4 (ftyp/moov/mvhd/trak box tree) headers built from the public
    * container specs, plus one non-media payload for the fallback path.
    * `.bin` extension on purpose — format comes from content sniffing.
    * Expected values are PINNED literals in `expected_av.csv`
    * (WAV: 35280 data bytes / 176400 B·s⁻¹ = 200 ms; FLAC: 96000
    * samples / 48 kHz = 2000 ms; MP4: duration 1500 / timescale 600 =
    * 2500 ms, 2 traks), independent of the Scala parse.
    */
  def avFixture(): String = {
    def wav(rate: Int, channels: Int, bits: Int, dataBytes: Int): Array[Byte] = {
      val byteRate = rate * channels * bits / 8
      val out = java.nio.ByteBuffer.allocate(44 + dataBytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
      out.put("WAVE".getBytes("US-ASCII"))
      out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      out.putShort(1).putShort(channels.toShort).putInt(rate).putInt(byteRate)
      out.putShort((channels * bits / 8).toShort).putShort(bits.toShort)
      out.put("data".getBytes("US-ASCII")).putInt(dataBytes)
      out.array() // data payload stays zeroed PCM
    }
    def flac(rate: Int, channels: Int, bits: Int, totalSamples: Long): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(42)
      out.put("fLaC".getBytes("US-ASCII"))
      out.put(0x80.toByte).put(0.toByte).put(0.toByte).put(34.toByte) // last block, STREAMINFO, len 34
      out.putShort(4096.toShort).putShort(4096.toShort) // min/max blocksize
      out.put(Array[Byte](0, 0, 0, 0, 0, 0))            // min/max framesize
      out.put((rate >> 12).toByte).put(((rate >> 4) & 0xFF).toByte)
      out.put((((rate & 0xF) << 4) | ((channels - 1) << 1) | ((bits - 1) >> 4)).toByte)
      out.put(((((bits - 1) & 0xF) << 4) | ((totalSamples >> 32) & 0xF).toInt).toByte)
      out.putInt((totalSamples & 0xFFFFFFFFL).toInt)
      out.array() // md5 stays zeroed
    }
    def mp4(timescale: Int, duration: Int, traks: Int): Array[Byte] = {
      val mvhdSize = 8 + 20 // header + (ver/flags, ctime, mtime, timescale, duration)
      val moovSize = 8 + mvhdSize + 8 * traks
      val out = java.nio.ByteBuffer.allocate(16 + moovSize)
      out.putInt(16).put("ftyp".getBytes("US-ASCII"))
      out.put("isom".getBytes("US-ASCII")).putInt(0)
      out.putInt(moovSize).put("moov".getBytes("US-ASCII"))
      out.putInt(mvhdSize).put("mvhd".getBytes("US-ASCII"))
      out.putInt(0)                       // version 0 + flags
      out.putInt(0).putInt(0)             // ctime, mtime
      out.putInt(timescale).putInt(duration)
      (1 to traks).foreach(_ => out.putInt(8).put("trak".getBytes("US-ASCII")))
      out.array()
    }
    writeBytesIfAbsent(Paths.get(s"$avDir/av_001.bin"), wav(44100, 2, 16, 35280))
    writeBytesIfAbsent(Paths.get(s"$avDir/av_002.bin"), flac(48000, 2, 16, 96000L))
    writeBytesIfAbsent(Paths.get(s"$avDir/av_003.bin"), mp4(600, 1500, 2))
    writeBytesIfAbsent(Paths.get(s"$avDir/av_004.bin"),
      "not audio or video".getBytes(StandardCharsets.UTF_8))
    writeIfAbsent(Paths.get(avExpectedPath)) {
      """id,media_type,sample_rate,channels,duration_ms,tracks
        |1,audio/wav,44100,2,200,1
        |2,audio/flac,48000,2,2000,1
        |3,video/mp4,0,0,2500,2
        |4,application/octet-stream,0,0,0,0
        |""".stripMargin
    }
    avGlob
  }

  // ------------------------------------------------- malformed stations
  val malformedLocationPath = s"$root/processed/asrs_location_malformed.csv"

  /** Station metadata with a REQUIRED column (`longitude`) missing —
    * the S1-validation negative fixture (`get-cams-solrad-ts.py:119-121`
    * aborts on missing required columns; so does
    * [[graft.pipelines.SolarPipelines.validateStations]]).
    */
  def malformedLocationFixture(): String = writeIfAbsent(Paths.get(malformedLocationPath)) {
    """no,station,latitude,elevation,timezone
      |1,Alpha_Site,-6.25,25.0,UTC+7
      |2,Beta-2,-7.5,150.5,UTC-3
      |""".stripMargin
  }

  // ----------------------------------------------------------------- bpe
  val bpeDocsPath = s"$root/bpe/bpe_docs.csv"
  val bpeExpectedPath = s"$root/bpe/expected_bpe.csv"

  /** BPE-encode fixture: input strings + expected token ids under the
    * PINNED merge table ([[graft.functions.Bpe.merges]]). The ids were
    * derived BY HAND from the merge rules (rank-order exhaustive
    * merging, whitespace word boundaries, UNK=0 for chars outside
    * a–z; base ids a=1..z=26, merged tokens 27+) — not generated by the
    * Scala encoder, so the fixture can catch an encoder regression.
    * E.g. "standing" = s,t,a,n,d,i,n,g → in(r3) → an(r4) → and(r5) →
    * ing(r8) → st(r9) → [st=35, and=31, ing=34].
    */
  def bpeFixture(): (String, String) = {
    writeIfAbsent(Paths.get(bpeDocsPath)) {
      """id,text
        |1,the
        |2,thin father
        |3,standing at the station
        |4,hello world
        |5,qzx7
        |6,interesting
        |7,Hello HELLO
        |""".stripMargin
    }
    writeIfAbsent(Paths.get(bpeExpectedPath)) {
      """id,ids_str
        |1,28
        |2,27 29 6 1 28 18
        |3,35 31 34 36 28 35 36 9 15 14
        |4,8 5 12 12 15 23 32 12 4
        |5,17 26 24 0
        |6,29 20 33 5 35 34
        |7,0 5 12 12 15 0 0 0 0 0
        |""".stripMargin
    }
    (bpeDocsPath, bpeExpectedPath)
  }

  private def writeBytesIfAbsent(p: Path, bytes: Array[Byte]): Unit = {
    if (!Files.exists(p) || !java.util.Arrays.equals(Files.readAllBytes(p), bytes)) {
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
  }

  // ------------------------------------------------- stream batch order
  val streamNearDupDir = s"$root/stream_neardup"

  /** Two-file fixture driving TWO real micro-batches through
    * [[graft.streaming.StreamNearDup]] (`maxFilesPerTrigger = 1`;
    * file order pinned by explicit modification times, 60 s apart —
    * FileStreamSource processes oldest-first).
    *
    * Texts are duplicate CLASSES with pairwise-DISJOINT vocabularies
    * (class c's tokens are `w<c>_0 … w<c>_11`), which is what makes a
    * STREAMING near-dup gate oracle-exact rather than rows-only: within
    * a class every pair has Jaccard exactly 1 — identical shingle sets
    * give identical MinHash signatures, so banding collides with
    * certainty and the estimate is exactly 1; across classes the
    * shingle sets share nothing, so neither a band collision nor an
    * estimate ≥ the 0.9 floor can occur. No probabilistic middle
    * ground exists, unlike the natural corpus (whose planted j ≈ 0.97
    * pairs make the est-only store probe a coin flip at 64 perms).
    * Batch-1 ids are all smaller than batch-2 ids, so the greedy
    * stream result (batch-1 canonical wins the store probe; batch-2
    * novels canonicalize among themselves) collapses to one SQL line:
    * min(id) per duplicate class over BOTH files. Any order/memory
    * defect diverges from it: batches processed in the wrong order
    * keep a duplicate's high id, a dead store probe keeps batch-2
    * copies of batch-1 classes, a max-id canonical keeps the wrong
    * in-batch row.
    */
  def streamNearDupFixture(): String = {
    def text(c: Int): String = (0 until 12).map(i => s"w${c}_$i").mkString(" ")
    val b1 =
      (0 until 25).map(c => s"$c,${text(c)}") ++        // classes 0..24
      (0 until 5).map(c => s"${100 + c},${text(c)}")    // in-batch dups of 0..4
    val b2 =
      (0 until 10).map(c => s"${200 + c},${text(c)}") ++   // store-dups of 0..9
      (25 until 35).map(c => s"${275 + c},${text(c)}") ++  // novel classes -> ids 300..309
      (0 until 3).map(i => s"${400 + i},${text(25)}")      // in-batch dups of novel 300
    val p1 = Paths.get(s"$streamNearDupDir/b1.csv")
    val p2 = Paths.get(s"$streamNearDupDir/b2.csv")
    writeIfAbsent(p1)("id,text\n" + b1.mkString("\n") + "\n")
    writeIfAbsent(p2)("id,text\n" + b2.mkString("\n") + "\n")
    Files.setLastModifiedTime(p1,
      java.nio.file.attribute.FileTime.fromMillis(1700000000000L))
    Files.setLastModifiedTime(p2,
      java.nio.file.attribute.FileTime.fromMillis(1700000060000L))
    streamNearDupDir
  }

  private def writeIfAbsent(p: Path)(content: => String): String = {
    val bytes = content.getBytes(StandardCharsets.UTF_8)
    if (!Files.exists(p) || !java.util.Arrays.equals(Files.readAllBytes(p), bytes)) {
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    p.toString
  }
}
