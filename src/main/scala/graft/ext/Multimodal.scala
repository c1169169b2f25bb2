package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: opaque binary payloads + typed metadata,
  * with decode/feature-extraction staged as partition-wise batch
  * transforms.
  *
  * The Spark-side contract is real — schema, partitioning, batch shape,
  * and the `binaryFile` source all work at scale. The decode itself is a
  * STUB (`decodeStub`): image/audio codecs aren't available in this
  * environment, so it derives deterministic fake features from the
  * bytes. Swapping in a real codec changes one function, nothing else.
  */
object Multimodal {

  /** Typed row for the decode stage. */
  case class MediaRow(id: Long, payload: Array[Byte], mediaType: String)

  /** Extracted features: what a real decoder would emit, shape-wise. */
  case class MediaFeatures(
      id: Long, mediaType: String, byteLength: Int,
      checksum: Long, width: Int, height: Int)

  /** Read real files as binary payloads via Spark's binaryFile source
    * (path, modificationTime, length, content). The glob is expanded on
    * the driver ([[graft.io.Globs]]).
    */
  def readBinaryFiles(spark: SparkSession, pathGlob: String): DataFrame =
    spark.read.format("binaryFile").load(graft.io.Globs.expand(spark, pathGlob): _*)

  /** Attach an opaque binary payload + metadata struct to a text frame —
    * the canonical "multimodal table" shape: id, binary, typed metadata.
    */
  def asMediaTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("id"),
      col(textCol).cast("binary").as("payload"),
      struct(
        lit("text/plain").as("content_type"),
        length(col(textCol)).as("n_bytes")).as("meta"))

  /** STUB decoder: deterministic fake features from the payload bytes.
    * A real PIXEL decode would need a codec library (absent here; ???),
    * but container HEADERS are pure byte arithmetic — see
    * [[imageHeaderDims]], which the feature extractor prefers when the
    * payload carries a known magic number.
    */
  def decodeStub(payload: Array[Byte]): (Long, Int, Int) = {
    var checksum = 1469598103934665603L
    var i = 0
    while (i < payload.length) { checksum = checksum * 31 + payload(i); i += 1 }
    val width = 16 + math.floorMod(checksum, 1024).toInt
    val height = 16 + math.floorMod(checksum >> 10, 1024).toInt
    (checksum, width, height)
  }

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 24) | ((b(i + 1) & 0xFF) << 16) |
      ((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)

  /** REAL header parse — (format, width, height) from the container
    * header bytes, no codec needed:
    *  - PNG: IHDR width/height, big-endian at offsets 16/20 after the
    *    8-byte signature (public PNG spec).
    *  - GIF: logical screen size, little-endian at offset 6.
    *  - JPEG: scan the marker stream for a SOFn segment (0xC0–0xCF
    *    minus C4/C8/CC); height/width big-endian at +5/+7.
    * Unknown or truncated payloads → None (the stub takes over).
    */
  def imageHeaderDims(b: Array[Byte]): Option[(String, Int, Int)] = {
    if (b.length >= 24 &&
        b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
        b(4) == 0x0D && b(5) == 0x0A && b(6) == 0x1A && b(7) == 0x0A)
      Some(("png", be32(b, 16), be32(b, 20)))
    else if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8')
      Some(("gif", le16(b, 6), le16(b, 8)))
    else if (b.length >= 4 && b(0) == 0xFF.toByte && b(1) == 0xD8.toByte) {
      // JPEG: walk the marker stream until a frame header. Per ISO
      // 10918-1 B.1.1.2, any marker may be preceded by 0xFF fill bytes,
      // and TEM (0x01) / RSTn (0xD0-D7) are standalone markers with no
      // length field.
      var i = 2
      while (i + 1 < b.length) {
        if (b(i) != 0xFF.toByte) return None // desynced marker stream
        while (i + 1 < b.length && b(i + 1) == 0xFF.toByte) i += 1 // fill bytes
        if (i + 1 >= b.length) return None
        val marker = b(i + 1) & 0xFF
        if (marker >= 0xC0 && marker <= 0xCF &&
            marker != 0xC4 && marker != 0xC8 && marker != 0xCC) {
          return if (i + 9 < b.length) Some(("jpeg", be16(b, i + 7), be16(b, i + 5)))
          else None // truncated frame header
        }
        if (marker == 0xD9) return None // EOI before any frame header
        if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD7)) i += 2
        else if (i + 3 < b.length) i += 2 + be16(b, i + 2) // length incl. itself
        else return None
      }
      None
    } else None
  }

  private def be64(b: Array[Byte], i: Int): Long =
    ((be32(b, i) & 0xFFFFFFFFL) << 32) | (be32(b, i + 4) & 0xFFFFFFFFL)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8) |
      ((b(i + 2) & 0xFF) << 16) | ((b(i + 3) & 0xFF) << 24)
  private def ascii4(b: Array[Byte], i: Int): String =
    if (i + 4 <= b.length) new String(b, i, 4, "US-ASCII") else ""

  /** Typed audio/video container metadata (a media column is not only
    * pictures): sample rate + channels for audio, track count for video,
    * duration for both. 0 marks not-applicable (e.g. sample rate of an
    * MP4 movie header, which carries a timescale, not a rate).
    */
  case class AvMeta(
      mediaType: String, sampleRate: Int, channels: Int,
      durationMs: Long, tracks: Int)

  /** REAL audio/video container header parse — pure byte arithmetic over
    * the public container specs, no codec:
    *  - WAV: RIFF/WAVE chunk walk; rate/channels from `fmt `,
    *    duration = `data` size / byte rate.
    *  - FLAC: STREAMINFO (first metadata block by spec): 20-bit sample
    *    rate, 3-bit channels-1, 36-bit total samples → duration.
    *  - MP4: top-level box walk (must start with `ftyp`); `mvhd` inside
    *    `moov` gives timescale+duration (v0 and v1), `trak` children are
    *    counted.
    * Unknown or truncated payloads → None.
    */
  def avHeaderMeta(b: Array[Byte]): Option[AvMeta] = {
    if (b.length >= 44 && ascii4(b, 0) == "RIFF" && ascii4(b, 8) == "WAVE") {
      // chunk walk: [id 4][size 4 LE][payload size] from offset 12.
      // All cursor arithmetic stays in Long — a 32-bit size near 2^32
      // truncated through toInt would step backwards (or by zero) and
      // hang the walk on adversarial bytes.
      var i = 12L
      var rate = 0; var channels = 0; var byteRate = 0; var dataSize = -1L
      while (i + 8 <= b.length && (rate == 0 || dataSize < 0)) {
        val at = i.toInt
        val id = ascii4(b, at)
        val size = le32(b, at + 4).toLong & 0xFFFFFFFFL
        if (id == "fmt " && i + 24 <= b.length) {
          channels = le16(b, at + 10)
          rate = le32(b, at + 12)
          byteRate = le32(b, at + 16)
        } else if (id == "data") dataSize = size
        i += 8L + size + (size & 1L) // chunks are word-aligned; always advances
      }
      if (rate <= 0 || byteRate <= 0) None
      else Some(AvMeta("audio/wav", rate, channels,
        if (dataSize < 0) 0L else dataSize * 1000L / byteRate, 1))
    } else if (b.length >= 42 && ascii4(b, 0) == "fLaC" && (b(4) & 0x7F) == 0) {
      // STREAMINFO block at offset 8 (header: 1 flag/type byte + 24-bit len)
      val s = 8
      val rate = ((b(s + 10) & 0xFF) << 12) | ((b(s + 11) & 0xFF) << 4) |
        ((b(s + 12) & 0xFF) >>> 4)
      val channels = (((b(s + 12) & 0xFF) >>> 1) & 0x7) + 1
      val totalSamples = ((b(s + 13) & 0x0FL) << 32) | (be32(b, s + 14) & 0xFFFFFFFFL)
      if (rate <= 0) None
      else Some(AvMeta("audio/flac", rate, channels, totalSamples * 1000L / rate, 1))
    } else if (b.length >= 12 && ascii4(b, 4) == "ftyp") {
      // MP4/ISO-BMFF: walk top-level boxes [size 4 BE][type 4]. Cursors
      // in Long for the same truncation reason as the WAV walk; size < 8
      // (which includes size 0 = "rest of file", unsupported here) is
      // rejected so every step strictly advances.
      var i = 0L
      var timescale = 0L; var duration = 0L; var tracks = 0
      while (i + 8 <= b.length) {
        val at = i.toInt
        val size = be32(b, at).toLong & 0xFFFFFFFFL
        if (size < 8) return None // malformed box
        if (ascii4(b, at + 4) == "moov") {
          var j = i + 8
          val end = math.min(i + size, b.length.toLong)
          while (j + 8 <= end) {
            val cat = j.toInt
            val csize = be32(b, cat).toLong & 0xFFFFFFFFL
            if (csize < 8) return None
            ascii4(b, cat + 4) match {
              case "mvhd" if j + 9 <= end =>
                val version = b(cat + 8) & 0xFF
                if (version == 1 && j + 40 <= end) {
                  timescale = be32(b, cat + 28).toLong & 0xFFFFFFFFL
                  duration = be64(b, cat + 32)
                } else if (version == 0 && j + 28 <= end) {
                  timescale = be32(b, cat + 20).toLong & 0xFFFFFFFFL
                  duration = be32(b, cat + 24).toLong & 0xFFFFFFFFL
                }
              case "trak" => tracks += 1
              case _ => ()
            }
            j += csize
          }
        }
        i += size
      }
      if (timescale <= 0) None
      else Some(AvMeta("video/mp4", 0, 0, duration * 1000L / timescale, tracks))
    } else None
  }

  /** Partition-wise decode/feature-extract: the Scala analogue of a
    * `mapInPandas` batch UDF — one iterator pass per partition, no
    * per-row task overhead, output schema fixed by the case class.
    * Known container headers yield REAL dimensions (and override the
    * declared media type); everything else gets the stub's
    * deterministic fakes.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    media.mapPartitions { rows =>
      rows.map { r =>
        val (checksum, sw, sh) = decodeStub(r.payload)
        imageHeaderDims(r.payload) match {
          case Some((fmt, w, h)) =>
            MediaFeatures(r.id, s"image/$fmt", r.payload.length, checksum, w, h)
          case None =>
            MediaFeatures(r.id, r.mediaType, r.payload.length, checksum, sw, sh)
        }
      }
    }
  }

  /** Expression-only PNG dimensions — the codegen'd zero-copy path for
    * the overwhelmingly common case: when the payload starts with the
    * PNG signature, width/height are fixed-offset big-endian ints, so
    * `substring`+`hex`+`conv` extract them inside whole-stage codegen
    * with no UDF and no partition-wise pass. Non-PNG → null.
    */
  def pngDims(payload: Column): Column = {
    val magic = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
    val isPng = substring(payload, 1, 8) === lit(magic)
    struct(
      when(isPng, conv(hex(substring(payload, 17, 4)), 16, 10).cast("int")).as("width"),
      when(isPng, conv(hex(substring(payload, 21, 4)), 16, 10).cast("int")).as("height"))
  }

  /** Expression-only feature projection over a binary column (length,
    * first byte) — the cheap path that needs no decode at all.
    */
  def binaryMeta(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(
      col(idCol),
      length(col(payloadCol)).as("n_bytes"),
      ascii(col(payloadCol).cast("string")).as("first_byte"))
}
