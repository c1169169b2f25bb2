package perfbench

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream}
import java.nio.file.{Files, Path}
import java.security.{DigestOutputStream, MessageDigest}
import java.time.LocalDate
import java.util.SplittableRandom

/** Seeded input generators in the reference's real file shapes.
  *
  * Every generator is a pure function of (seed, size): it writes the same
  * bytes for the same arguments and returns the expected results, computed
  * in plain Scala from the values it wrote, for the output checks.
  */
object Gen {

  val Year = 2024
  val MinutesPerDay = 1440
  val YearDays = 366 // 2024 is a leap year: 527,040 one-minute rows
  private val BucketMinutes = 10

  // ------------------------------------------------------------ caching

  /** Inputs cached by (seed, size) in `dir`: generated once, together with
    * their expected results, which later runs read back. Returns the
    * inputs and the seconds their generation took.
    */
  def cached[T <: Serializable](dir: Path)(make: => T): (T, Double) = {
    val f = dir.resolve("_expected.bin")
    if (Files.exists(f)) {
      val in = new java.io.ObjectInputStream(Files.newInputStream(f))
      try in.readObject().asInstanceOf[(T, Double)] finally in.close()
    } else {
      if (Files.exists(dir))
        Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      Files.createDirectories(dir)
      val t0 = System.nanoTime()
      val t = make
      val seconds = (System.nanoTime() - t0) / 1e9
      val tmp = dir.resolve("_expected.tmp")
      val out = new java.io.ObjectOutputStream(Files.newOutputStream(tmp))
      try out.writeObject((t, seconds)) finally out.close()
      Files.move(tmp, f)
      (t, seconds)
    }
  }

  // ------------------------------------------------------------ writing

  /** ASCII line builder over a hashing, buffered file stream. */
  final class Out(path: Path) {
    private val digest = MessageDigest.getInstance("SHA-256")
    private val os: OutputStream = new DigestOutputStream(
      new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 16), digest)
    private val buf = new Array[Byte](1 << 12)
    private var n = 0
    var bytes = 0L

    private def flushBuf(): Unit = { os.write(buf, 0, n); bytes += n; n = 0 }
    def byte(b: Int): Out = { if (n == buf.length) flushBuf(); buf(n) = b.toByte; n += 1; this }
    def str(s: String): Out = { var i = 0; while (i < s.length) { byte(s.charAt(i)); i += 1 }; this }
    def long(v: Long): Out = str(java.lang.Long.toString(v))
    /** `v / 10^4` with exactly four decimals, e.g. 123456 -> "12.3456". */
    def fixed4(v: Long): Out = {
      if (v < 0) byte('-')
      val a = math.abs(v)
      long(a / 10000).byte('.')
      val f = (a % 10000).toInt
      byte('0' + f / 1000).byte('0' + f / 100 % 10).byte('0' + f / 10 % 10).byte('0' + f % 10)
    }
    def fixed2(v: Long): Out = {
      if (v < 0) byte('-')
      val a = math.abs(v)
      long(a / 100).byte('.')
      val f = (a % 100).toInt
      byte('0' + f / 10).byte('0' + f % 10)
    }
    def nl(): Out = byte('\n')
    /** Closes the file; returns the hex SHA-256 of everything written. */
    def close(): String = {
      flushBuf(); os.close()
      digest.digest().map(b => f"${b & 0xff}%02x").mkString
    }
  }

  private val dates: Array[String] =
    Array.tabulate(YearDays + 1)(d => LocalDate.of(Year, 1, 1).plusDays(d).toString)
  private val hhmm: Array[String] =
    Array.tabulate(MinutesPerDay)(m => f"${m / 60}%02d:${m % 60}%02d")

  /** `2024-03-01T06:10:00.0` for minute `m` of the year. */
  private def iso(m: Int): String = s"${dates(m / MinutesPerDay)}T${hhmm(m % MinutesPerDay)}:00.0"
  /** `2024-03-01 06:10:00` for minute `m` of the year. */
  private def plain(m: Int): String = s"${dates(m / MinutesPerDay)} ${hhmm(m % MinutesPerDay)}:00"

  /** Epoch seconds of minute `m` of the year (UTC). */
  def epoch(m: Int): Long = YearStartEpoch + m * 60L
  private val YearStartEpoch: Long = LocalDate.of(Year, 1, 1).toEpochDay * 86400L

  /** Clear-sky shape in [0, 1]: a sine day between 06:00 and 18:00 local
    * solar time, slightly longer days mid-year.
    */
  private def sun(minuteOfYear: Int, lonHours: Double): Double = {
    val local = (minuteOfYear % MinutesPerDay) / 60.0 + lonHours
    val h = ((local % 24) + 24) % 24
    val season = 0.9 + 0.1 * math.cos(2 * math.Pi * (minuteOfYear / 527040.0 - 0.47))
    if (h <= 6 || h >= 18) 0.0 else season * math.sin(math.Pi * (h - 6) / 12)
  }

  // ------------------------------------------------------- csv_expert

  /** The two CAMS layouts: McClear (`clear`) and CAMS radiation
    * (`observed_cloud`), as the `# Observation period;...` header names them.
    */
  val SkyTypes: Seq[String] = Seq("observed_cloud", "clear")
  def camsColumns(sky: String): Seq[String] = {
    val clear = Seq("TOA", "Clear sky GHI", "Clear sky BHI", "Clear sky DHI", "Clear sky BNI")
    if (sky == "clear") clear else clear ++ Seq("GHI", "BHI", "DHI", "BNI", "Reliability")
  }

  /** Expected 10-minute resample of one csv_expert file: for every bucket
    * with at least one parsed time, the mean of each column over its
    * numeric values (NaN when the bucket has none).
    */
  final case class Resampled(columns: Seq[String], bucketMinute: Array[Int],
      means: Array[Array[Double]])

  final case class CamsFile(path: String, bytes: Long, sha256: String,
      rowsRead: Long, rowsKept: Long, expected: Resampled)

  /** One year of 1-minute rows in the `csv_expert` shape:
    *  - a `#` preamble whose last line is the `;` header;
    *  - `start/end` ISO intervals;
    *  - about one line in `1/corruptEvery` corrupt: half with an
    *    unparseable interval (dropped), half with a non-numeric value
    *    (kept, that value null);
    *  - one seeded outage of one to three days with no rows.
    */
  def camsExpert(path: Path, seed: Long, sky: String, lonHours: Double,
      days: Int = YearDays, corruptEvery: Int = 2000): CamsFile = {
    val rng = new SplittableRandom(seed)
    val cols = camsColumns(sky)
    val k = cols.length
    val minutes = days * MinutesPerDay
    val outageLen = (1 + rng.nextInt(3)) * MinutesPerDay
    val outageStart = rng.nextInt(math.max(1, minutes - outageLen))
    val nBuckets = minutes / BucketMinutes
    val sums = Array.ofDim[Double](k, nBuckets)
    val counts = Array.ofDim[Int](k, nBuckets)
    val kept = new Array[Boolean](nBuckets)
    val o = new Out(path)
    o.str("# Coding: utf-8").nl()
    o.str("# File format version: 4").nl()
    o.str(s"# Title: CAMS ${if (sky == "clear") "McClear" else "radiation"} service v4.6 time series").nl()
    o.str("# Content: A time-series of solar radiation received on a horizontal plane").nl()
    o.str(s"# Provider: benchmark generator (seed $seed)").nl()
    o.str(f"# Latitude (positive North, ISO 19115): ${-6.0 - lonHours}%.4f").nl()
    o.str(f"# Longitude (positive East, ISO 19115): ${lonHours * 15 + 105}%.4f").nl()
    o.str("# Altitude (m): 25.0").nl()
    o.str("# Time reference: Universal time (UT)").nl()
    o.str("# Summarization (integration) period: 0 year 0 month 0 day 0 h 1 min 0 s").nl()
    o.str("# No data value: nan").nl()
    o.str("# Encoding partly from:").nl()
    (1 to 24).foreach(i => o.str(s"# Column $i description line").nl())
    o.str("#").nl()
    o.str(("# Observation period" +: cols).mkString(";")).nl()
    var read = 0L
    var keptRows = 0L
    val v = new Array[Long](k)
    var m = 0
    while (m < minutes) {
      if (m < outageStart || m >= outageStart + outageLen) {
        read += 1
        val corrupt = rng.nextInt(corruptEvery) == 0
        if (corrupt && rng.nextBoolean()) {
          o.str("not_a_time/also_bad;oops;42;x;y").nl()
        } else {
          val s = sun(m, lonHours)
          val cloud = if (sky == "clear") 1.0 else 0.35 + 0.65 * rng.nextDouble()
          // Wh/m2 per minute, in units of 1e-4
          val toa = (s * 22.7 * 10000).toLong
          v(0) = toa
          v(1) = (s * 17.1 * 10000).toLong + (if (s > 0) rng.nextInt(200) else 0)
          v(2) = (v(1) * 0.8).toLong
          v(3) = v(1) - v(2)
          v(4) = (s * 15.2 * 10000).toLong
          if (k > 5) {
            v(5) = (v(1) * cloud).toLong
            v(6) = (v(2) * cloud * cloud).toLong
            v(7) = v(5) - v(6)
            v(8) = (v(4) * cloud * cloud).toLong
            v(9) = if (s > 0) 10000L else rng.nextInt(10000).toLong
          }
          val bad = if (corrupt) rng.nextInt(k) else -1
          o.str(iso(m)).byte('/').str(iso(m + 1))
          val b = m / BucketMinutes
          var c = 0
          while (c < k) {
            o.byte(';')
            if (c == bad) o.str("abc")
            else {
              o.fixed4(v(c))
              sums(c)(b) += v(c) / 10000.0
              counts(c)(b) += 1
            }
            c += 1
          }
          o.nl()
          kept(b) = true
          keptRows += 1
        }
      }
      m += 1
    }
    val sha = o.close()
    val bs = (0 until nBuckets).filter(kept(_)).toArray
    val expected = Resampled(cols, bs.map(_ * BucketMinutes),
      Array.tabulate(bs.length, k)((i, c) =>
        if (counts(c)(bs(i)) == 0) Double.NaN else sums(c)(bs(i)) / counts(c)(bs(i))))
    CamsFile(path.toString, o.bytes, sha, read, keptRows, expected)
  }

  // ------------------------------------------------- compare / compile

  /** (file tag, longitude used in the metadata, timezone). Sleman carries
    * the shipped metadata's positive-West longitude typo, and is on the
    * compile step's exclusion list.
    */
  val Stations: Seq[(String, Double, String)] = Seq(
    ("Banjarbaru", 114.75, "UTC+8"), ("Tangerang_Selatan", 106.65, "UTC+7"),
    ("Mempawah", 108.96, "UTC+7"), ("Sleman", -110.35362, "UTC+7"),
    ("Deli_Serdang", 98.87, "UTC+7"), ("Kupang", 123.61, "UTC+8"),
    ("Jayapura", 140.71, "UTC+9"), ("Palu", 119.87, "UTC+8"))
  val Excluded = "Sleman"
  val FlagCols: Seq[String] = Seq("flag_ghi", "flag_dhi", "flag_dni", "flag_ghi_rare",
    "flag_dhi_rare", "flag_dni_rare", "flag_comp1", "flag_comp2")

  /** Expected compare statistics for one station and component. */
  final case class Fit(n: Long, slope: Double)

  final case class CompareInputs(groundFiles: Seq[String], processedFiles: Seq[String],
      locations: String, bytes: Long, sha256: String, groundRows: Long, cleanRows: Long,
      joinRows: Long, fits: Map[(String, String), Fit], cubeRows: Long)

  /** For each station: a 1-minute `QC_<st>_2024_flagged.csv` ground file
    * with all eight flag columns (each set with probability `flagP`), and
    * the matching `processed_10min_<st>_observed_cloud.csv` CAMS series;
    * plus the station metadata with a `timezone` column.
    */
  def compareInputs(dir: Path, seed: Long, stations: Int, days: Int,
      flagP: Double = 0.02): CompareInputs = {
    require(stations >= 1 && stations <= Stations.length, s"1..${Stations.length} stations")
    Files.createDirectories(dir.resolve("ground"))
    Files.createDirectories(dir.resolve("processed"))
    val minutes = days * MinutesPerDay
    val hashes = Seq.newBuilder[String]
    var bytes = 0L
    var groundRows = 0L
    var cleanRows = 0L
    var joinRows = 0L
    var cubeRows = 0L
    val fits = Map.newBuilder[(String, String), Fit]
    val ground = Seq.newBuilder[String]
    val processed = Seq.newBuilder[String]
    Stations.take(stations).zipWithIndex.foreach { case ((st, lon, _), si) =>
      val rng = new SplittableRandom(seed * 31 + si)
      val lonHours = ((lon % 360 + 360) % 360) / 15.0
      // CAMS 10-minute series, Wh/m2 per minute, in units of 1e-4
      val nb = minutes / BucketMinutes
      val cams = Array.ofDim[Long](nb, 4)
      val p = dir.resolve(s"processed/processed_10min_${st}_observed_cloud.csv")
      val po = new Out(p)
      po.str("time,GHI,DHI,BNI,Cloud coverage").nl()
      (0 until nb).foreach { b =>
        val s = sun(b * BucketMinutes, lonHours)
        val cl = rng.nextDouble()
        cams(b)(0) = (s * 16.5 * 10000).toLong + rng.nextInt(2000)
        cams(b)(1) = (cams(b)(0) * (0.3 + 0.4 * cl)).toLong
        cams(b)(2) = (s * 14.0 * 10000 * (1 - cl * 0.8)).toLong + rng.nextInt(2000)
        cams(b)(3) = (cl * 10000).toLong
        po.str(plain(b * BucketMinutes))
        cams(b).foreach(x => po.byte(',').fixed4(x))
        po.nl()
      }
      hashes += po.close(); bytes += po.bytes
      processed += p.toString
      if (st != Excluded) cubeRows += nb
      // ground 1-minute series, W/m2 in units of 1e-2, tracking CAMS
      val g = dir.resolve(s"ground/QC_${st}_${Year}_flagged.csv")
      val go = new Out(g)
      go.str(("Datetime (UTC)" +: Seq("GHI", "DHI", "DNI") ++: FlagCols).mkString(",")).nl()
      val xs = Array.fill(3)(Array.newBuilder[Double])
      val ys = Array.fill(3)(Array.newBuilder[Double])
      val gv = new Array[Long](3)
      var m = 0
      while (m < minutes) {
        val b = m / BucketMinutes
        var c = 0
        while (c < 3) {
          // cams W/m2 = Wh/min * 60; ground = 0.9 x cams + noise, 2 decimals
          val camsW = cams(b)(c) * 60 / 100.0
          gv(c) = (camsW * 0.9 * 100).toLong + rng.nextInt(5000) - 2500
          c += 1
        }
        go.str(plain(m))
        gv.foreach(x => go.byte(',').fixed2(x))
        var flagSum = 0
        FlagCols.foreach { _ =>
          val f = if (rng.nextDouble() < flagP) 1 else 0
          flagSum += f
          go.byte(',').byte('0' + f)
        }
        go.nl()
        groundRows += 1
        if (flagSum == 0) {
          cleanRows += 1
          if (m % BucketMinutes == 0) {
            joinRows += 1
            (0 until 3).foreach { c =>
              xs(c) += gv(c) / 100.0
              ys(c) += cams(b)(c) / 10000.0 * 60.0
            }
          }
        }
        m += 1
      }
      hashes += go.close(); bytes += go.bytes
      ground += g.toString
      Seq("GHI", "DHI", "DNI").zipWithIndex.foreach { case (comp, c) =>
        fits += (st, comp) -> fit(xs(c).result(), ys(c).result())
      }
    }
    val loc = dir.resolve("asrs_location.csv")
    val lo = new Out(loc)
    lo.str("no,station,latitude,longitude,elevation,timezone").nl()
    // every generated station plus one metadata-only station
    (Stations.take(stations) :+ ("Metadata_Only", 120.5, "UTC+8")).zipWithIndex.foreach {
      case ((st, lon, tz), i) =>
        lo.str(s"${i + 1},$st,${-2.5 - i * 0.75},$lon,${25.0 + i * 12.5},$tz").nl()
    }
    hashes += lo.close(); bytes += lo.bytes
    val all = MessageDigest.getInstance("SHA-256")
    hashes.result().foreach(h => all.update(h.getBytes("US-ASCII")))
    CompareInputs(ground.result(), processed.result(), loc.toString, bytes,
      all.digest().map(b => f"${b & 0xff}%02x").mkString, groundRows, cleanRows,
      joinRows, fits.result(), cubeRows)
  }

  /** Least-squares slope of y on x, two-pass. */
  private def fit(x: Array[Double], y: Array[Double]): Fit = {
    val n = x.length
    val mx = x.sum / n
    val my = y.sum / n
    var sxy = 0.0
    var sxx = 0.0
    var i = 0
    while (i < n) { sxy += (x(i) - mx) * (y(i) - my); sxx += (x(i) - mx) * (x(i) - mx); i += 1 }
    Fit(n, sxy / sxx)
  }
}
