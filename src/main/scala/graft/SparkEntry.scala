package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 is demonstrated as a query over the
  * driver's synthetic tables with an equivalent DuckDB oracle. Outputs are
  * made oracle-stable by (a) emitting timestamps as epoch-second longs,
  * (b) summing monetary doubles through exact DECIMAL casts, and
  * (c) rounding float aggregates at a granularity far above accumulated
  * float error (SURVEY.md §7.4 #3).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** File-source stream over one sf table. The testdata tables are
    * single parquet FILES — the file source wants a directory, so
    * stream the parent dir with a glob pinned to the leaf name. Scaled
    * replicas ([[graft.io.ScaleReplicate]]) are parquet DIRECTORIES of
    * part files — `pathGlobFilter` matches leaf *file* names only, so
    * the same glob would silently stream zero files; stream the
    * directory itself instead. The path is classified through its
    * Hadoop `FileSystem`, so a `file:` URI or another scheme classifies
    * like a plain local path.
    */
  private[graft] def streamTable(s: SparkSession, dir: String, table: String) = {
    val path = s"$dir/$table.parquet"
    val schema = graft.io.Parquet.read(s, path).schema
    val hp = new Path(path)
    val raw =
      if (hp.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(hp).isDirectory)
        s.readStream.schema(schema).parquet(path)
      else
        s.readStream.schema(schema)
          .option("pathGlobFilter", s"$table.parquet").parquet(dir)
    // Same ts normalization as the batch loaders — watermarks and
    // unix_micros both reject TIMESTAMP_NTZ, so streams must see a
    // proper TimestampType regardless of the fixture's encoding.
    Tables.normalizeTs(raw)
  }

  /** Source parquet bytes per streaming state partition (8 MB). */
  private val StatePartitionBytes = 8L << 20

  /** Size a streaming query's state/shuffle partition count to its
    * SOURCE BYTES instead of the core count, for the eager region of a
    * streaming query (build → start → awaitTermination).
    *
    * Stateful streaming disables AQE, so `spark.sql.shuffle.partitions`
    * is taken verbatim as the state-store partition count for the life
    * of the checkpoint — and every partition pays fixed per-micro-batch
    * overhead (store provider init, version checkpoint files,
    * maintenance) regardless of how many rows it holds. Defaulting the
    * count to the session's core count couples that overhead to the
    * MACHINE: the round-10 scaling block measured the stream-stream
    * joins running 2× FASTER at 8 cores than 32 purely because fewer
    * state partitions existed. Partitioning should follow the data
    * (guide §2.2): one partition per [[StatePartitionBytes]] of source
    * parquet (8 MB compressed ≈ a few hundred MB of in-flight rows),
    * measured with Hadoop `getContentSummary` so any Hadoop path works,
    * clamped to [1, 4096]. A missing path raises
    * `FileNotFoundException`. The conf is restored before the query
    * function returns; the post-stream comparison plans are lazy and
    * execute under the caller's configuration as before.
    */
  private[graft] def withBoundedStreamState[T](s: SparkSession, paths: Seq[String])
      (body: => T): T = {
    val bytes = paths.map { p =>
      val hp = new Path(p)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration).getContentSummary(hp).getLength
    }.sum
    val parts = math.max(1L, math.min(4096L,
      (bytes + StatePartitionBytes - 1) / StatePartitionBytes))
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try body
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** [[withBoundedStreamState]] keyed by sf-table names — the wrapper
    * every STATEFUL `q_st*` entry applies to its whole (eager) body.
    * The foreachBatch store-backed streams (q_st8/q_st17/q_st20/q_st23)
    * are deliberately NOT wrapped: their state lives in bucketed tables,
    * not in streaming state stores, so the bound saves nothing there —
    * and it throttles their inner batch pipelines' CPU parallelism
    * (q_st20 measured +3-5 s wrapped at 32 cores, same harness).
    */
  private def streamQ(tables: String*)(fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame =
    (s, dir) => withBoundedStreamState(
      s, tables.map(tb => s"$dir/$tb.parquet"))(fn(s, dir))

  /** Runs a streaming plan to completion — `Trigger.AvailableNow` into
    * the memory sink under `view`, in output `mode` — and returns the
    * sink's table: the edge every memory-sink `q_st*` gate compares
    * with its batch oracle. The view is dropped first, so a re-run in
    * the same session starts from an empty table.
    */
  private[graft] def runToMemory(s: SparkSession, df: DataFrame, view: String,
      mode: String): DataFrame = {
    s.catalog.dropTempView(view)
    df.writeStream.format("memory").queryName(view).outputMode(mode)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    s.table(view)
  }

  /** Output and checkpoint dirs of a file-sink or foreachBatch gate:
    * absolute, scoped per (application, dir) like
    * [[ExtQueries.scratchDir]] so concurrent sessions and the bench's
    * base/scaled passes never clobber each other, and deleted through
    * Hadoop `FileSystem` first so a re-run starts from an empty sink and
    * a fresh checkpoint.
    */
  private[graft] def resetStreamDirs(s: SparkSession, tag: String, dir: String)
      : (String, String) = {
    def reset(kind: String): String = {
      val p = new Path(ExtQueries.scratchDir(s, s"${tag}_$kind", dir))
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val abs = fs.makeQualified(p)
      fs.delete(abs, true)
      abs.toString
    }
    (reset("out"), reset("ckpt"))
  }

  /** Exact decimal sum of a double column, surfaced back as double. */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(28,$scale)")).cast("double")

  /** 10-minute bucket start as epoch seconds (oracle-stable). */
  private def bucket10(c: Column): Column =
    TimeOps.bucketStartEpoch(c, 600).as("bucket_start")

  /** Per-event-type 10-min mean series (the solar "processed 10-min"
    * shape re-expressed over the events table).
    */
  private def eventSeries(s: SparkSession, dir: String, eventType: String, alias: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type") === eventType)
      .groupBy(bucket10(col("ts")))
      .agg(round(avg(col("value")), 6).as(alias))

  /** Flagship: the analytical heart of the reference (SURVEY §3.2) on the
    * events table — two 10-min resampled series, inner time-join, bias.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val a = eventSeries(spark, dir, "click", "avg_click")
    val b = eventSeries(spark, dir, "view", "avg_view")
    Compare.joinOnTime(a, b, "bucket_start")
      .withColumn("bias", round(Compare.bias(col("avg_click"), col("avg_view")), 6))
  }

  /** Every driver query by name, built once from the four declaration
    * lists; a name declared twice is an error here, not a silent
    * shadowing.
    */
  lazy val registry: Map[String, Q] =
    Q.index(core, ExtQueries.all, StatQueries.all, EvalQueries.all)

  lazy val queries: Map[String, Q.Plan] = registry.map { case (n, q) => n -> q.plan }
  lazy val oracleSql: Map[String, String] = registry.flatMap { case (n, q) => q.oracle.map(n -> _) }

  /** The oracle of an ExtQueries batch gate, which its stream twin reuses. */
  private def extOracle(name: String): String =
    ExtQueries.all.find(_.name == name).flatMap(_.oracle).getOrElse(
      throw new NoSuchElementException(s"ExtQueries declares no oracle for $name"))

  /** One [[Q]] per query: the reference's entry points, the core
    * operators and the `q_st*` streaming gates, each beside its DuckDB
    * oracle.
    */
  private[graft] lazy val core: Seq[Q] = Seq(
    // A1: tumbling 10-min mean resample, keyed by series id.
    Q("q_a1_resample", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(bucket10(col("ts")), col("event_type"))
        .agg(count(col("value")).as("n"), round(avg(col("value")), 6).as("avg_value")),
      oracle = Some(
        """SELECT CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS bucket_start, event_type,
          |       count(value) AS n, round(avg(value), 6) AS avg_value
          |FROM events GROUP BY 1, 2""".stripMargin)),

    // R1: densified bucket grid — every 10-min bucket between min and max,
    // empty buckets surfacing as n=0 / null mean.
    Q("q_r1_densify", (s, dir) => {
      val b = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(bucket10(col("ts")))
        .agg(count(lit(1)).as("n_obs"), round(avg(col("value")), 6).as("avg_value"))
      Resample.densify(b, "bucket_start", 600)
        .select(col("bucket_start"), coalesce(col("n_obs"), lit(0L)).as("n"), col("avg_value"))
    },
      oracle = Some(
        """WITH b AS (
          |  SELECT CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS bucket_start,
          |         count(*) AS n_obs, round(avg(value), 6) AS avg_value
          |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
          |mm AS (SELECT min(bucket_start) AS mn, max(bucket_start) AS mx FROM b),
          |g AS (SELECT unnest(generate_series(mn, mx, 600)) AS bucket_start FROM mm)
          |SELECT g.bucket_start, coalesce(b.n_obs, 0) AS n, b.avg_value
          |FROM g LEFT JOIN b USING (bucket_start)""".stripMargin)),

    // J1 + F8: inner equi-join of two resampled series on time + bias.
    Q("q_j1_time_join", (s, dir) => {
      val a = eventSeries(s, dir, "click", "avg_click")
      val b = eventSeries(s, dir, "view", "avg_view")
      Compare.joinOnTime(a, b, "bucket_start")
        .withColumn("bias", round(Compare.bias(col("avg_click"), col("avg_view")), 6))
    },
      oracle = Some(
        """WITH a AS (
          |  SELECT CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS bucket_start,
          |         round(avg(value), 6) AS avg_click
          |  FROM events WHERE event_type = 'click' GROUP BY 1),
          |b AS (
          |  SELECT CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS bucket_start,
          |         round(avg(value), 6) AS avg_view
          |  FROM events WHERE event_type = 'view' GROUP BY 1)
          |SELECT a.bucket_start, a.avg_click, b.avg_view,
          |       round(a.avg_click - b.avg_view, 6) AS bias
          |FROM a JOIN b USING (bucket_start)""".stripMargin)),

    // A2: linear regression via built-in regr_* sufficient-stats aggregates.
    Q("q_a2_linreg", (s, dir) =>
      LinReg.regrStats(t(s, dir, "lineitem"),
          y = col("l_extendedprice"), x = col("l_quantity"),
          keys = Seq(col("l_returnflag")))
        .select(col("l_returnflag"), round(col("slope"), 6).as("slope"),
          round(col("intercept"), 4).as("intercept"), round(col("r2"), 6).as("r2"),
          col("n").cast("long").as("n")),
      oracle = Some(
        """SELECT l_returnflag,
          |       round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
          |       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
          |       round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
          |       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
          |FROM lineitem GROUP BY 1""".stripMargin)),

    // §2.11 A2 full: the scipy-linregress 5-tuple (slope, intercept, r,
    // p-value, stderr) from the custom typed Aggregator
    // (reference `code/solrad-compare.py:131-132`), pinned on a fixed
    // dataset chosen so the p-values have CLOSED-FORM Student-t CDFs
    // (n=3 -> df=1 Cauchy: p = 1 - 2*atan|t|/pi; n=4 -> df=2:
    // p = 1 - |t|/sqrt(2+t^2)) that the DuckDB oracle recomputes from
    // regr_sxx/syy/sxy in plain SQL — an independent check of the
    // commons-math t-distribution path, not a restatement of it.
    Q("q_a2_linreg_full", (s, dir) => {
      val sp = s
      import sp.implicits._
      val pts = Seq(
        ("a", 1.0, 2.125), ("a", 2.0, 3.875), ("a", 3.0, 6.25), ("a", 4.0, 7.75),
        ("b", 1.0, 1.0), ("b", 2.0, 2.25), ("b", 3.0, 2.875)
      ).toDF("grp", "x", "y")
      pts.groupBy(col("grp")).agg(LinReg.linregFull(col("x"), col("y")).as("lr"))
        .select(col("grp"),
          round(col("lr.slope"), 6).as("slope"),
          round(col("lr.intercept"), 6).as("intercept"),
          round(col("lr.r"), 6).as("r"),
          round(col("lr.r2"), 6).as("r2"),
          round(col("lr.pValue"), 6).as("p_value"),
          round(col("lr.stderr"), 6).as("stderr"),
          col("lr.n").cast("long").as("n"))
    },
      oracle = Some(
        """WITH d AS (
          |  SELECT * FROM (VALUES
          |    ('a', 1.0, 2.125), ('a', 2.0, 3.875), ('a', 3.0, 6.25), ('a', 4.0, 7.75),
          |    ('b', 1.0, 1.0),   ('b', 2.0, 2.25), ('b', 3.0, 2.875)
          |  ) v(grp, x, y)),
          |s AS (
          |  SELECT grp,
          |         regr_count(y, x) AS n,
          |         regr_slope(y, x) AS slope,
          |         regr_intercept(y, x) AS intercept,
          |         regr_sxx(y, x) AS ssxx,
          |         regr_syy(y, x) AS ssyy,
          |         regr_sxy(y, x) AS ssxy
          |  FROM d GROUP BY grp),
          |t AS (
          |  SELECT grp, n, slope, intercept,
          |         ssxy / sqrt(ssxx * ssyy) AS r,
          |         sqrt(greatest(ssyy - slope * ssxy, 0) / (n - 2) / ssxx) AS stderr
          |  FROM s)
          |SELECT grp,
          |       round(slope, 6) AS slope,
          |       round(intercept, 6) AS intercept,
          |       round(r, 6) AS r,
          |       round(r * r, 6) AS r2,
          |       round(CASE
          |         WHEN n = 4 THEN 1 - abs(slope / stderr) / sqrt(2 + (slope / stderr) * (slope / stderr))
          |         WHEN n = 3 THEN 1 - 2 * atan(abs(slope / stderr)) / pi()
          |       END, 6) AS p_value,
          |       round(stderr, 6) AS stderr,
          |       CAST(n AS BIGINT) AS n
          |FROM t""".stripMargin)),

    // J2: broadcast lookup join (fact × small dim) + grouped rollup.
    Q("q_j2_broadcast_lookup", (s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price")),
      oracle = Some(
        """SELECT p_brand, count(*) AS n,
          |       CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |GROUP BY 1""".stripMargin)),

    // P3+P4: QC flag-sum filter (flags derived, schema-intersected at plan time).
    Q("q_p4_qc_filter", (s, dir) => {
      val flagged = t(s, dir, "lineitem")
        .withColumn("flag_disc", when(col("l_discount") > 0.05, 1).otherwise(0))
        .withColumn("flag_tax", when(col("l_tax") > 0.04, 1).otherwise(0))
        .withColumn("flag_ret", when(col("l_returnflag") === "R", 1).otherwise(0))
      Qc.clean(flagged, Seq("flag_disc", "flag_tax", "flag_ret", "flag_not_there"))
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
    },
      oracle = Some(
        """SELECT l_linestatus, count(*) AS n,
          |       CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem
          |WHERE (CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END
          |     + CASE WHEN l_tax > 0.04 THEN 1 ELSE 0 END
          |     + CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) = 0
          |GROUP BY 1""".stripMargin)),

    // F9: zero-divisor-guarded ratio.
    Q("q_f9_ratio_guard", (s, dir) =>
      t(s, dir, "lineitem")
        .withColumn("ratio", Compare.guardedRatio(col("l_extendedprice"), col("l_discount")))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("ratio").isNull, 1).otherwise(0)).cast("long").as("n_null"),
          round(avg(col("ratio")), 2).as("avg_ratio")),
      oracle = Some(
        """SELECT l_returnflag, count(*) AS n_rows,
          |       CAST(sum(CASE WHEN l_discount = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
          |       round(avg(CASE WHEN l_discount = 0 THEN NULL
          |                      ELSE l_extendedprice / l_discount END), 2) AS avg_ratio
          |FROM lineitem GROUP BY 1""".stripMargin)),

    // F1/F2/F5/F6/F16: interval-start parse, UTC-offset parse, local time,
    // epoch encoding — round-tripped through generated strings.
    Q("q_f1_time_parse", (s, dir) => {
      val fmt = "yyyy-MM-dd'T'HH:mm:ss"
      val base = Tables.events(s, dir).select(
        col("event_id"),
        concat(lit("UTC+"), (col("user_id") % 12).cast("int")).as("tz"),
        concat(date_format(col("ts"), fmt), lit("/"),
          date_format(col("ts") + expr("INTERVAL 1 MINUTE"), fmt)).as("iso"))
      val off = TimeOps.parseUtcOffset(col("tz"))
      val t0 = TimeOps.parseIntervalStart(col("iso"))
      base.select(
        col("event_id"), off.as("utc_offset"),
        TimeOps.epochSeconds(t0).as("epoch_utc"),
        TimeOps.epochSeconds(TimeOps.localTime(t0, off)).as("epoch_local"))
    },
      oracle = Some(
        """WITH base AS (
          |  SELECT event_id,
          |         'UTC+' || CAST(user_id % 12 AS INT) AS tz,
          |         strftime(ts, '%Y-%m-%dT%H:%M:%S') || '/' ||
          |         strftime(ts + INTERVAL 1 MINUTE, '%Y-%m-%dT%H:%M:%S') AS iso
          |  FROM events)
          |SELECT event_id,
          |       CAST(replace(tz, 'UTC', '') AS INT) AS utc_offset,
          |       CAST(epoch(strptime(split_part(iso, '/', 1), '%Y-%m-%dT%H:%M:%S')) AS BIGINT) AS epoch_utc,
          |       CAST(epoch(strptime(split_part(iso, '/', 1), '%Y-%m-%dT%H:%M:%S'))
          |            + CAST(replace(tz, 'UTC', '') AS INT) * 3600 AS BIGINT) AS epoch_local
          |FROM base""".stripMargin)),

    // F11/F12/F15: station-name canonicalization / sanitization / prettify.
    Q("q_f12_clean_names", (s, dir) => {
      val p = t(s, dir, "part")
      p.select(
        col("p_partkey"),
        Stations.cleanStationName(translate(col("p_name"), " ", "_")).as("clean_name"),
        Stations.sanitizeFileName(col("p_name")).as("file_name"),
        Stations.prettify(Stations.sanitizeFileName(col("p_name"))).as("pretty_name"))
    },
      oracle = Some(
        """SELECT p_partkey,
          |       trim(regexp_replace(regexp_replace(
          |         lower(regexp_replace(replace(p_name, ' ', '_'), '_', ' ', 'g')),
          |         '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')) AS clean_name,
          |       regexp_replace(p_name, '[^\w.-]', '_', 'g') AS file_name,
          |       replace(regexp_replace(p_name, '[^\w.-]', '_', 'g'), '_', ' ') AS pretty_name
          |FROM part""".stripMargin)),

    // U1: union-all of filtered branches + grouped rollup.
    Q("q_u1_union", (s, dir) => {
      val o = t(s, dir, "orders")
      val hi = o.filter(col("o_totalprice") >= 150000).withColumn("seg", lit("hi"))
      val lo = o.filter(col("o_totalprice") < 150000).withColumn("seg", lit("lo"))
      hi.unionByName(lo)
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
    },
      oracle = Some(
        """SELECT seg, count(*) AS n,
          |       CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
          |FROM (
          |  SELECT 'hi' AS seg, o_totalprice FROM orders WHERE o_totalprice >= 150000
          |  UNION ALL
          |  SELECT 'lo' AS seg, o_totalprice FROM orders WHERE o_totalprice < 150000)
          |GROUP BY 1""".stripMargin)),

    // A4/A5: scalar aggregates (count, max, min, distinct count).
    Q("q_a4_scalars", (s, dir) =>
      Tables.events(s, dir).agg(
        count(lit(1)).as("n"),
        max(col("value")).as("max_value"),
        min(col("value")).as("min_value"),
        TimeOps.epochSeconds(min(col("ts"))).as("min_ts_epoch"),
        TimeOps.epochSeconds(max(col("ts"))).as("max_ts_epoch"),
        countDistinct(col("event_type")).as("n_types")),
      oracle = Some(
        """SELECT count(*) AS n, max(value) AS max_value, min(value) AS min_value,
          |       CAST(floor(epoch(min(ts))) AS BIGINT) AS min_ts_epoch,
          |       CAST(floor(epoch(max(ts))) AS BIGINT) AS max_ts_epoch,
          |       count(DISTINCT event_type) AS n_types
          |FROM events""".stripMargin)),

    // P2: dynamic numeric projection — columns chosen from the schema at
    // plan time, then exact decimal sums.
    Q("q_p2_dynamic_numeric", (s, dir) => {
      val e = Tables.events(s, dir)
      val numeric = Resample.numericColumns(e)
      e.select(numeric.map(col): _*)
        .agg(dsum(col(numeric.head), 4).as(s"sum_${numeric.head}"),
          numeric.tail.map(c => dsum(col(c), 4).as(s"sum_$c")): _*)
    },
      oracle = Some(
        """SELECT CAST(sum(CAST(event_id AS DECIMAL(28,4))) AS DOUBLE) AS sum_event_id,
          |       CAST(sum(CAST(user_id AS DECIMAL(28,4))) AS DOUBLE) AS sum_user_id,
          |       CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
          |FROM events""".stripMargin)),

    // Engine extension: multi-level aggregation via ROLLUP (grouping
    // sets) — per (returnflag, linestatus), per returnflag, and grand
    // total in one pass, decimal-exact.
    Q("q_x2_rollup", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty")),
      oracle = Some(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |       CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),

    // Engine extension: full CUBE grouping sets — all four
    // (returnflag × linestatus) marginal combinations (the rollup's
    // lattice-complete twin). Pre-aggregated to the (flag, status) base
    // cells FIRST — one partially-aggregated data shuffle — then the
    // CUBE lattice expands the ~6-ROW cell table, not the fact table:
    // the naive `.cube` Expand×4 quadruples the pre-shuffle row stream
    // and went 12.4× at 10× on the r6 driver box (spill); the lattice
    // over additive partials (counts sum; exact decimal sums sum) is
    // immune at any scale.
    Q("q_x3_cube", (s, dir) => {
      val cells = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("__n"),
          sum(col("l_quantity").cast("decimal(28,2)")).as("__q"))
      cells.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("__n")).as("n"),
          sum(col("__q")).cast("double").as("sum_qty"))
    },
      oracle = Some(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |       CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin)),

    // Engine extension (§2.3 note): as-of join — each click event picks
    // up the most recent prior per-second view average of the same user.
    // Composed as union + keyed window (one shuffle, no join node).
    Q("q_x1_asof_join", (s, dir) => {
      val e = Tables.events(s, dir)
      val sec = TimeOps.epochSeconds(col("ts")).as("sec")
      val views = e.filter(col("event_type") === "view")
        .groupBy(col("user_id"), sec)
        .agg(round(avg(col("value")), 6).as("v"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), sec)
      AsOfJoin.priorJoin(clicks, views, Seq("user_id"), "sec", Seq("v"))
        .select(col("event_id"), col("user_id"), col("sec"), col("asof.v").as("asof_v"))
    },
      oracle = Some(
        """WITH r AS (
          |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
          |         round(avg(value), 6) AS v
          |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
          |l AS (
          |  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
          |  FROM events WHERE event_type = 'click')
          |SELECT l.event_id, l.user_id, l.sec, r.v AS asof_v
          |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.sec >= r.sec""".stripMargin)),

    // §2.6 engine extension: deterministic top-k per group via ranking
    // window (decimal-exact revenue so ordering is reproducible).
    Q("q_w1_topk", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_partkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(28,4)")).as("rev"))
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("rev").desc, col("l_partkey"))
      rev.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("l_returnflag"), col("l_partkey"), col("rank"),
          col("rev").cast("double").as("revenue"))
    },
      oracle = Some(
        """WITH rev AS (
          |  SELECT l_returnflag, l_partkey,
          |         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS rev
          |  FROM lineitem GROUP BY 1, 2),
          |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
          |        ORDER BY rev DESC, l_partkey) AS rank FROM rev)
          |SELECT l_returnflag, l_partkey, rank, CAST(rev AS DOUBLE) AS revenue
          |FROM r WHERE rank <= 3""".stripMargin)),

    // §2.4 extension: exact interpolated percentiles per group (quality
    // thresholds for filtering pipelines). Exact `percentile` buffers
    // each group's values — the small-group stats path; at corpus scale
    // use `approx_percentile` (t-digest sketch, mergeable) and accept
    // the approximation.
    Q("q_a6_percentile", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"),
          round(expr("percentile(value, 0.99)"), 6).as("p99"),
          count(lit(1)).as("n")),
      oracle = Some(
        """SELECT event_type,
          |       round(quantile_cont(value, 0.5), 6) AS p50,
          |       round(quantile_cont(value, 0.9), 6) AS p90,
          |       round(quantile_cont(value, 0.99), 6) AS p99,
          |       count(*) AS n
          |FROM events GROUP BY 1""".stripMargin)),

    // Engine extension (builder checklist: range join): clicks joined to
    // ±5-minute windows around the same user's purchases — binned
    // interval join (equi-join on (user, bin) + exact containment), the
    // scale-shaped form of a BETWEEN join Spark would otherwise plan as
    // a nested loop.
    Q("q_x4_range_join", (s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          TimeOps.epochSeconds(col("ts")).as("sec"), col("event_type"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("sec"))
      val windows = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          (col("sec") - 300).as("lo"), (col("sec") + 300).as("hi"))
      RangeJoin.pointInInterval(clicks, "sec", windows, "lo", "hi",
          keys = Seq("user_id"), binSeconds = 600L)
        .select(col("click_id"), col("purchase_id"), col("user_id"))
    },
      oracle = Some(
        """WITH e AS (
          |  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_type
          |  FROM events)
          |SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
          |FROM e c JOIN e p
          |  ON c.user_id = p.user_id
          | AND c.event_type = 'click' AND p.event_type = 'purchase'
          | AND c.sec BETWEEN p.sec - 300 AND p.sec + 300""".stripMargin)),

    // §2.5 extension: centered rolling statistics over a resampled
    // series — moving mean and lag-delta, GLOBAL order with NO
    // single-partition window: ChunkedWindow partitions by a coarse
    // day-chunk and carries one boundary row per direction between
    // neighbor chunks, so the bounded frames see exactly the rows the
    // global sort would have given them.
    Q("q_w3_rolling", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val series = Tables.events(s, dir)
        .filter(col("event_type") === "view")
        .groupBy(bucket10(col("ts")))
        .agg(round(avg(col("value")), 6).as("v"))
      val chunked = ops.ChunkedWindow.withCarries(
        series, "bucket_start", chunkSeconds = 86400L, before = 1, after = 1)
      val byTime = Window.partitionBy(ops.ChunkedWindow.chunk).orderBy("bucket_start")
      val win3 = byTime.rowsBetween(-1, 1)
      ops.ChunkedWindow.finish(
        chunked.select(
          col(ops.ChunkedWindow.chunk), col(ops.ChunkedWindow.carry),
          col("bucket_start"),
          round(avg(col("v")).over(win3), 6).as("smooth3"),
          round(col("v") - lag(col("v"), 1).over(byTime), 6).as("delta"),
          count(lit(1)).over(win3).cast("long").as("support")))
    },
      oracle = Some(
        """WITH s AS (
          |  SELECT CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS bucket_start,
          |         round(avg(value), 6) AS v
          |  FROM events WHERE event_type = 'view' GROUP BY 1)
          |SELECT bucket_start,
          |  round(avg(v) OVER (ORDER BY bucket_start
          |    ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING), 6) AS smooth3,
          |  round(v - lag(v) OVER (ORDER BY bucket_start), 6) AS delta,
          |  count(*) OVER (ORDER BY bucket_start
          |    ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS support
          |FROM s""".stripMargin)),

    // §2.5 KEYED rolling statistics — the form a real caller uses first:
    // one window partitioning per series key (event_type), so the sort
    // is per-partition and the plan has NO single-partition WindowExec.
    // q_w3_rolling above stays as the tiny bounded global example.
    Q("q_w4_rolling_keyed", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val series = Tables.events(s, dir)
        .groupBy(col("event_type"), bucket10(col("ts")))
        .agg(round(avg(col("value")), 6).as("v"))
      val byKey = Window.partitionBy("event_type").orderBy("bucket_start")
      val win3 = byKey.rowsBetween(-1, 1)
      series.select(
        col("event_type"),
        col("bucket_start"),
        round(avg(col("v")).over(win3), 6).as("smooth3"),
        round(col("v") - lag(col("v"), 1).over(byKey), 6).as("delta"),
        count(lit(1)).over(win3).cast("long").as("support"))
    },
      oracle = Some(
        """WITH s AS (
          |  SELECT event_type, CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS bucket_start,
          |         round(avg(value), 6) AS v
          |  FROM events GROUP BY 1, 2)
          |SELECT event_type, bucket_start,
          |  round(avg(v) OVER (PARTITION BY event_type ORDER BY bucket_start
          |    ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING), 6) AS smooth3,
          |  round(v - lag(v) OVER (PARTITION BY event_type ORDER BY bucket_start), 6) AS delta,
          |  count(*) OVER (PARTITION BY event_type ORDER BY bucket_start
          |    ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS support
          |FROM s""".stripMargin)),

    // §2.7: EXCEPT / anti-join — distinct users that clicked but never
    // purchased, both as the set operator and its anti-join plan.
    Q("q_u2_except", (s, dir) => {
      val e = Tables.events(s, dir)
      val clickers = e.filter(col("event_type") === "click").select("user_id")
      val buyers = e.filter(col("event_type") === "purchase").select("user_id")
      clickers.except(buyers)
    },
      oracle = Some(
        """SELECT user_id FROM events WHERE event_type = 'click'
          |EXCEPT
          |SELECT user_id FROM events WHERE event_type = 'purchase'""".stripMargin)),

    // §2.7: INTERSECT — users present in both behaviors.
    Q("q_u3_intersect", (s, dir) => {
      val e = Tables.events(s, dir)
      e.filter(col("event_type") === "click").select("user_id")
        .intersect(e.filter(col("event_type") === "purchase").select("user_id"))
    },
      oracle = Some(
        """SELECT user_id FROM events WHERE event_type = 'click'
          |INTERSECT
          |SELECT user_id FROM events WHERE event_type = 'purchase'""".stripMargin)),

    // §2.9 extension: long → wide pivot with a pinned column set (the
    // scalable form: explicit values make the pivot one partial-agg
    // shuffle; value discovery would add a distinct pass).
    Q("q_r6_pivot", (s, dir) =>
      Tables.events(s, dir)
        .withColumn("day", (TimeOps.epochSeconds(col("ts")) / 86400)
          .cast("long"))
        .groupBy(col("day"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(round(sum(col("value")), 4)),
      oracle = Some(
        """SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day,
          |  round(sum(CASE WHEN event_type = 'click' THEN value END), 4) AS click,
          |  round(sum(CASE WHEN event_type = 'view' THEN value END), 4) AS view,
          |  round(sum(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase,
          |  round(sum(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup,
          |  round(sum(CASE WHEN event_type = 'error' THEN value END), 4) AS error
          |FROM events GROUP BY 1""".stripMargin)),

    // §2.9 extension: linear interpolation over the densified grid —
    // pandas interpolate(method='linear') on the reference's dense cube
    // shape; gaps fill proportionally, edges stay null. Global series,
    // chunked execution: interpolateLinearChunked keeps every
    // data-sized window keyed by day-chunk and resolves cross-chunk
    // gaps via a one-row-per-chunk summary (bit-identical arithmetic).
    Q("q_r5_interpolate", (s, dir) => {
      val b = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(bucket10(col("ts")))
        .agg(round(avg(col("value")), 6).as("avg_value"))
      val dense = Resample.densify(b, "bucket_start", 600)
      Resample.interpolateLinearChunked(dense, "bucket_start", "avg_value",
          chunkSeconds = 86400L)
        .select(col("bucket_start"), round(col("avg_value"), 6).as("v"))
    },
      oracle = Some(
        """WITH b AS (
          |  SELECT CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS bucket_start,
          |         round(avg(value), 6) AS avg_value
          |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
          |mm AS (SELECT min(bucket_start) AS mn, max(bucket_start) AS mx FROM b),
          |g AS (SELECT unnest(generate_series(mn, mx, 600)) AS bucket_start FROM mm),
          |d AS (SELECT g.bucket_start, b.avg_value
          |      FROM g LEFT JOIN b USING (bucket_start)),
          |w AS (
          |  SELECT bucket_start, avg_value,
          |    last_value(avg_value IGNORE NULLS) OVER
          |      (ORDER BY bucket_start ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
          |    last_value(CASE WHEN avg_value IS NOT NULL THEN bucket_start END IGNORE NULLS) OVER
          |      (ORDER BY bucket_start ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
          |    first_value(avg_value IGNORE NULLS) OVER
          |      (ORDER BY bucket_start ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
          |    first_value(CASE WHEN avg_value IS NOT NULL THEN bucket_start END IGNORE NULLS) OVER
          |      (ORDER BY bucket_start ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
          |  FROM d)
          |SELECT bucket_start,
          |       round(CASE WHEN avg_value IS NOT NULL THEN avg_value
          |             ELSE pv + (nv - pv) * (bucket_start - pt) / (nt - pt) END, 6) AS v
          |FROM w""".stripMargin)),

    // §2.9 KEYED interpolation — densify + linear-fill per series key
    // (event_type), one keyed window partitioning end-to-end; the
    // operators' `keys` parameter is the scale path (q_r5_interpolate
    // stays as the single-series global example).
    Q("q_r5b_interpolate_keyed", (s, dir) => {
      val b = Tables.events(s, dir)
        .filter(col("event_type").isin("purchase", "signup", "error"))
        .groupBy(col("event_type"), bucket10(col("ts")))
        .agg(round(avg(col("value")), 6).as("avg_value"))
      val dense = Resample.densify(b, "bucket_start", 600, keys = Seq("event_type"))
      // floor(x*1e6+0.5)/1e6 instead of round(): interpolated doubles can
      // land exactly on the .5 ulp boundary where Spark's BigDecimal
      // HALF_UP and DuckDB's round disagree; this formula is the same
      // double arithmetic in both engines.
      Resample.interpolateLinear(dense, "bucket_start", "avg_value",
          keys = Seq("event_type"))
        .select(col("event_type"), col("bucket_start"),
          (floor(col("avg_value") * 1e6 + 0.5) / 1e6).as("v"))
    },
      oracle = Some(
        """WITH b AS (
          |  SELECT event_type, CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS bucket_start,
          |         round(avg(value), 6) AS avg_value
          |  FROM events WHERE event_type IN ('purchase', 'signup', 'error')
          |  GROUP BY 1, 2),
          |mm AS (SELECT min(bucket_start) AS mn, max(bucket_start) AS mx FROM b),
          |k AS (SELECT DISTINCT event_type FROM b),
          |g AS (SELECT k.event_type, unnest(generate_series(mn, mx, 600)) AS bucket_start
          |      FROM mm, k),
          |d AS (SELECT g.event_type, g.bucket_start, b.avg_value
          |      FROM g LEFT JOIN b USING (event_type, bucket_start)),
          |w AS (
          |  SELECT event_type, bucket_start, avg_value,
          |    last_value(avg_value IGNORE NULLS) OVER (PARTITION BY event_type
          |      ORDER BY bucket_start ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
          |    last_value(CASE WHEN avg_value IS NOT NULL THEN bucket_start END IGNORE NULLS)
          |      OVER (PARTITION BY event_type
          |      ORDER BY bucket_start ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
          |    first_value(avg_value IGNORE NULLS) OVER (PARTITION BY event_type
          |      ORDER BY bucket_start ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
          |    first_value(CASE WHEN avg_value IS NOT NULL THEN bucket_start END IGNORE NULLS)
          |      OVER (PARTITION BY event_type
          |      ORDER BY bucket_start ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
          |  FROM d)
          |SELECT event_type, bucket_start,
          |       floor((CASE WHEN avg_value IS NOT NULL THEN avg_value
          |              ELSE pv + (nv - pv) * (bucket_start - pt) / (nt - pt) END)
          |             * 1000000 + 0.5) / 1000000 AS v
          |FROM w""".stripMargin)),

    // §2.8 extension: semi-structured extraction — events.props is a
    // JSON string; schema-on-read with from_json, typed field out.
    // Scale note: from_json is a per-row codegen'd projection; the
    // schema literal keeps Catalyst pruning the parse to one field.
    Q("q_f17_json_extract", (s, dir) =>
      Tables.events(s, dir)
        .select(
          col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.IntegerType))))
            .getField("k").as("k")),
      oracle = Some(
        """SELECT event_id,
          |       CAST(json_extract_string(props, '$.k') AS INT) AS k
          |FROM events""".stripMargin)),

    // §2.5 extension: gap-based sessionization — the canonical events
    // windowing pattern (new session when the user pauses > 30 min).
    // Two windows over ONE (user_id, ts) partitioning: lag to mark
    // session starts, running sum to number them; Catalyst reuses the
    // sort/shuffle across both, then one keyed aggregate.
    Q("q_w2_sessionize", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("sec")
      // distinct (user, second): duplicate seconds would make lag/frame
      // semantics tie-dependent (Spark's default RANGE frame vs ROWS)
      val e = Tables.events(s, dir)
        .select(col("user_id"), TimeOps.epochSeconds(col("ts")).as("sec"))
        .distinct()
      val marked = e.withColumn("new_session",
        when(col("sec") - lag(col("sec"), 1).over(byUser) > 1800, 1)
          .otherwise(lit(0)))
      marked.withColumn("session_id", sum(col("new_session")).over(byUser))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (max(col("sec")) - min(col("sec"))).as("duration_s"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          max(col("n_events")).as("max_events"),
          max(col("duration_s")).as("max_duration_s"))
    },
      oracle = Some(
        """WITH e AS (
          |  SELECT DISTINCT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
          |marked AS (
          |  SELECT user_id, sec,
          |         CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec) > 1800
          |              THEN 1 ELSE 0 END AS new_session
          |  FROM e),
          |numbered AS (
          |  SELECT user_id, sec,
          |         sum(new_session) OVER (PARTITION BY user_id ORDER BY sec
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          |  FROM marked),
          |sessions AS (
          |  SELECT user_id, session_id, count(*) AS n_events,
          |         max(sec) - min(sec) AS duration_s
          |  FROM numbered GROUP BY 1, 2)
          |SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_events,
          |       max(duration_s) AS max_duration_s
          |FROM sessions GROUP BY 1""".stripMargin)),

    // P5/P6: NA-drop in both modes over derived-nullable columns — the
    // reference's dropna(how='any'/'all') semantics as one scalar row.
    Q("q_p5_na_drop", (s, dir) => {
      val e = Tables.events(s, dir).select(
        col("event_id"),
        when(col("event_id") % 7 =!= 0, col("value")).as("a"),
        when(col("event_id") % 11 =!= 0, col("value")).as("b"))
      val anyCnt = e.na.drop("any", Seq("a", "b")).count()
      val allCnt = e.na.drop("all", Seq("a", "b")).count()
      val total = e.count()
      val sp = s
      import sp.implicits._
      Seq((anyCnt, allCnt, total)).toDF("kept_any", "kept_all", "total")
    },
      oracle = Some(
        """SELECT
          |  count(*) FILTER (
          |    WHERE (CASE WHEN event_id % 7 <> 0 THEN value END) IS NOT NULL
          |      AND (CASE WHEN event_id % 11 <> 0 THEN value END) IS NOT NULL)
          |    AS kept_any,
          |  count(*) FILTER (
          |    WHERE (CASE WHEN event_id % 7 <> 0 THEN value END) IS NOT NULL
          |       OR (CASE WHEN event_id % 11 <> 0 THEN value END) IS NOT NULL)
          |    AS kept_all,
          |  count(*) AS total
          |FROM events""".stripMargin)),

    // S7 end-to-end: the CSV sink under test — write through writeCsv
    // (ordered, single header file), read the artifact back. The write
    // during query construction is deliberate: the sink IS the operator,
    // and the DuckDB oracle reads the same files this query produced.
    Q("q_s7_csv_sink", (s, dir) => {
      val out = graft.io.VerifyFixtures.csvSinkDir
      val summary = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("flag"))
        .agg(sum(col("l_quantity").cast("decimal(28,2)")).as("qty"),
          count(lit(1)).as("n"))
      graft.io.Sinks.writeCsv(summary, out, orderCol = Some("flag"))
      s.read.option("header", "true").schema("flag STRING, qty DECIMAL(28,2), n LONG")
        .csv(out)
        .select(col("flag"), col("qty").cast("double").as("qty"), col("n"))
    },
      oracle = Some({
        val glob = s"${graft.io.VerifyFixtures.csvSinkDir}/*.csv"
        s"""SELECT flag, round(CAST(qty AS DOUBLE), 2) AS qty, CAST(n AS BIGINT) AS n
           |FROM read_csv('$glob', header=true, all_varchar=true)""".stripMargin
      }),
      fixture = true),

    // S2+A1 end-to-end through the REAL csv_expert parse path: commented
    // preamble (300 '#' lines — sniffHeader streams the whole preamble),
    // `;`-separated, corrupt lines, a 15-min outage; sniff header → comment
    // scan → lenient interval parse → 10-min resample. The DuckDB oracle
    // re-reads the same file with skip/all_varchar + TRY_CAST.
    Q("q_s2_cams_scan", (s, dir) => {
      val path = graft.io.VerifyFixtures.camsExpertFixture()
      pipelines.SolarPipelines.resampleRaw(s, path, minutes = 10)
        .select(
          TimeOps.epochSeconds(col("time")).as("bucket_start"),
          round(col("GHI"), 6).as("ghi"),
          round(col("DHI"), 6).as("dhi"),
          round(col("BNI"), 6).as("bni"),
          round(col("Cloud coverage"), 6).as("cloud_cover"))
    },
      oracle = Some({
        import graft.io.VerifyFixtures.{camsPath, camsPreambleLines}
        s"""WITH raw AS (
           |  SELECT * FROM read_csv('$camsPath', delim=';', header=false,
           |    skip=$camsPreambleLines, all_varchar=true,
           |    names=['op', 'ghi', 'dhi', 'bni', 'cc'])),
           |parsed AS (
           |  SELECT TRY_CAST(split_part(op, '/', 1) AS TIMESTAMP) AS t,
           |         TRY_CAST(ghi AS DOUBLE) AS ghi, TRY_CAST(dhi AS DOUBLE) AS dhi,
           |         TRY_CAST(bni AS DOUBLE) AS bni, TRY_CAST(cc AS DOUBLE) AS cc
           |  FROM raw
           |  WHERE TRY_CAST(split_part(op, '/', 1) AS TIMESTAMP) IS NOT NULL)
           |SELECT CAST(floor(epoch(t)/600)*600 AS BIGINT) AS bucket_start,
           |       round(avg(ghi), 6) AS ghi, round(avg(dhi), 6) AS dhi,
           |       round(avg(bni), 6) AS bni, round(avg(cc), 6) AS cloud_cover
           |FROM parsed GROUP BY 1""".stripMargin
      }),
      fixture = true),

    // Same pipeline with the source reached by short name
    // (spark.read.format("cams"), graft.io.CamsDataSource): the same CSV
    // file scan as q_s2_cams_scan, with the schema inferred from the
    // commented header, against the SAME DuckDB oracle.
    Q("q_s2b_cams_dsv2", (s, dir) => {
      val path = graft.io.VerifyFixtures.camsExpertFixture()
      val raw = s.read.format("cams").load(path)
      pipelines.SolarPipelines.resampleRawDf(raw, minutes = 10)
        .select(
          TimeOps.epochSeconds(col("time")).as("bucket_start"),
          round(col("GHI"), 6).as("ghi"),
          round(col("DHI"), 6).as("dhi"),
          round(col("BNI"), 6).as("bni"),
          round(col("Cloud coverage"), 6).as("cloud_cover"))
    },
      // identical oracle: the V2 source must agree with the csv path
      oracle = Some({
        import graft.io.VerifyFixtures.{camsPath, camsPreambleLines}
        s"""WITH raw AS (
           |  SELECT * FROM read_csv('$camsPath', delim=';', header=false,
           |    skip=$camsPreambleLines, all_varchar=true,
           |    names=['op', 'ghi', 'dhi', 'bni', 'cc'])),
           |parsed AS (
           |  SELECT TRY_CAST(split_part(op, '/', 1) AS TIMESTAMP) AS t,
           |         TRY_CAST(ghi AS DOUBLE) AS ghi, TRY_CAST(dhi AS DOUBLE) AS dhi,
           |         TRY_CAST(bni AS DOUBLE) AS bni, TRY_CAST(cc AS DOUBLE) AS cc
           |  FROM raw
           |  WHERE TRY_CAST(split_part(op, '/', 1) AS TIMESTAMP) IS NOT NULL)
           |SELECT CAST(floor(epoch(t)/600)*600 AS BIGINT) AS bucket_start,
           |       round(avg(ghi), 6) AS ghi, round(avg(dhi), 6) AS dhi,
           |       round(avg(bni), 6) AS bni, round(avg(cc), 6) AS cloud_cover
           |FROM parsed GROUP BY 1""".stripMargin
      }),
      fixture = true),

    // S5/F13/J2/P7/F5 end-to-end through the REAL compile path: glob scan
    // with filename provenance, canonical-key broadcast metadata join,
    // station exclusion, lenient time parse, local-time derivation.
    Q("q_s5_compile_cube", (s, dir) => {
      val (glob, locCsv) = graft.io.VerifyFixtures.compileFixture()
      val locations = s.read.option("header", "true")
        .schema(graft.model.Schemas.station).csv(locCsv)
      pipelines.SolarPipelines.compileCube(s, glob, locations)
        .select(col("station"), col("station_original"),
          TimeOps.epochSeconds(col("time_utc")).as("epoch_utc"),
          TimeOps.epochSeconds(col("time_local")).as("epoch_local"),
          round(col("GHI"), 6).as("ghi"),
          round(col("DHI"), 6).as("dhi"),
          round(col("DNI"), 6).as("dni"),
          col("latitude"), col("longitude"), col("elevation"))
    },
      oracle = Some({
        import graft.io.VerifyFixtures.{locationPath, processedGlob}
        val clean = (c: String) =>
          s"trim(regexp_replace(regexp_replace(lower(regexp_replace($c, '_', ' ', 'g')), " +
            s"'[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g'))"
        s"""WITH loc AS (
           |  SELECT station, latitude, longitude, elevation,
           |         CAST(replace(timezone, 'UTC', '') AS INT) AS utc_offset,
           |         ${clean("station")} AS station_key
           |  FROM read_csv('$locationPath', header=true)),
           |raw AS (
           |  SELECT *, regexp_extract(filename,
           |           'processed_10min_(.*?)_observed_cloud\\.csv', 1) AS station_raw
           |  FROM read_csv('$processedGlob', delim=',', header=false, skip=1,
           |    all_varchar=true, filename=true,
           |    names=['tcol', 'ghi', 'dhi', 'bni', 'cc'])),
           |parsed AS (
           |  SELECT TRY_CAST(tcol AS TIMESTAMP) AS t,
           |         TRY_CAST(ghi AS DOUBLE) AS ghi, TRY_CAST(dhi AS DOUBLE) AS dhi,
           |         TRY_CAST(bni AS DOUBLE) AS dni,
           |         ${clean("station_raw")} AS station_key
           |  FROM raw
           |  WHERE TRY_CAST(tcol AS TIMESTAMP) IS NOT NULL)
           |SELECT p.station_key AS station, l.station AS station_original,
           |       CAST(floor(epoch(p.t)) AS BIGINT) AS epoch_utc,
           |       CAST(floor(epoch(p.t)) AS BIGINT) + l.utc_offset * 3600 AS epoch_local,
           |       round(p.ghi, 6) AS ghi, round(p.dhi, 6) AS dhi, round(p.dni, 6) AS dni,
           |       l.latitude, l.longitude, l.elevation
           |FROM parsed p JOIN loc l USING (station_key)
           |WHERE p.station_key <> 'sleman'""".stripMargin
      }),
      fixture = true),

    // S8 end-to-end: the compiled cube through the BINARY NetCDF classic
    // writer and back through the format-spec reader — the .nc artifact
    // itself under the DuckDB gate (the oracle recomputes the cube from
    // the raw CSVs; the round-trip must reproduce it bit-for-bit).
    // S1 required-column validation under the gate: the good metadata
    // fixture passes, a malformed one (longitude missing) is rejected by
    // validateStations' require — the reference aborts the same way
    // (get-cams-solrad-ts.py:119-121). The oracle recomputes validity
    // and the missing set from the CSVs' own headers in DuckDB, so the
    // two engines agree on WHY, not just whether.
    Q("q_s1_validate", (s, dir) => {
      val (_, locCsv) = graft.io.VerifyFixtures.compileFixture()
      val badCsv = graft.io.VerifyFixtures.malformedLocationFixture()
      def check(name: String, path: String) = {
        val df = s.read.option("header", "true").csv(path)
        val ok = scala.util.Try(
          pipelines.SolarPipelines.validateStations(df)).isSuccess
        val missing = (graft.model.Schemas.requiredStationCols -- df.columns.toSet)
          .toSeq.sorted.mkString(",")
        s.range(1).select(lit(name).as("fixture"),
          lit(if (ok) 1L else 0L).as("valid"),
          lit(missing).as("missing_cols"))
      }
      check("good", locCsv).union(check("bad", badCsv))
    },
      // Same raw-CSV recomputation as q_s5_compile_cube, projected to the
      // columns that survive the NetCDF container (no station_original /
      // local time in the .nc).
      oracle = Some({
        import graft.io.VerifyFixtures.{locationPath, malformedLocationPath}
        s"""WITH req(c) AS (SELECT unnest(['elevation', 'latitude', 'longitude', 'station'])),
           |cols AS (
           |  SELECT 'good' AS fixture, column_name AS c
           |  FROM (DESCRIBE SELECT * FROM read_csv('$locationPath', header=true))
           |  UNION ALL
           |  SELECT 'bad', column_name
           |  FROM (DESCRIBE SELECT * FROM read_csv('$malformedLocationPath', header=true))),
           |fx(fixture) AS (SELECT unnest(['good', 'bad'])),
           |miss AS (
           |  SELECT f.fixture, r.c FROM fx f, req r
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM cols WHERE cols.fixture = f.fixture AND cols.c = r.c))
           |SELECT f.fixture,
           |       CAST(NOT EXISTS (SELECT 1 FROM miss
           |                        WHERE miss.fixture = f.fixture)
           |            AS BIGINT) AS valid,
           |       COALESCE((SELECT string_agg(c, ',' ORDER BY c)
           |                 FROM miss WHERE miss.fixture = f.fixture), '') AS missing_cols
           |FROM fx f""".stripMargin
      }),
      fixture = true),

    // R4 CF-attrs under the gate: the cube sink's JSON attribute sidecar
    // (compile-solrad.py:156-173's metadata re-expressed) written by the
    // REAL writeCube path and read back; the oracle pins every expected
    // attribute as a literal, so attr drift (not just malformed JSON)
    // fails the gate.
    Q("q_r4_cf_attrs", (s, dir) => {
      val (glob, locCsv) = graft.io.VerifyFixtures.compileFixture()
      val locations = s.read.option("header", "true")
        .schema(graft.model.Schemas.station).csv(locCsv)
      val cube = pipelines.SolarPipelines.compileCube(s, glob, locations)
      val out = s"${graft.io.VerifyFixtures.root}/cube_parquet"
      graft.io.Sinks.writeCube(cube, out)
      // underscore-prefixed files are invisible to Spark's file index
      // (metadata convention), so feed the sidecar's bytes through the
      // JSON reader as a one-element dataset instead of a path scan
      val json = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$out/_attributes.json")), "UTF-8")
      s.read.json(s.createDataset(Seq(json))(org.apache.spark.sql.Encoders.STRING))
    },
      oracle = Some(
        """SELECT 'CF-1.8' AS "Conventions", 'Wh/m^2' AS "DHI_units",
          |       'Wh/m^2' AS "DNI_units", 'Wh/m^2' AS "GHI_units",
          |       'proleptic_gregorian' AS calendar, 'timeSeries' AS "featureType",
          |       'timeseries_id' AS station_cf_role,
          |       'seconds since 1970-01-01' AS time_units""".stripMargin),
      fixture = true),

    Q("q_s8_netcdf_roundtrip", (s, dir) => {
      val (glob, locCsv) = graft.io.VerifyFixtures.compileFixture()
      val locations = s.read.option("header", "true")
        .schema(graft.model.Schemas.station).csv(locCsv)
      val cube = pipelines.SolarPipelines.compileCube(s, glob, locations)
      val nc = s"${graft.io.VerifyFixtures.root}/cube.nc"
      graft.io.Sinks.writeNetCdf(cube, nc)
      graft.io.Sinks.readNetCdfCube(s, nc)
        .select(col("station"), col("epoch_utc"),
          round(col("GHI"), 6).as("ghi"), round(col("DHI"), 6).as("dhi"),
          round(col("DNI"), 6).as("dni"),
          col("latitude"), col("longitude"), col("elevation"))
    },
      oracle = Some({
        import graft.io.VerifyFixtures.{locationPath, processedGlob}
        val clean = (c: String) =>
          s"trim(regexp_replace(regexp_replace(lower(regexp_replace($c, '_', ' ', 'g')), " +
            s"'[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g'))"
        s"""WITH loc AS (
           |  SELECT station, latitude, longitude, elevation,
           |         ${clean("station")} AS station_key
           |  FROM read_csv('$locationPath', header=true)),
           |raw AS (
           |  SELECT *, regexp_extract(filename,
           |           'processed_10min_(.*?)_observed_cloud\\.csv', 1) AS station_raw
           |  FROM read_csv('$processedGlob', delim=',', header=false, skip=1,
           |    all_varchar=true, filename=true,
           |    names=['tcol', 'ghi', 'dhi', 'bni', 'cc'])),
           |parsed AS (
           |  SELECT TRY_CAST(tcol AS TIMESTAMP) AS t,
           |         TRY_CAST(ghi AS DOUBLE) AS ghi, TRY_CAST(dhi AS DOUBLE) AS dhi,
           |         TRY_CAST(bni AS DOUBLE) AS dni,
           |         ${clean("station_raw")} AS station_key
           |  FROM raw
           |  WHERE TRY_CAST(tcol AS TIMESTAMP) IS NOT NULL)
           |SELECT p.station_key AS station,
           |       CAST(floor(epoch(p.t)) AS BIGINT) AS epoch_utc,
           |       round(p.ghi, 6) AS ghi, round(p.dhi, 6) AS dhi, round(p.dni, 6) AS dni,
           |       l.latitude, l.longitude, l.elevation
           |FROM parsed p JOIN loc l USING (station_key)
           |WHERE p.station_key <> 'sleman'""".stripMargin
      }),
      fixture = true),

    // §3.2 end-to-end: the full compare pipeline (QC clean → unit convert
    // → rename → time join → bias → per-component linregress), driven
    // through graft.pipelines.SolarPipelines on series derived from the
    // events table (ground = click, model = view).
    Q("q_pipe_compare_stats", (s, dir) => {
      val ground = eventSeries(s, dir, "click", "a").select(
        col("bucket_start").as("Datetime (UTC)"),
        col("a").as("GHI"),
        round(col("a") / 2, 6).as("DHI"),
        round(col("a") * 2, 6).as("DNI"))
      val cams = eventSeries(s, dir, "view", "v").select(
        col("bucket_start").as("time"),
        col("v").as("GHI"),
        round(col("v") / 2, 6).as("DHI"),
        round(col("v") * 2, 6).as("BNI"))
      val cmp = pipelines.SolarPipelines.compareFrame(ground, cams)
      pipelines.SolarPipelines.compareStats(cmp)
        .select(col("component"), round(col("slope"), 6).as("slope"),
          round(col("intercept"), 4).as("intercept"), round(col("r2"), 6).as("r2"),
          col("n").cast("long").as("n"), round(col("mean_bias"), 4).as("mean_bias"))
    },
      oracle = Some(comparePipelineOracle)),

    // §3.2 AT SCALE: the reference's 29 sequential per-location pipelines
    // (`solrad-compare.py:195-206`) as ONE plan — both inputs carry a
    // station key, compareAllStations runs one co-keyed join + one
    // grouped multi-regression. This is the engine's core scale claim,
    // now driver-gated: DuckDB recomputes per (station, component).
    Q("q_pipe_compare_all", (s, dir) => {
      def series(tpe: String, alias: String) =
        Tables.events(s, dir)
          .filter(col("event_type") === tpe)
          .groupBy(concat(lit("st"), (col("user_id") % 3).cast("int")).as("station"),
            bucket10(col("ts")))
          .agg(round(avg(col("value")), 6).as(alias))
      val ground = series("click", "a").select(
        col("station"), col("bucket_start").as("Datetime (UTC)"),
        col("a").as("GHI"), round(col("a") / 2, 6).as("DHI"),
        round(col("a") * 2, 6).as("DNI"))
      val cams = series("view", "v").select(
        col("station"), col("bucket_start").as("time"),
        col("v").as("GHI"), round(col("v") / 2, 6).as("DHI"),
        round(col("v") * 2, 6).as("BNI"))
      pipelines.SolarPipelines.compareAllStations(ground, cams)
        .select(col("station"), col("component"), round(col("slope"), 6).as("slope"),
          round(col("intercept"), 4).as("intercept"), round(col("r2"), 6).as("r2"),
          col("n").cast("long").as("n"), round(col("mean_bias"), 4).as("mean_bias"))
    },
      oracle = Some(compareAllOracle)),

    // Scale utility under the gate: two-phase salted aggregation must be
    // EXACTLY equal to the plain groupBy (the oracle is the plain form).
    // Values go through decimal so both phases sum exactly; the avg is
    // derived from the exact sums with one double division on each side.
    Q("q_x5_salted_agg", (s, dir) => {
      val e = Tables.events(s, dir).withColumn("v", col("value").cast("decimal(28,6)"))
      Salting.saltedStats(e, Seq("event_type"), "v", col("event_id"), saltBuckets = 8)
        .select(col("event_type"),
          round(col("sum_v").cast("double"), 2).as("sum_value"),
          col("n_v").as("n"),
          round(col("sum_v").cast("double") / col("n_v"), 6).as("avg_value"))
    },
      oracle = Some(
        """SELECT event_type,
          |       round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 2) AS sum_value,
          |       count(value) AS n,
          |       round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(value), 6)
          |         AS avg_value
          |FROM events GROUP BY 1""".stripMargin)),

    // Scale utility under the gate: bucketed co-located join — both
    // sides written hash-bucketed on the join key, re-read from the
    // catalog, joined with ZERO Exchange (BucketingSpec asserts the
    // plan shape; this query gates the numbers). The bucketed write is
    // part of the query on purpose: it IS the operator under test.
    Q("q_x6_bucketed_join", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      graft.io.Bucketing.writeBucketed(o, "g_orders_bkt", Seq("o_orderkey"), 8)
      graft.io.Bucketing.writeBucketed(
        l.withColumnRenamed("l_orderkey", "o_orderkey"),
        "g_lineitem_bkt", Seq("o_orderkey"), 8)
      s.table("g_lineitem_bkt").join(s.table("g_orders_bkt"), "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
    },
      oracle = Some(
        """SELECT o_orderpriority, count(*) AS n,
          |       CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY 1""".stripMargin)),

    // Scale utility under the gate: salted JOIN (the AQE-unreachable
    // case — both sides shuffle, hot probe keys). (key, salt) shuffle
    // with the dim side replicated per salt must be EXACTLY the plain
    // join; the oracle is the plain form.
    Q("q_x7_salted_join", (s, dir) => {
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_linenumber"))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      Salting.saltedJoin(l, o, "l_orderkey", "o_orderkey",
          saltFrom = col("l_linenumber"), saltBuckets = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
    },
      // Identical to the q_x6 oracle on purpose: bucketed and salted are
      // two physical routes to the same logical join.
      oracle = Some(
        """SELECT o_orderpriority, count(*) AS n,
          |       CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY 1""".stripMargin)),

    // Macro multi-way join, the TPC-H Q3 shape (shipping priority):
    // selective dim filter broadcast onto the fact-fact join, one keyed
    // shuffle (lineitem ⋈ orders on orderkey), grouped revenue with
    // per-row 2-dp decimal rounding so aggregation order can't move the
    // gate, deterministic top-10 via TakeOrderedAndProject (no global
    // sort shuffle).
    Q("q_x8_tpch_q3", (s, dir) => {
      val cutoff = lit("1998-06-01").cast("timestamp")
      val c = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val o = t(s, dir, "orders").filter(col("o_orderdate") < cutoff)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate"), col("o_orderpriority"))
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
        .select(col("l_orderkey"),
          // 2-dp price x 2-dp (1-discount) is EXACTLY a 4-dp decimal:
          // rounding at 4 recovers it with zero tie risk (a 2-dp round
          // hits .xx5 ties, where Spark's shortest-string HALF_UP and
          // DuckDB's scaled-binary round disagree — measured at sf0.1)
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .cast("decimal(18,4)").as("rev"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(col("rev")).as("drev"))
        .select(col("l_orderkey"),
          TimeOps.epochSeconds(col("o_orderdate")).as("order_date"),
          col("o_orderpriority").as("priority"),
          col("drev").cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
      // TPC-H Q3/Q5 shapes: revenue terms round at 4 dp per ROW before the
      // decimal sum in both engines (2 dp would sit on the price×discount
      // product's own tie boundary), so float aggregation order is out of
      // the contract entirely.
      oracle = Some(
        """SELECT l_orderkey,
          |       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_date,
          |       o_orderpriority AS priority,
          |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount), 4)
          |         AS DECIMAL(18,4))) AS DOUBLE) AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |  AND o_orderdate < TIMESTAMP '1998-06-01'
          |  AND l_shipdate > TIMESTAMP '1998-06-01'
          |GROUP BY 1, 2, 3
          |ORDER BY revenue DESC, l_orderkey
          |LIMIT 10""".stripMargin)),

    // Macro 6-table join, the TPC-H Q5 shape (local-supplier revenue by
    // nation): region → nation → customer/supplier all broadcast; the
    // only data-bearing shuffle is lineitem ⋈ orders; the same-nation
    // predicate rides the broadcast supplier join.
    Q("q_x9_tpch_q5", (s, dir) => {
      val asiaN = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val c = t(s, dir, "customer")
        .join(broadcast(asiaN), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          // 2-dp price x 2-dp (1-discount) is EXACTLY a 4-dp decimal:
          // rounding at 4 recovers it with zero tie risk (a 2-dp round
          // hits .xx5 ties, where Spark's shortest-string HALF_UP and
          // DuckDB's scaled-binary round disagree — measured at sf0.1)
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .cast("decimal(18,4)").as("rev"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("rev")).as("drev"), count(lit(1)).as("n_items"))
        .select(col("n_name"), col("drev").cast("double").as("revenue"),
          col("n_items"))
    },
      oracle = Some(
        """SELECT n_name,
          |       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount), 4)
          |         AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
          |       count(*) AS n_items
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |WHERE r_name = 'ASIA'
          |  AND o_orderdate >= TIMESTAMP '1997-01-01'
          |  AND o_orderdate < TIMESTAMP '1998-01-01'
          |GROUP BY 1""".stripMargin)),

    // §2.4 sketch path: approx_percentile (mergeable quantile sketch —
    // the corpus-scale form of q_a6_percentile). The approximation can't
    // be hash-matched value-for-value, so the gate is rank-space, where
    // the sketch has a hard guarantee: the fraction of values at or
    // below each approximate quantile must sit within ±0.02 of the
    // target rank (accuracy 10000 => rank error 1e-4; the slack covers
    // sample granularity). The exact percentiles ride along hash-checked.
    Q("q_a6b_approx_percentile", (s, dir) => {
      val e = Tables.events(s, dir)
      val sketch = e.groupBy(col("event_type"))
        .agg(expr("approx_percentile(value, array(0.5, 0.9, 0.99), 10000)").as("ap"))
      e.join(broadcast(sketch), "event_type")
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.99)"), 6).as("p99"),
          avg(when(col("value") <= col("ap")(0), 1.0).otherwise(0.0)).as("f50"),
          avg(when(col("value") <= col("ap")(1), 1.0).otherwise(0.0)).as("f90"),
          avg(when(col("value") <= col("ap")(2), 1.0).otherwise(0.0)).as("f99"))
        .select(col("event_type"), col("p50"), col("p99"),
          col("f50").between(0.48, 0.52).cast("long").as("p50_ok"),
          col("f90").between(0.88, 0.92).cast("long").as("p90_ok"),
          col("f99").between(0.97, 1.0).cast("long").as("p99_ok"))
    },
      oracle = Some(
        """SELECT event_type,
          |       round(quantile_cont(value, 0.5), 6) AS p50,
          |       round(quantile_cont(value, 0.99), 6) AS p99,
          |       CAST(1 AS BIGINT) AS p50_ok, CAST(1 AS BIGINT) AS p90_ok, CAST(1 AS BIGINT) AS p99_ok
          |FROM events GROUP BY 1""".stripMargin)),

    // S6 under the gate: the distributed CDS download request matrix
    // (stations × sky types with the request parameters as columns,
    // `get-cams-solrad-ts.py:130-156`). The HTTP fetch itself stays a
    // pluggable edge (zero-egress environment, SURVEY §7.3) — the
    // request construction is the engine's part and DuckDB recomputes it.
    Q("q_s6_download_matrix", (s, dir) => {
      val (_, locCsv) = graft.io.VerifyFixtures.compileFixture()
      val locations = s.read.option("header", "true")
        .schema(graft.model.Schemas.station).csv(locCsv)
      pipelines.SolarPipelines.downloadMatrix(locations)
    },
      oracle = Some({
        val loc = graft.io.VerifyFixtures.locationPath
        s"""SELECT station, latitude, longitude, elevation, sky_type,
           |       '2024-01-01/2024-12-31' AS "date", '1minute' AS time_step,
           |       'csv_expert' AS "format",
           |       regexp_replace(station || '_' || sky_type, '[^\\w.-]', '_', 'g') AS file_tag
           |FROM read_csv('$loc', header=true)
           |CROSS JOIN (SELECT unnest(['clear', 'observed_cloud']) AS sky_type)""".stripMargin
      }),
      fixture = true),

    // P8 under the gate: empty-input tolerance — the full densify +
    // interpolate pipeline over a filter that matches nothing must plan
    // and return an empty frame (no crash, no null-sequence explosion);
    // Catalyst's PropagateEmptyRelation collapses most of the plan.
    Q("q_p8_empty_input", (s, dir) => {
      val b = Tables.events(s, dir)
        .filter(col("event_type") === "no_such_type")
        .groupBy(bucket10(col("ts")))
        .agg(round(avg(col("value")), 6).as("avg_value"))
      val dense = Resample.densify(b, "bucket_start", 600)
      Resample.interpolateLinearChunked(dense, "bucket_start", "avg_value",
          chunkSeconds = 86400L)
        .select(col("bucket_start"), col("avg_value"))
    },
      oracle = Some(
        """SELECT CAST(NULL AS BIGINT) AS bucket_start, CAST(NULL AS DOUBLE) AS avg_value
          |WHERE FALSE""".stripMargin)),

    // §2.10 driver-gated streaming: the file-source → tumbling-mean
    // stream run to completion with Trigger.AvailableNow over the same
    // parquet the batch queries read. Complete-mode memory sink so every
    // window flushes at end-of-stream (the memory table holds only the
    // bucketed aggregates — the sink is the verification edge; the
    // append+watermark production path is spec-gated in
    // streaming/StreamResampleSpec). The streamed answer must equal the
    // batch groupBy bit-for-bit, which the DuckDB oracle pins.
    Q("q_st1_stream_resample", streamQ("events")((s, dir) => {
      val events = streamTable(s, dir, "events")
      val agg = graft.streaming.StreamResample.tumblingMean(
        events, "ts", 10, Seq("value"), extraKeys = Seq("event_type"))
      runToMemory(s, agg, "g_st1", "complete").select(
        TimeOps.epochSeconds(col("time")).as("bucket_start"),
        col("event_type"),
        round(col("value"), 6).as("avg_value"),
        col("n_rows").cast("long").as("n"))
    }),
      // The streamed tumbling mean must equal the batch aggregation.
      oracle = Some(
        """SELECT CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS bucket_start, event_type,
          |       round(avg(value), 6) AS avg_value, count(*) AS n
          |FROM events GROUP BY 1, 2""".stripMargin)),

    // §2.10 driver-gated APPEND-mode watermark semantics — the
    // production path q_st1's complete-mode gate doesn't exercise: a
    // window row is emitted only once the watermark (max event time −
    // delay) passes its end, so the emitted set is the batch resample
    // FILTERED to finalized windows — which is exactly what the oracle
    // pins. One AvailableNow batch ingests everything (no input row is
    // late vs the initial watermark of 0), then the trailing no-data
    // micro-batch advances the watermark and flushes finalized windows;
    // unfinalized tail windows stay in state and are never emitted.
    // The 500 ms delay fraction keeps the watermark off the
    // second-aligned window-end lattice, so the <=-vs-< eviction
    // boundary can never bite regardless of the fixture's max(ts).
    Q("q_st10_stream_late", streamQ("events")((s, dir) => {
      val events = streamTable(s, dir, "events")
      val agg = graft.streaming.StreamResample.tumblingMean(
        events, "ts", 10, Seq("value"), watermark = "7200500 milliseconds",
        extraKeys = Seq("event_type"))
      runToMemory(s, agg, "g_st10", "append").select(
        TimeOps.epochSeconds(col("time")).as("bucket_start"),
        col("event_type"),
        round(col("value"), 6).as("avg_value"),
        col("n_rows").cast("long").as("n"))
    }),
      // Append-mode emission = the same resample restricted to windows
      // whose end precedes the final watermark (max event time, floored
      // to ms as Spark's event-time stats do, minus the 7200500 ms delay).
      oracle = Some(
        """WITH m AS (SELECT epoch_ms(max(ts)) AS mxms FROM events),
          |w AS (
          |  SELECT CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS bucket_start,
          |         event_type,
          |         round(avg(value), 6) AS avg_value, count(*) AS n
          |  FROM events GROUP BY 1, 2)
          |SELECT w.bucket_start, w.event_type, w.avg_value, w.n
          |FROM w, m
          |WHERE (w.bucket_start + 600) * 1000 <= m.mxms - 7200500""".stripMargin)),

    // §2.10 driver-gated streaming dedup: first-seen fingerprints over a
    // document stream (append mode; state = 8-byte fingerprints only).
    // Projecting JUST the fingerprint keeps the emitted set independent
    // of arrival order, so the batch DISTINCT oracle pins it exactly.
    Q("q_st2_stream_dedup", streamQ("documents")((s, dir) => {
      val docs = streamTable(s, dir, "documents")
      val fp = docs.select(substring(md5(col("text")), 1, 16).as("fp"))
        .dropDuplicates("fp")
      runToMemory(s, fp, "g_st2", "append")
    }),
      // First-seen streaming dedup emits exactly the distinct fingerprints.
      oracle = Some(
        "SELECT DISTINCT substring(md5(text), 1, 16) AS fp FROM documents")),

    // §2.10 driver-gated custom state: the flatMapGroupsWithState
    // ingestion tracker run to completion. Input times are truncated to
    // whole seconds so the state's millisecond arithmetic is exactly
    // reproducible in epoch-seconds SQL; a single AvailableNow batch
    // (one source file, default maxFilesPerTrigger) makes the per-group
    // fold order the tracker's own within-batch sort.
    Q("q_st3_stream_tracker", streamQ("events")((s, dir) => {
      val sp = s
      import sp.implicits._
      val events = streamTable(s, dir, "events")
      val obs = events.select(
          col("user_id").cast("string").as("station"),
          date_trunc("second", col("ts")).as("time"))
        .as[graft.streaming.StatefulTracker.Obs]
      val tracked = graft.streaming.StatefulTracker.track(obs).toDF()
      runToMemory(s, tracked, "g_st3", "append").select(
        col("station"),
        col("n"),
        TimeOps.epochSeconds(col("last")).as("last_sec"),
        (col("maxGapMillis") / 1000).cast("long").as("max_gap_s"))
    }),
      // The tracker's final state per key == the batch count/max/max-gap.
      oracle = Some(
        """WITH o AS (
          |  SELECT CAST(user_id AS VARCHAR) AS station,
          |         date_trunc('second', ts) AS t
          |  FROM events),
          |g AS (
          |  SELECT station, t,
          |         epoch(t) - epoch(lag(t) OVER (PARTITION BY station ORDER BY t)) AS gap
          |  FROM o)
          |SELECT station, count(*) AS n,
          |       CAST(floor(epoch(max(t))) AS BIGINT) AS last_sec,
          |       CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap_s
          |FROM g GROUP BY station""".stripMargin)),

    // §2.10 driver-gated file-sink persistence: the production
    // streaming path (parquet sink + checkpoint) run to completion and
    // READ BACK — output-commit correctness, not just in-memory state.
    // Output and checkpoint are scoped per (application, dir) and
    // cleared first, so the query is idempotent across driver runs and
    // runs on different dirs never share a sink.
    Q("q_st5_stream_file_sink", streamQ("documents")((s, dir) => {
      val (out, ckpt) = resetStreamDirs(s, "g_st5", dir)
      val docs = streamTable(s, dir, "documents")
      val fp = docs.select(col("doc_id"),
        substring(md5(col("text")), 1, 16).as("fp"))
      val q = fp.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      graft.io.Parquet.read(s, out)
    }),
      // The parquet-sink stream's committed output == the batch projection.
      oracle = Some(
        "SELECT doc_id, substring(md5(text), 1, 16) AS fp FROM documents")),

    // §2.10 driver-gated stream-STREAM interval join: clicks correlated
    // to same-user purchases within the following 10 minutes, both
    // sides live streams with watermarks (the state-eviction contract).
    // Batch-equality assumption (pinned): streamTable sets no
    // maxFilesPerTrigger, so AvailableNow delivers the whole fixture in
    // ONE micro-batch and the 30-minute watermark never advances past
    // unprocessed rows — the emitted set then equals the batch interval
    // join the oracle runs. Splitting ingestion into multiple batches
    // (e.g. adding maxFilesPerTrigger) would let the watermark drop
    // out-of-order rows and flake this gate; keep single-batch here.
    Q("q_st6_stream_join", streamQ("events")((s, dir) => {
      def ev() = streamTable(s, dir, "events")
      val clicks = ev().filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = ev().filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"))
      val joined = graft.streaming.StreamJoin.intervalJoin(
          clicks, purchases, Seq("user_id"), "click_ts", "purchase_ts",
          minLagSec = 0L, maxLagSec = 600L, watermarkDelay = "30 minutes")
        .select(col("click_id"), col("purchase_id"))
      runToMemory(s, joined, "g_st6", "append")
    }),
      // The stream-stream interval join's emitted set == the batch
      // interval join (AvailableNow delivers everything in-watermark).
      oracle = Some(
        """SELECT c.event_id AS click_id, p.event_id AS purchase_id
          |FROM events c JOIN events p
          |  ON c.user_id = p.user_id
          | AND c.event_type = 'click' AND p.event_type = 'purchase'
          | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 600 SECONDS""".stripMargin)),

    // §2.10 driver-gated LEFT OUTER stream-stream interval join — the
    // "which clicks never converted" funnel the inner q_st6 can't
    // answer. Matched pairs emit as they match (single AvailableNow
    // batch = the batch join); an unmatched click emits null-padded
    // only when the final watermark proves its 10-minute window closed
    // (state eviction = emission), which the oracle replays as an
    // epoch-microsecond inequality against max(ts) − the 30-minute
    // watermark delay. Clicks whose window is still open at end of
    // stream are withheld in state and never emit — also replayed.
    // The 500 ms delay fraction keeps the eviction boundary off any
    // second-aligned timestamp lattice (same defense as q_st10).
    Q("q_st11_stream_join_outer", streamQ("events")((s, dir) => {
      def ev() = streamTable(s, dir, "events")
      val clicks = ev().filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = ev().filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"))
      val joined = graft.streaming.StreamJoin.intervalJoinLeftOuter(
          clicks, purchases, Seq("user_id"), "click_ts", "purchase_ts",
          minLagSec = 0L, maxLagSec = 600L,
          watermarkDelay = "1800500 milliseconds")
        .select(col("click_id"), col("purchase_id"))
      runToMemory(s, joined, "g_st11", "append")
    }),
      // Left-outer interval join: matched pairs = the batch join;
      // null-padded rows only for clicks whose match window closed below
      // the final watermark. Spark's global watermark is the MINIMUM over
      // each input stream's own max event time minus the delay — NOT the
      // max over all events: a side whose events stop early holds the
      // global watermark back, and its own tail rows never see their
      // window close. The oracle must model the min-of-sides form or it
      // over-evicts exactly when the two sides' maxima diverge by more
      // than the join window (observed at sf0.001: the last click is
      // 3.9 h older than the last purchase).
      oracle = Some(
        """WITH m AS (SELECT least(
          |  (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'click'),
          |  (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'purchase')) AS mxms),
          |c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
          |      FROM events WHERE event_type = 'click'),
          |p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
          |      FROM events WHERE event_type = 'purchase'),
          |j AS (
          |  SELECT c.click_id, p.purchase_id, c.click_ts
          |  FROM c LEFT JOIN p ON p.user_id = c.user_id
          |    AND p.purchase_ts >= c.click_ts
          |    AND p.purchase_ts <= c.click_ts + INTERVAL 600 SECONDS)
          |SELECT click_id, purchase_id FROM j, m
          |WHERE purchase_id IS NOT NULL
          |   OR epoch_us(click_ts) + 600000000 < (mxms - 1800500) * 1000""".stripMargin)),

    // §2.10 driver-gated streaming NEAR-DUP ingest: the continuous form
    // of the incremental MinHash store — per micro-batch, probe the
    // persisted store, canonicalize within the batch, append survivors
    // to the store. With the sf fixture's single source file,
    // AvailableNow delivers ONE batch against an empty store, so the
    // emitted set must equal the one-shot batch pipeline
    // (minHashPairs -> keepCanonical) — the in-plan comparison
    // collapses to the booleans the oracle pins. (Multi-batch splits
    // would legitimately pick different cluster canonicals across
    // batches; the multi-batch ORDER semantics are spec-pinned in
    // StreamNearDupSpec instead.)
    Q("q_st8_stream_neardup", (s, dir) => {
      // store/out/ckpt scoped per (application, dir) so concurrent
      // sessions and the bench's base/scaled passes never clobber each
      // other; cleared up front so reruns stay idempotent
      val store = ExtQueries.scratchTable(s, "g_st8_store", dir)
      val (out, ckpt) = resetStreamDirs(s, "g_st8", dir)
      Seq(s"${store}_bands", s"${store}_sigs")
        .foreach(tb => s.sql(s"DROP TABLE IF EXISTS `$tb`"))
      // %5 subsample + base-replica pin: the gate compares TWO full
      // pair-detections + two cluster closures (stream path and batch
      // reference), so its cost is GATE cost, not operator cost — and
      // the stream==batch equivalence property does not strengthen
      // with corpus size. Pinning the compared set to the base replica
      // (`doc_id < KeyShift`, the fleet's fixed-set idiom; a no-op at
      // base SF) keeps the equivalence gate exact while the scaled
      // bench leg stops paying double pair-detection on 10× docs
      // (72 s of the r7 scaled leg was this). Ingest THROUGHPUT under
      // growth is measured where it belongs: the incremental-store
      // probes (q_ext_dedup_incremental_near) scale with the corpus.
      val gateSet = col("doc_id") % 5 === 0 &&
        col("doc_id") < graft.io.ScaleReplicate.KeyShift
      val docs = streamTable(s, dir, "documents").filter(gateSet)
      val q = graft.streaming.StreamNearDup.ingest(
        docs, "doc_id", "text", store, out, ckpt,
        minJaccard = 0.7, minEst = 0.5)
      q.awaitTermination()
      val streamKept = graft.io.Parquet.read(s, out).select(col("doc_id"))
      val static = Tables.documents(s, dir).filter(gateSet)
      val batchKept = graft.ext.Dedup.keepCanonical(static, "doc_id",
          graft.ext.Dedup.minHashPairs(static, "doc_id", "text", minJaccard = 0.7))
        .select(col("doc_id"))
      val merged = streamKept.withColumn("src", lit(1))
        .unionByName(batchKept.withColumn("src", lit(2)))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("src")).as("k"))
      // 0/1 BIGINT per the round-7 safe-alphabet law (raw BOOLEANs are
      // hash-render hazards at the driver's compare)
      val eq = merged.agg(
        (count(lit(1)) > 0).cast("long").as("any_rows"),
        min(col("k") === 2).cast("long").as("stream_matches_batch"))
      val grew = s.table(s"${store}_bands")
        .agg((count(lit(1)) > 0).cast("long").as("store_has_bands"))
      eq.crossJoin(grew)
    },
      // Native session_window == batch gap-sessionization. The boundary
      // rule, measured not assumed: Spark merges sessions whose intervals
      // TOUCH (next.start <= current.end, inclusive — MergingSessions
      // semantics), so an event at EXACTLY prev + gap stays in the SAME
      // session and the batch spelling is `diff > 1800`, not `>=`. The
      // `>=` spelling survived four rounds because no exact-1800 s pair
      // existed below sf0.1 (user 511's pair there is the witness) —
      // the q_st11 class again: distribution-dependent oracle bugs are
      // invisible at a single SF; the 3-SF sweep is the defense.
      // The streaming near-dup ingest's single-batch run must equal the
      // one-shot batch pipeline; the in-plan comparison collapses to
      // these pinned booleans (sketch values are not SQL-expressible).
      oracle = Some(
        """SELECT CAST(1 AS BIGINT) AS any_rows,
          |       CAST(1 AS BIGINT) AS stream_matches_batch,
          |       CAST(1 AS BIGINT) AS store_has_bands""".stripMargin)),

    // §2.10 driver-gated BUILT-IN session windows: Spark's native
    // session_window() grouping (dynamic-gap session aggregation in
    // the engine; cross-batch session merging is spec-pinned in
    // streaming/StreamSessionWindowSpec) run to completion — the
    // emitted (user, session start, count) set must equal the batch
    // gap-sessionization the oracle computes with lag + running sum.
    Q("q_st7_session_window", streamQ("events")((s, dir) => {
      val events = streamTable(s, dir, "events")
      // whole-second truncation (as q_st3): sub-second parts would make
      // the oracle's epoch-seconds gap arithmetic diverge at boundaries
      val agg = events
        .withColumn("ts", date_trunc("second", col("ts")))
        .withWatermark("ts", "1 hour")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
      runToMemory(s, agg, "g_st7", "complete").select(
        col("user_id"),
        TimeOps.epochSeconds(col("session_window.start")).as("session_start"),
        col("n_events"))
    }),
      oracle = Some(
        """WITH e AS (
          |  SELECT user_id,
          |         CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS sec
          |  FROM events),
          |m AS (
          |  SELECT user_id, sec,
          |         CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec)
          |                   > 1800
          |              THEN 1 ELSE 0 END AS brk
          |  FROM e),
          |s AS (
          |  SELECT user_id, sec,
          |         sum(brk) OVER (PARTITION BY user_id ORDER BY sec
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          |  FROM m)
          |SELECT user_id, min(sec) AS session_start, count(*) AS n_events
          |FROM s GROUP BY user_id, sid""".stripMargin)),

    // §2.10 driver-gated streaming gap detection: the live form of
    // q_ext_gaps — per-key (last-instant) state, a row emitted per
    // outage. Single AvailableNow batch + within-batch (ts, id) sort
    // makes the emitted set bit-identical to the batch operator, so
    // this query SHARES the q_ext_gaps oracle.
    Q("q_st9_stream_gaps", streamQ("events")((s, dir) => {
      val sp = s
      import sp.implicits._
      val events = streamTable(s, dir, "events")
        .withColumn("ts", unix_micros(col("ts")))
      val obs = events.select(
          col("event_type").as("key"),
          col("ts").as("tsUs"),
          col("event_id").as("id"))
        .as[graft.streaming.StreamGaps.GapObs]
      val out = graft.streaming.StreamGaps.gaps(obs, 3600L).toDF()
      runToMemory(s, out, "g_st9", "append").select(
        col("key").as("event_type"),
        col("gap_start_us"), col("gap_end_us"), col("gap_us"),
        expr("gap_us div 1000000").as("gap_seconds"))
    }),
      // The streamed gap events equal the batch operator's — one oracle,
      // two engines (see q_ext_gaps in ExtQueries for the SQL).
      oracle = Some(extOracle("q_ext_gaps"))),

    // §2.10 driver-gated STREAMING heavy hitters: the Misra–Gries
    // summary as streaming state — the same mergeable buffer the batch
    // aggregate uses, accumulated by the streaming engine in complete
    // mode. The contract (presence + undercount bound above N/k) holds
    // for ANY merge order, so the gate is robust to micro-batch
    // boundaries; with the fixture's single AvailableNow batch it
    // shares q_ext_heavy_hitters' oracle outright.
    Q("q_st12_stream_heavy_hitters", streamQ("documents")((s, dir) => {
      val k = 40
      val words = streamTable(s, dir, "documents")
        .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
        .filter(col("w") =!= "")
      val mg = udaf(graft.ext.HeavyHitters.MisraGries(k))
      val agg = words.agg(mg(col("w")).as("summary"))
      val summary = runToMemory(s, agg, "g_st12", "complete")
      val batchWords = Tables.documents(s, dir)
        .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
        .filter(col("w") =!= "")
      val exact = batchWords.groupBy(col("w").as("item"))
        .agg(count(lit(1)).as("exact_n"))
      val total = batchWords.agg(count(lit(1)).as("n_total"))
      exact.crossJoin(broadcast(total))
        .filter(col("exact_n") * k > col("n_total"))
        .crossJoin(broadcast(summary))
        .select(col("item"), col("exact_n"),
          col("summary").getItem(col("item")).isNotNull
            .cast("long").as("present"),
          (coalesce(col("summary").getItem(col("item")), lit(0L)).cast("double")
            .between(
              col("exact_n").cast("double") - col("n_total").cast("double") / k,
              col("exact_n").cast("double"))).cast("long").as("within_bound"))
    }),
      // The streamed MG summary satisfies the same order-independent
      // contract as the batch aggregate — one oracle, two engines.
      oracle = Some(extOracle("q_ext_heavy_hitters"))),

    // §2.10 driver-gated streaming approx-distinct per window: the
    // HLL++ sketch is the streaming-legal distinct (constant-size
    // register state per open window; exact DISTINCT would hoard every
    // id). The per-window estimate is arrival-order- and
    // batch-boundary-independent, so the gate hash-checks the batch
    // exact counts and pins the ±10% (≫3σ at rsd=0.02) contract.
    Q("q_st13_stream_distinct", streamQ("events")((s, dir) => {
      val events = streamTable(s, dir, "events")
      val agg = graft.streaming.StreamDistinct.windowedApproxDistinct(
        events, "ts", "user_id", Seq("event_type"), windowMinutes = 60)
      val est = runToMemory(s, agg, "g_st13", "complete").select(
        TimeOps.epochSeconds(col("window.start")).as("bucket_start"),
        col("event_type"), col("approx_distinct"))
      val exact = Tables.events(s, dir)
        .groupBy(window(col("ts"), "60 minutes"), col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
        .select(TimeOps.epochSeconds(col("window.start")).as("bucket_start"),
          col("event_type"), col("n_exact"))
      // Inner join: a window the stream dropped would shrink the row
      // count vs the oracle's full batch window set — a loud diff.
      exact.join(est, Seq("bucket_start", "event_type"))
        .select(col("bucket_start"), col("event_type"), col("n_exact"),
          (abs(col("approx_distinct") - col("n_exact")).cast("double") <=
            greatest(lit(0.1) * col("n_exact"), lit(4.0)))
            .cast("long").as("est_ok"))
    }),
      // Streaming approx-distinct: exact per-window counts hash-checked;
      // the sketch's accuracy contract asserted TRUE.
      oracle = Some(
        """SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS bucket_start,
          |       event_type, count(DISTINCT user_id) AS n_exact,
          |       CAST(1 AS BIGINT) AS est_ok
          |FROM events GROUP BY 1, 2""".stripMargin)),

    // §2.10 driver-gated stream-static enrichment: per-event broadcast
    // lookup against a static dimension, streamed to completion — must
    // equal the batch join row-for-row.
    Q("q_st4_stream_enrich", streamQ("events")((s, dir) => {
      val raw = streamTable(s, dir, "events")
      val stream = raw.select(col("event_id"),
        pmod(col("user_id"), lit(25)).as("n_nationkey"))
      val dim = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val enriched = graft.streaming.StreamEnrich.enrich(stream, dim, Seq("n_nationkey"))
        .select(col("event_id"), col("n_name"))
      runToMemory(s, enriched, "g_st4", "append")
    }),
      // Stream-static broadcast enrichment == the batch join.
      oracle = Some(
        """SELECT event_id, n_name
          |FROM events JOIN nation ON n_nationkey = user_id % 25""".stripMargin)),

    // §2.10 ext: stream-static anomaly scoring — each live row joins
    // the frozen batch climatology (broadcast per micro-batch; the
    // stream side never shuffles) and carries its deviation. The
    // monitoring loop the reference's batch compare feeds, made
    // continuous; equals the batch join row-for-row.
    Q("q_st14_stream_climatology", streamQ("events")((s, dir) => {
      val profile = graft.ops.Climatology.profile(
        Tables.events(s, dir), "event_type", "ts", "value")
        .select(col("event_type"), col("hour"), col("clim_mean"))
      val stream = streamTable(s, dir, "events")
        .filter(col("event_id") % 13 === 0)
        .select(col("event_type"), col("event_id"),
          hour(col("ts")).as("hour"), round(col("value"), 6).as("value_r"))
      val scored = graft.streaming.StreamEnrich
        .enrich(stream, profile, Seq("event_type", "hour"))
        .select(col("event_type"), col("event_id"), col("hour"),
          col("value_r"), col("clim_mean"),
          round(col("value_r") - col("clim_mean"), 6).as("anomaly"))
      runToMemory(s, scored, "g_st14", "append")
    }),
      // Stream-static anomaly scoring: live rows against the frozen batch
      // climatology — must equal the batch join row-for-row.
      oracle = Some(
        """WITH p AS (
          |  SELECT event_type, CAST(hour(ts) AS INT) AS hour,
          |         round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6)))
          |                 AS DOUBLE) / count(*), 6) AS clim_mean
          |  FROM events GROUP BY 1, 2),
          |e AS (
          |  SELECT event_type, event_id, CAST(hour(ts) AS INT) AS hour,
          |         round(CAST(value AS DOUBLE), 6) AS value_r
          |  FROM events WHERE event_id % 13 = 0)
          |SELECT e.event_type, e.event_id, e.hour, e.value_r, p.clim_mean,
          |       round(e.value_r - p.clim_mean, 6) AS anomaly
          |FROM e JOIN p USING (event_type, hour)""".stripMargin)),

    // §2.10 ext: STREAMING geo radius join — each live event (coords
    // integer-derived from its user) emits every station within
    // 150 km via the same grid-prefilter + exact-haversine pipeline as
    // the batch operator ([[graft.ops.Spatial.radiusJoinGrid]]); fully
    // stateless (map-side cell expand + stream-static join), so
    // append mode needs no watermark. Equals the batch join
    // row-for-row.
    Q("q_st15_stream_radius", streamQ("events")((s, dir) => {
      val probes = streamTable(s, dir, "events")
        .filter(col("event_id") % 29 === 0)
        .select(col("event_id").as("id"),
          (lit(-11.0) + (col("user_id") * 43 % 2200) / lit(100.0)).as("lat"),
          (lit(95.0) + (col("user_id") * 61 % 4600) / lit(100.0)).as("lon"))
      val stations = t(s, dir, "supplier")
        .select(col("s_suppkey").as("station_id"),
          (lit(-11.0) + (col("s_suppkey") * 37 % 2200) / lit(100.0)).as("lat"),
          (lit(95.0) + (col("s_suppkey") * 53 % 4600) / lit(100.0)).as("lon"))
      val within = graft.ops.Spatial.radiusJoinGrid(
        probes, "id", stations, "station_id", radiusKm = 150.0, cellDeg = 2.0)
      runToMemory(s, within, "g_st15", "append")
    }),
      // The streamed radius join equals the batch brute-force join: the
      // grid only prefilters, the rounded haversine decides.
      oracle = Some(
        """WITH pr AS (
          |  SELECT event_id AS id,
          |         -11.0 + (user_id * 43 % 2200) / 100.0 AS lat,
          |         95.0 + (user_id * 61 % 4600) / 100.0 AS lon
          |  FROM events WHERE event_id % 29 = 0),
          |st AS (
          |  SELECT s_suppkey AS station_id,
          |         -11.0 + (s_suppkey * 37 % 2200) / 100.0 AS s_lat,
          |         95.0 + (s_suppkey * 53 % 4600) / 100.0 AS s_lon
          |  FROM supplier),
          |d AS (
          |  SELECT id, station_id,
          |         round(12742.0176 * asin(sqrt(
          |           sin(radians(s_lat - lat) / 2.0) * sin(radians(s_lat - lat) / 2.0)
          |           + cos(radians(lat)) * cos(radians(s_lat))
          |             * sin(radians(s_lon - lon) / 2.0)
          |             * sin(radians(s_lon - lon) / 2.0))), 6) AS dist_km
          |  FROM pr, st)
          |SELECT id, station_id, dist_km FROM d WHERE dist_km <= 150.0""".stripMargin)),

    // §2.10 ext: STREAMING model-calibration monitoring — the batch
    // Reliability.curve (bin counts + decimal score sums) running
    // unchanged on a stream in complete mode: constant state (bins
    // rows), no watermark needed, and the final table equals the
    // batch curve bit-for-bit. Score is per-row md5 noise, label a
    // value threshold, so the whole gate is oracle-replayable.
    Q("q_st16_stream_reliability", streamQ("events")((s, dir) => {
      val stream = streamTable(s, dir, "events")
        .select(
          (conv(substring(md5(concat(lit("rel"),
            col("event_id").cast("string"))), 1, 3), 16, 10)
            .cast("long").cast("double") / 4096.0).as("score"),
          (col("value") >= 50.0).as("good"))
      val curve = graft.ext.Reliability.curve(stream, "score", "good",
        bins = 10)
      runToMemory(s, curve, "g_st16", "complete")
    }),
      // The streamed complete-mode reliability curve equals the batch
      // curve: same md5-noise score, same bins, same decimal sums.
      oracle = Some({
        def hx(i: Int) =
          s"(strpos('0123456789abcdef', substring(md5('rel' || CAST(event_id AS VARCHAR)), $i, 1)) - 1)"
        s"""WITH sc AS (
           |  SELECT CAST(${hx(1)} * 256 + ${hx(2)} * 16 + ${hx(3)}
           |           AS DOUBLE) / 4096.0 AS score,
           |         value >= 50.0 AS good
           |  FROM events),
           |j AS (
           |  SELECT CAST(least(CAST(floor(score * 10) AS INT), 9) AS BIGINT)
           |           AS bin,
           |         CAST(round(score, 6) AS DECIMAL(18,6)) AS s,
           |         CASE WHEN good THEN 1 ELSE 0 END AS pos
           |  FROM sc)
           |SELECT bin, count(*) AS n,
           |       round(CAST(sum(s) AS DOUBLE) / count(*), 6) AS mean_score,
           |       round(CAST(sum(pos) AS DOUBLE) / count(*), 6) AS pos_rate
           |FROM j GROUP BY 1""".stripMargin
      })),

    // §2.10 ext: STREAMING histogram-store ingest — each micro-batch
    // reduces to ≤ bins (day, bin) count rows appended to the store
    // (foreachBatch, O(batch) — the quantile twin of the streaming
    // MinHash-store ingest); because the merge is exact integer
    // addition, the stream-built store's range quantiles equal the
    // batch-built store's bit-for-bit, and the oracle replays them
    // from raw data.
    Q("q_st17_stream_quantile_ingest", (s, dir) => {
      val store = ExtQueries.scratchTable(s, "g_st17_hist", dir)
      val (_, ckpt) = resetStreamDirs(s, "g_st17", dir)
      s.sql(s"DROP TABLE IF EXISTS `$store`")
      val loc = new Path(
        s.conf.get("spark.sql.warehouse.dir"), store.toLowerCase)
      val wfs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (wfs.exists(loc)) wfs.delete(loc, true)
      val lo = 0.0; val hi = 500.0; val bins = 250
      val q = streamTable(s, dir, "events").writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.ext.HistogramStore.ingest(batch, "ts", "value", store,
            lo, hi, bins)
        }
        .start()
      q.awaitTermination()
      graft.ext.HistogramStore.rangeQuantiles(s, store,
        "2024-01-08", "2024-01-22", Seq(50, 90, 99), lo, hi, bins)
    },
      // The stream-ingested histogram store answers range quantiles
      // identically to binning the raw rows in SQL (exact integer merge).
      oracle = Some(
        """WITH raw AS (
          |  SELECT round(value, 6) AS v FROM events
          |  WHERE value IS NOT NULL
          |    AND CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-22'),
          |b AS (
          |  SELECT CAST(least(greatest(floor((v - 0.0) / 2.0), 0), 249)
          |    AS BIGINT) AS bin
          |  FROM raw),
          |agg AS (SELECT bin, count(*) AS cnt FROM b GROUP BY 1),
          |cum AS (
          |  SELECT a.bin, a.cnt, CAST(sum(b2.cnt) AS BIGINT) AS cum
          |  FROM agg a JOIN agg b2 ON b2.bin <= a.bin GROUP BY 1, 2),
          |nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM agg),
          |q AS (SELECT CAST(unnest([50, 90, 99]) AS INT) AS q_pct),
          |tg AS (
          |  SELECT q_pct, nn.n,
          |         (CAST(q_pct AS BIGINT) * nn.n + 99) // 100 AS t
          |  FROM q, nn)
          |SELECT tg.q_pct, tg.n,
          |       round(0.0 + 2.0 * c.bin
          |         + 2.0 * CAST(tg.t - (c.cum - c.cnt) AS DOUBLE) / c.cnt,
          |         6) AS est
          |FROM cum c JOIN tg ON c.cum >= tg.t AND c.cum - c.cnt < tg.t""".stripMargin)),

    // §2.10 ext: LIVE Population Stability Index — the stream side
    // aggregates its fixed-grid bin counts in complete mode (constant
    // bins-row state), then the PSI algebra runs between the streamed
    // counts and the frozen batch reference; equals the batch PSI
    // bit-for-bit because the bin counts are exact integers.
    Q("q_st18_stream_psi", streamQ("events")((s, dir) => {
      val lo = 0.0; val hi = 500.0; val bins = 10
      val binsStream = graft.ext.Drift.psiBinned(
        streamTable(s, dir, "events")
          .filter(col("event_type") === "click"),
        "value", lo, hi, bins, "ca")
      val aCounts = runToMemory(s, binsStream, "g_st18", "complete")
      val bCounts = graft.ext.Drift.psiBinned(
        Tables.events(s, dir).filter(col("event_type") === "view"),
        "value", lo, hi, bins, "cb")
      graft.ext.Drift.psiFromCounts(aCounts, bCounts, bins)
    }),
      // the live PSI equals the batch PSI (exact integer bin counts)
      oracle = Some(extOracle("q_ext_psi"))),

    // §2.10 ext: STREAMING erasure enforcement — live ingest filtered
    // against the (broadcast) tombstone set, stateless stream-static
    // left-outer + null filter, so deleted keys can never re-enter the
    // corpus between batch erasure runs. Audit equals the batch
    // anti-join exactly (count + decimal key-sum).
    Q("q_st19_stream_tombstone", streamQ("documents")((s, dir) => {
      val tomb = Tables.documents(s, dir)
        .filter(col("doc_id") % 37 === 0)
        .select(col("doc_id")).withColumn("__t", lit(1))
      val kept = streamTable(s, dir, "documents")
        .select(col("doc_id"))
        .join(broadcast(tomb), Seq("doc_id"), "left_outer")
        .filter(col("__t").isNull)
        .select(col("doc_id"))
      // BIGINT key sum (not DECIMAL(38,0)): decimal cells hash-rendered
      // engine-differently at the driver while value-exact locally (r6)
      runToMemory(s, kept, "g_st19", "append").agg(count(lit(1)).as("n_kept"),
        sum(col("doc_id")).as("key_sum"))
    }),
      // streamed tombstone filter equals the batch anti-join
      oracle = Some(
        """SELECT count(*) AS n_kept,
          |       CAST(sum(doc_id) AS BIGINT) AS key_sum
          |FROM documents WHERE doc_id % 37 <> 0""".stripMargin)),

    // §2.10 driver-gated MULTI-BATCH near-dup ORDER semantics — the one
    // streaming surface q_st8 leaves spec-only (its sf fixture is a
    // single file = a single AvailableNow batch). A two-file fixture
    // with maxFilesPerTrigger=1 forces TWO micro-batches; disjoint
    // per-class vocabularies make every near-dup decision deterministic
    // (exact duplicates always collide, cross-class never — see
    // VerifyFixtures.streamNearDupFixture), so the kept set is
    // oracle-EXACT: min id per duplicate class over both batches.
    // Gates, in one row: batch-2 dups of batch-1 keeps die via the
    // persisted STORE (no streaming state), batch order is respected,
    // and in-batch canonical selection keeps the min id.
    Q("q_st20_stream_neardup_order", (s, dir) => {
      val srcDir = graft.io.VerifyFixtures.streamNearDupFixture()
      val store = ExtQueries.scratchTable(s, "g_st20_store", dir)
      val (out, ckpt) = resetStreamDirs(s, "g_st20", dir)
      Seq(s"${store}_bands", s"${store}_sigs")
        .foreach(tb => s.sql(s"DROP TABLE IF EXISTS `$tb`"))
      val docs = s.readStream
        .schema("id STRING, text STRING")
        .option("header", "true")
        .option("maxFilesPerTrigger", 1)
        .csv(srcDir)
        .select(col("id").cast("long").as("doc_id"), col("text"))
      val q = graft.streaming.StreamNearDup.ingest(
        docs, "doc_id", "text", store, out, ckpt,
        minJaccard = 0.9, minEst = 0.9)
      q.awaitTermination()
      graft.io.Parquet.read(s, out)
        .select(col("doc_id"), substring(md5(col("text")), 1, 16).as("fp"))
    },
      // Multi-batch near-dup ingest over the disjoint-vocabulary duplicate
      // classes: batch-1 ids < batch-2 ids, so the greedy stream result
      // (store probe + per-batch min-id canonical) IS the global min id
      // per duplicate class. Classes are exact text groups by fixture
      // construction (distinct vocabularies; no cross-class overlap).
      oracle = Some({
        val d = graft.io.VerifyFixtures.streamNearDupDir
        s"""SELECT min(CAST(id AS BIGINT)) AS doc_id,
           |       substring(md5(text), 1, 16) AS fp
           |FROM read_csv('$d/*.csv', header=true, all_varchar=true)
           |GROUP BY text""".stripMargin
      }),
      fixture = true),

    // §2.10 ext: STREAMING ANN INGEST — live embeddings assigned to the
    // FROZEN coarse quantizer as they arrive: the assignment is a pure
    // per-row expression over the literal centroid table
    // (Similarity.nearestCellExpr — no join, no extra aggregation, so
    // the plan stays streaming-legal with ONE stateful per-cell
    // aggregate), which is how a real index ingests at 100 TB: cells
    // are a broadcast-sized design constant, vectors never shuffle
    // except to their cell's counter. The centroid collect is bounded
    // by the KeyShift pin (a design constant, not a data fraction).
    // Gate: streamed per-cell (count, id-sum) equals the batch
    // inverted-file build exactly.
    Q("q_st21_stream_ann_ingest", streamQ("embeddings")((s, dir) => {
      val cents = Tables.embeddings(s, dir)
        .filter(col("vec_id") % 50 === 7 &&
          col("vec_id") < graft.io.ScaleReplicate.KeyShift)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1).toSeq
      val counts = streamTable(s, dir, "embeddings")
        .select(col("vec_id"),
          graft.ext.Similarity.nearestCellExpr(
            col("embedding").cast("array<double>"), cents).as("cell"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sum(col("vec_id")).as("id_sum"))
      runToMemory(s, counts, "g_st21", "complete")
    }),
      // streamed per-cell ingest counters equal the batch inverted-file
      // build (same centroids, same rounded-cosine argmin, same
      // tie-break)
      oracle = Some(
        """WITH cent AS (
          |  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
          |  FROM embeddings WHERE vec_id % 50 = 7 AND vec_id < 1000000000),
          |corp AS (
          |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
          |r AS (
          |  SELECT vec_id, cent_id,
          |         row_number() OVER (PARTITION BY vec_id
          |           ORDER BY round(list_cosine_similarity(cv, cvec), 4) DESC,
          |                    cent_id) AS rk
          |  FROM corp, cent),
          |asg AS (SELECT vec_id, cent_id AS cell FROM r WHERE rk = 1)
          |SELECT CAST(cell AS BIGINT) AS cell, count(*) AS n,
          |       CAST(sum(vec_id) AS BIGINT) AS id_sum
          |FROM asg GROUP BY 1""".stripMargin)),

    // Streaming ε-DP counts: the live per-language count is ordinary
    // streaming state (one stateful agg, complete mode); the Laplace
    // release (Privacy.dpRelease — the SAME mechanism the batch
    // q_ext_dp_counts gates) is applied ONCE to the final state, never
    // per micro-batch (per-batch noise would compound the ε spend).
    // The gate pins streamed-state-then-release == the batch query.
    Q("q_st22_stream_dp_counts", streamQ("documents")((s, dir) => {
      val counts = streamTable(s, dir, "documents")
        .groupBy(col("lang")).agg(count(lit(1)).as("true_n"))
      graft.ext.Privacy.dpRelease(runToMemory(s, counts, "g_st22", "complete"),
        "lang", "true_n", eps = 0.5)
    }),
      // streamed count state + one DP release at emission equals the
      // batch mechanism exactly (same keyed hash draw, same epsilon)
      oracle = Some(extOracle("q_ext_dp_counts"))),

    // §2.10 driver-gated streaming record linkage: the Fellegi–Sunter
    // operator run continuously against a persisted block-keyed record
    // store (graft.streaming.StreamLinkage — the Linkage twin of the
    // q_st8 near-dup ingest; state lives in the bucketed store, not in
    // streaming state). With the fixture's single source file,
    // AvailableNow delivers ONE batch against an empty store, so the
    // emitted classified pairs must equal the batch
    // q_ext_record_linkage output exactly — the gate folds the set
    // comparison to safe-alphabet BIGINT cells (count + id/score sums
    // both sides, min over per-pair agreement). Multi-batch cross-store
    // semantics are spec-pinned in StreamLinkageSpec instead.
    Q("q_st23_stream_linkage", (s, dir) => {
      val store = ExtQueries.scratchTable(s, "g_st23_store", dir)
      val (out, ckpt) = resetStreamDirs(s, "g_st23", dir)
      s.sql(s"DROP TABLE IF EXISTS `$store`")
      val records = ExtQueries.linkageRecords(streamTable(s, dir, "customer"))
      val q = graft.streaming.StreamLinkage.ingest(
        records, "rid", Seq("nation", "block"), ExtQueries.linkageScores,
        matchMin = 10L, possibleMin = 1L, storeName = store,
        outPath = out, checkpoint = ckpt)
      q.awaitTermination()
      val streamed = graft.io.Parquet.read(s, out)
        .select(col("id_a"), col("id_b"), col("score"), col("verdict"))
      val batch = ExtQueries.queries("q_ext_record_linkage")(s, dir)
      val merged = streamed.withColumn("src", lit(1))
        .unionByName(batch.withColumn("src", lit(2)))
        .groupBy(col("id_a"), col("id_b"), col("score"), col("verdict"))
        .agg(countDistinct(col("src")).as("k"))
      merged.agg(
        count(lit(1)).as("n_pairs"),
        min((col("k") === 2).cast("long")).as("stream_matches_batch"),
        sum(col("score")).as("score_sum"),
        sum(when(col("verdict") === "match", 1L).otherwise(0L))
          .as("n_match"))
    },
      // single-batch stream linkage == the batch operator: the oracle
      // replays the batch linkage and folds the same BIGINT digest
      oracle = Some(
        (s"WITH lk AS (\n${extOracle("q_ext_record_linkage")}\n)" +
          """
            |SELECT count(*) AS n_pairs,
            |       CAST(1 AS BIGINT) AS stream_matches_batch,
            |       CAST(sum(score) AS BIGINT) AS score_sum,
            |       CAST(sum(CASE WHEN verdict = 'match' THEN 1 ELSE 0 END)
            |            AS BIGINT) AS n_match
            |FROM lk""".stripMargin))),
  )

  /** DuckDB rendition of the compare pipeline for one component. */
  private def comparePipelineOracle: String = {
    def comp(name: String, gExpr: String, cExpr: String) =
      s"""SELECT '$name' AS component,
         |  round(regr_slope($cExpr, $gExpr), 6) AS slope,
         |  round(regr_intercept($cExpr, $gExpr), 4) AS intercept,
         |  round(regr_r2($cExpr, $gExpr), 6) AS r2,
         |  CAST(regr_count($cExpr, $gExpr) AS BIGINT) AS n,
         |  round(avg(($cExpr) - ($gExpr)), 4) AS mean_bias
         |FROM j""".stripMargin
    """WITH g AS (
      |  SELECT CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS b, round(avg(value),6) AS a
      |  FROM events WHERE event_type = 'click' GROUP BY 1),
      |c AS (
      |  SELECT CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS b, round(avg(value),6) AS v
      |  FROM events WHERE event_type = 'view' GROUP BY 1),
      |j AS (
      |  SELECT g.a AS ghi_g, round(g.a/2,6) AS dhi_g, round(g.a*2,6) AS dni_g,
      |         c.v*60 AS ghi_c, round(c.v/2,6)*60 AS dhi_c, round(c.v*2,6)*60 AS dni_c
      |  FROM g JOIN c USING (b))
      |""".stripMargin +
      Seq(
        comp("GHI", "ghi_g", "ghi_c"),
        comp("DHI", "dhi_g", "dhi_c"),
        comp("DNI", "dni_g", "dni_c")).mkString("\nUNION ALL\n")
  }

  /** DuckDB rendition of the MULTI-station compare — same pipeline as
    * [[comparePipelineOracle]] but keyed by station throughout, one
    * GROUP BY station per component.
    */
  private def compareAllOracle: String = {
    def comp(name: String, gExpr: String, cExpr: String) =
      s"""SELECT station, '$name' AS component,
         |  round(regr_slope($cExpr, $gExpr), 6) AS slope,
         |  round(regr_intercept($cExpr, $gExpr), 4) AS intercept,
         |  round(regr_r2($cExpr, $gExpr), 6) AS r2,
         |  CAST(regr_count($cExpr, $gExpr) AS BIGINT) AS n,
         |  round(avg(($cExpr) - ($gExpr)), 4) AS mean_bias
         |FROM j GROUP BY station""".stripMargin
    """WITH g AS (
      |  SELECT 'st' || CAST(user_id % 3 AS INT) AS station,
      |         CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS b, round(avg(value),6) AS a
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |c AS (
      |  SELECT 'st' || CAST(user_id % 3 AS INT) AS station,
      |         CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS b, round(avg(value),6) AS v
      |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
      |j AS (
      |  SELECT station,
      |         g.a AS ghi_g, round(g.a/2,6) AS dhi_g, round(g.a*2,6) AS dni_g,
      |         c.v*60 AS ghi_c, round(c.v/2,6)*60 AS dhi_c, round(c.v*2,6)*60 AS dni_c
      |  FROM g JOIN c USING (station, b))
      |""".stripMargin +
      Seq(
        comp("GHI", "ghi_g", "ghi_c"),
        comp("DHI", "dhi_g", "dhi_c"),
        comp("DNI", "dni_g", "dni_c")).mkString("\nUNION ALL\n")
  }
}
