package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Agreement, Collocations, Concentration, Privacy, TextStats}
import graft.ops.{SeriesOps, Spatial, StatTests}

/** Statistical-diagnostics queries: two-sample tests, series
  * diagnostics, corpus concentration, collocations, spatial joins —
  * each a gated (query, DuckDB oracle) pair following the repo's
  * determinism contract (exact integer/decimal sufficient statistics;
  * identical final IEEE expression trees on both engines; 6-dp rounds).
  */
object StatQueries {

  /** Synthetic station/probe coordinates derived from integer keys —
    * exact integer modular arithmetic then one double division, so
    * both engines see bit-identical coordinates. Spread over an
    * Indonesia-sized box (the reference's station domain,
    * code/get-cams-solrad-ts.py:78-96).
    */
  private def withCoords(df: DataFrame, key: String, mLat: Int, mLon: Int): DataFrame =
    df.withColumn("lat", lit(-11.0) + (col(key) * mLat % 2200) / lit(100.0))
      .withColumn("lon", lit(95.0) + (col(key) * mLon % 4600) / lit(100.0))

  private def clickView(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).filter(col("event_type").isin("click", "view"))

  def queries: Map[String, Q.Plan] = all.map(q => q.name -> q.plan).toMap

  /** One [[Q]] per query: the statistical-diagnostics gates, each beside its DuckDB oracle. */
  private[graft] lazy val all: Seq[Q] = Seq(
    // Spearman rank correlation per key: monotone association between
    // value and a derived covariate; doubled-average-rank integers.
    Q("q_ext_spearman", (s, dir) =>
      StatTests.spearman(
        Tables.events(s, dir).select(col("event_type"), col("value"),
          (col("user_id") % 101).as("load")),
        "event_type", "value", "load"),
      oracle = Some(
        """WITH e AS (
          |  SELECT event_type AS k, value AS x, user_id % 101 AS y FROM events),
          |r AS (
          |  SELECT k,
          |         CAST(2 * rank() OVER (PARTITION BY k ORDER BY x)
          |           + count(*) OVER (PARTITION BY k, x) - 1 AS HUGEINT) AS rx,
          |         CAST(2 * rank() OVER (PARTITION BY k ORDER BY y)
          |           + count(*) OVER (PARTITION BY k, y) - 1 AS HUGEINT) AS ry
          |  FROM e),
          |a AS (
          |  SELECT k, count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
          |         sum(rx * ry) AS sxy, sum(rx * rx) AS sxx, sum(ry * ry) AS syy
          |  FROM r GROUP BY 1)
          |SELECT k AS event_type, n,
          |       round(CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          |             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
          |           AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          |             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0 THEN
          |         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          |         / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          |             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          |           * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          |             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END, 6) AS rho
          |FROM a""".stripMargin)),

    // Two-sample KS: click-vs-view value distributions. Distinct-value
    // scan via the chunked PrefixSum — no single-partition window.
    Q("q_ext_ks_test", (s, dir) =>
      StatTests.ksTwoSample(clickView(s, dir), "value",
        col("event_type") === "click"),
      oracle = Some(
        """WITH e AS (
          |  SELECT value AS v, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
          |  FROM events WHERE event_type IN ('click', 'view')),
          |pv AS (
          |  SELECT v, CAST(sum(a) AS BIGINT) AS ca,
          |         CAST(count(*) - sum(a) AS BIGINT) AS cb
          |  FROM e GROUP BY 1),
          |t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
          |             CAST(sum(cb) AS BIGINT) AS n_b FROM pv),
          |s AS (
          |  SELECT v, n_a, n_b,
          |         abs(CAST(sum(ca) OVER (ORDER BY v) AS DOUBLE) / n_a
          |           - CAST(sum(cb) OVER (ORDER BY v) AS DOUBLE) / n_b) AS diff
          |  FROM pv, t),
          |m AS (SELECT max(diff) AS d FROM s)
          |SELECT n_a, n_b, round(d, 6) AS ks_d, round(min(v), 6) AS d_at
          |FROM s, m WHERE s.diff = m.d GROUP BY 1, 2, 3""".stripMargin)),

    // Mann-Whitney U with tie-corrected normal approximation.
    Q("q_ext_mannwhitney", (s, dir) =>
      StatTests.mannWhitneyU(clickView(s, dir), "value",
        col("event_type") === "click"),
      oracle = Some(
        """WITH e AS (
          |  SELECT value AS v, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
          |  FROM events WHERE event_type IN ('click', 'view')),
          |pv AS (
          |  SELECT v, CAST(sum(a) AS BIGINT) AS ca,
          |         CAST(count(*) - sum(a) AS BIGINT) AS cb
          |  FROM e GROUP BY 1),
          |s AS (
          |  SELECT v, ca, cb, ca + cb AS t,
          |         CAST(coalesce(sum(ca + cb) OVER
          |           (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          |           0) AS BIGINT) AS p
          |  FROM pv),
          |a AS (
          |  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
          |         sum(CAST(ca AS HUGEINT) * (2 * p + t + 1)) AS r2a,
          |         sum(CAST(t AS HUGEINT) * t * t - t) AS ties
          |  FROM s),
          |u AS (
          |  SELECT n_a, n_b,
          |         CAST(r2a - CAST(n_a AS HUGEINT) * (n_a + 1) AS DOUBLE) / 2.0 AS u_a,
          |         ties, n_a + n_b AS n
          |  FROM a)
          |SELECT n_a, n_b, round(u_a, 6) AS u_a,
          |       round(CAST(n_a AS DOUBLE) * n_b - u_a, 6) AS u_b,
          |       round((u_a - CAST(n_a AS DOUBLE) * n_b / 2.0)
          |         / sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
          |           * (CAST(n + 1 AS DOUBLE)
          |             - CAST(ties AS DOUBLE)
          |               / (CAST(n AS DOUBLE) * (n - 1)))), 6) AS z
          |FROM u""".stripMargin)),

    // Welch's unequal-variance t for the same pair of groups.
    Q("q_ext_welch_t", (s, dir) =>
      StatTests.welchT(clickView(s, dir), "value",
        col("event_type") === "click"),
      oracle = Some(
        """WITH e AS (
          |  SELECT event_type = 'click' AS ga,
          |         CAST(round(value, 6) AS DECIMAL(18,6)) AS v
          |  FROM events WHERE event_type IN ('click', 'view')),
          |g AS (
          |  SELECT ga, count(*) AS n,
          |         CAST(CAST(sum(v) AS DECIMAL(38,12)) AS DOUBLE) AS s1,
          |         CAST(sum(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE) AS s2
          |  FROM e GROUP BY 1),
          |gg AS (
          |  SELECT ga, n, s1 / n AS m, (s2 - s1 * s1 / n) / (n - 1) AS s2v
          |  FROM g),
          |ab AS (
          |  SELECT a.n AS n_a, a.m AS m_a, a.s2v AS v_a,
          |         b.n AS n_b, b.m AS m_b, b.s2v AS v_b,
          |         a.s2v / a.n + b.s2v / b.n AS se2
          |  FROM gg a, gg b WHERE a.ga AND NOT b.ga)
          |SELECT n_a, n_b, round(m_a, 6) AS mean_a, round(m_b, 6) AS mean_b,
          |       round((m_a - m_b) / sqrt(se2), 6) AS t,
          |       round(se2 * se2
          |         / (v_a * v_a / (n_a * n_a * (n_a - 1))
          |           + v_b * v_b / (n_b * n_b * (n_b - 1))), 6) AS df
          |FROM ab""".stripMargin)),

    // Autocorrelation of hourly means at lags 1..6 — gap-correct
    // (equi-join on shifted hour keys, not positional lag).
    Q("q_ext_acf", (s, dir) =>
      SeriesOps.acf(Tables.events(s, dir), "event_type", "ts", "value", 6),
      oracle = Some(
        s"""WITH s AS ($HourlySeriesSql),
           |l AS (SELECT unnest(range(1, 7)) AS lag),
           |p AS (
           |  SELECT a.k, l.lag, a.m AS x, b.m AS y
           |  FROM s a, l, s b
           |  WHERE b.k = a.k AND a.h = b.h + l.lag * 3600),
           |r AS (${pearsonSql("k, lag")} FROM p GROUP BY 1, 2)
           |SELECT * FROM r""".stripMargin)),

    // Lagged cross-correlation click↔view with a best-lag marker.
    Q("q_ext_xcorr", (s, dir) =>
      SeriesOps.crossCorrelation(Tables.events(s, dir), "event_type", "ts",
        "value", "click", "view", 6),
      oracle = Some(
        s"""WITH s AS ($HourlySeriesSql),
           |l AS (SELECT unnest(range(-6, 7)) AS lag),
           |p AS (
           |  SELECT l.lag, a.m AS x, b.m AS y
           |  FROM s a, l, s b
           |  WHERE a.k = 'click' AND b.k = 'view' AND b.h = a.h + l.lag * 3600),
           |r AS (${pearsonSql("lag")} FROM p GROUP BY 1),
           |b AS (SELECT lag FROM r ORDER BY abs(r) DESC, lag LIMIT 1)
           |SELECT lag, n, r,
           |       CAST(lag = (SELECT lag FROM b) AS BIGINT) AS best FROM r""".stripMargin)),

    // CUSUM level-shift peak per key.
    Q("q_ext_cusum", (s, dir) =>
      SeriesOps.cusum(Tables.events(s, dir), "event_type", "ts", "event_id",
        "value"),
      oracle = Some(
        """WITH st AS (
          |  SELECT event_type AS k, ts, event_id,
          |         CAST(round(value, 6) AS DECIMAL(18,6)) AS v
          |  FROM events),
          |c AS (
          |  SELECT k, sum(v) OVER w AS cum, count(*) OVER w AS i
          |  FROM st
          |  WINDOW w AS (PARTITION BY k ORDER BY ts, event_id
          |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          |m AS (
          |  SELECT k, CAST(sum(v) AS DOUBLE) / count(*) AS mu, count(*) AS n
          |  FROM st GROUP BY 1),
          |d AS (
          |  SELECT c.k, n, mu,
          |         abs(CAST(cum AS DOUBLE) - CAST(i AS DOUBLE) * mu) AS abs_s, i
          |  FROM c JOIN m ON m.k = c.k),
          |p AS (SELECT k, max(abs_s) AS peak FROM d GROUP BY 1)
          |SELECT d.k AS event_type, n, round(mu, 6) AS mu,
          |       round(peak, 6) AS max_s, min(i) AS at_idx
          |FROM d JOIN p ON p.k = d.k AND d.abs_s = p.peak
          |GROUP BY 1, 2, 3, 4""".stripMargin)),

    // Truncated adjust-mode EWMA (α=0.3, 8 terms); sampled output.
    Q("q_ext_ewma", (s, dir) =>
      SeriesOps.ewmaTruncated(Tables.events(s, dir), "event_type", "ts",
          "event_id", "value", alphaTenths = 3, terms = 8)
        .filter(col("event_id") % 7 === 0),
      oracle = Some(ewmaOracle(3, 8))),

    // STL-lite trend/seasonal/remainder split; sampled output.
    Q("q_ext_stl", (s, dir) =>
      SeriesOps.stlLite(Tables.events(s, dir), "event_type", "ts", "event_id",
          "value", half = 12)
        .filter(col("event_id") % 11 === 0),
      oracle = Some(
        """WITH e AS (
          |  SELECT event_type AS k, ts, event_id, round(value, 6) AS v
          |  FROM events),
          |tr AS (
          |  SELECT k, ts, event_id, v,
          |         count(*) OVER w AS wn,
          |         CASE WHEN count(*) OVER w = 25
          |           THEN round(CAST(sum(CAST(round(v, 6) AS DECIMAL(18,6))) OVER w
          |             AS DOUBLE) / 25, 6) END AS trend,
          |         CAST(hour(ts) AS INT) AS hod
          |  FROM e
          |  WINDOW w AS (PARTITION BY k ORDER BY ts, event_id
          |               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
          |tr2 AS (SELECT *, round(v - trend, 6) AS detr FROM tr),
          |se AS (
          |  SELECT k, hod,
          |         round(CAST(sum(CAST(detr AS DECIMAL(18,6))) AS DOUBLE)
          |           / count(*), 6) AS seasonal
          |  FROM tr2 WHERE detr IS NOT NULL GROUP BY 1, 2)
          |SELECT tr2.k AS event_type, event_id, v AS value_r, trend,
          |       CASE WHEN trend IS NOT NULL THEN se.seasonal END AS seasonal,
          |       CASE WHEN trend IS NOT NULL
          |         THEN round(detr - se.seasonal, 6) END AS remainder
          |FROM tr2 LEFT JOIN se ON se.k = tr2.k AND se.hod = tr2.hod
          |WHERE event_id % 11 = 0""".stripMargin)),

    // Gini concentration of documents across sources.
    Q("q_ext_gini", (s, dir) =>
      Concentration.giniBySize(Tables.documents(s, dir), "source"),
      oracle = Some(
        """WITH s AS (SELECT source AS g, count(*) AS x FROM documents GROUP BY 1),
          |r AS (SELECT x, g, row_number() OVER (ORDER BY x, g) AS i FROM s),
          |a AS (
          |  SELECT count(*) AS n_groups, CAST(sum(x) AS BIGINT) AS n_rows,
          |         CAST(sum(CAST(i AS HUGEINT) * x) AS DOUBLE) AS iws,
          |         CAST(max(x) AS BIGINT) AS mx
          |  FROM r)
          |SELECT n_groups, n_rows,
          |       round(2.0 * iws / (CAST(n_groups AS DOUBLE) * CAST(n_rows AS DOUBLE))
          |         - CAST(n_groups + 1 AS DOUBLE) / n_groups, 6) AS gini,
          |       round(CAST(mx AS DOUBLE) / n_rows, 6) AS top_share
          |FROM a""".stripMargin)),

    // Benford first-digit profile of lineitem prices.
    Q("q_ext_benford", (s, dir) =>
      Concentration.benford(Tables.lineitem(s, dir), "l_extendedprice"),
      oracle = Some(
        """WITH d AS (
          |  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 1000000.0) AS BIGINT)
          |    AS VARCHAR), 1, 1) AS INT) AS digit
          |  FROM lineitem WHERE l_extendedprice > 0),
          |c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
          |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c),
          |x AS (
          |  SELECT digit, n, CAST(n AS DOUBLE) / n_total AS p_obs,
          |         round(log10(1.0 + 1.0 / digit), 6) AS p_exp, n_total
          |  FROM c, t)
          |SELECT digit, n, round(p_obs, 6) AS p_obs, p_exp,
          |       round(n_total * (p_obs - p_exp) * (p_obs - p_exp) / p_exp, 6)
          |         AS chi2_term
          |FROM x""".stripMargin)),

    // Zipf rank-frequency slope over the top-200 tokens.
    Q("q_ext_zipf", (s, dir) =>
      Concentration.zipfSlope(
        Tables.documents(s, dir)
          .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
          .filter(col("w") =!= ""),
        "w", topN = 200),
      oracle = Some(
        """WITH w AS (
          |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
          |  FROM documents),
          |f AS (
          |  SELECT w, count(*) AS c FROM w WHERE w <> ''
          |  GROUP BY 1 ORDER BY c DESC, w LIMIT 200),
          |r AS (
          |  SELECT CAST(round(round(ln(CAST(row_number() OVER (ORDER BY c DESC, w)
          |           AS DOUBLE)), 8) * 100000000.0, 0) AS BIGINT) AS lx,
          |         CAST(round(round(ln(CAST(c AS DOUBLE)), 8) * 100000000.0, 0)
          |           AS BIGINT) AS ly
          |  FROM f),
          |a AS (
          |  SELECT count(*) AS n_tokens,
          |         CAST(sum(lx) AS DOUBLE) / 1e8 AS sx,
          |         CAST(sum(ly) AS DOUBLE) / 1e8 AS sy,
          |         CAST(sum(CAST(lx AS HUGEINT) * ly) AS DOUBLE) / 1e16 AS sxy,
          |         CAST(sum(CAST(lx AS HUGEINT) * lx) AS DOUBLE) / 1e16 AS sxx
          |  FROM r)
          |SELECT n_tokens,
          |       round((CAST(n_tokens AS DOUBLE) * sxy - sx * sy)
          |         / (CAST(n_tokens AS DOUBLE) * sxx - sx * sx), 6) AS slope,
          |       round((sy - (CAST(n_tokens AS DOUBLE) * sxy - sx * sy)
          |           / (CAST(n_tokens AS DOUBLE) * sxx - sx * sx) * sx)
          |         / n_tokens, 6) AS intercept
          |FROM a""".stripMargin)),

    // PMI bigram collocations (pair count ≥ 25 — an integer-decided set).
    Q("q_ext_pmi", (s, dir) =>
      Collocations.pmiBigrams(Tables.documents(s, dir), "doc_id", "text",
        minPairCount = 25L),
      oracle = Some(
        """WITH t AS (
          |  SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
          |    x -> x <> '') AS ws
          |  FROM documents),
          |bg AS (SELECT unnest(list_zip(ws, ws[2:])) AS z FROM t),
          |pairs AS (
          |  SELECT z[1] AS x, z[2] AS y FROM bg WHERE z[2] IS NOT NULL),
          |pc AS (SELECT x, y, count(*) AS c_xy FROM pairs GROUP BY 1, 2),
          |lft AS (SELECT x, CAST(sum(c_xy) AS BIGINT) AS c_x FROM pc GROUP BY 1),
          |rgt AS (SELECT y, CAST(sum(c_xy) AS BIGINT) AS c_y FROM pc GROUP BY 1),
          |n AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_bigrams FROM pc)
          |SELECT pc.x, pc.y, c_xy, c_x, c_y,
          |       round(ln(CAST(c_xy AS DOUBLE) * n_bigrams
          |         / (CAST(c_x AS DOUBLE) * c_y)), 6) AS pmi
          |FROM pc JOIN lft ON lft.x = pc.x JOIN rgt ON rgt.y = pc.y, n
          |WHERE c_xy >= 25""".stripMargin)),

    // Chi-squared token↔class association (English vs rest, df ≥ 50).
    Q("q_ext_chi2_tokens", (s, dir) =>
      Collocations.chi2TokenClass(Tables.documents(s, dir), "doc_id", "text",
        col("lang") === "en", minDf = 50L),
      oracle = Some(
        """WITH d AS (SELECT doc_id, lang = 'en' AS pos, text FROM documents),
          |t AS (
          |  SELECT CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
          |         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
          |  FROM d),
          |td AS (
          |  SELECT pos, unnest(list_distinct(list_filter(
          |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> ''))) AS w
          |  FROM d),
          |c AS (
          |  SELECT w, CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS a,
          |         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS b
          |  FROM td GROUP BY 1),
          |x AS (
          |  SELECT w, a, b, np, nn,
          |         CAST(a AS HUGEINT) * (nn - b) - CAST(b AS HUGEINT) * (np - a)
          |           AS det
          |  FROM c, t WHERE a + b >= 50)
          |SELECT w AS token, a AS n_pos, b AS n_neg,
          |       CASE WHEN (np - a) + (nn - b) > 0 THEN
          |         round(CAST(CAST(np + nn AS HUGEINT) * det * det AS DOUBLE)
          |           / CAST(CAST(a + b AS HUGEINT) * ((np - a) + (nn - b))
          |               * np * nn AS DOUBLE), 6) END AS chi2,
          |       CAST(CAST(a AS HUGEINT) * nn > CAST(b AS HUGEINT) * np
          |            AS BIGINT) AS pos_assoc
          |FROM x""".stripMargin)),

    // Ordered sequential-pattern support (the k=2 PrefixSpan cell):
    // "∃ a before b" reduces exactly to min(ts_a) < max(ts_b), so one
    // (user, type) span aggregate feeds a |types|²-bounded pair join.
    Q("q_ext_seq_support", (s, dir) =>
      graft.ops.Cohorts.sequenceSupport(Tables.events(s, dir),
        "user_id", "event_type", "ts"),
      oracle = Some(
        """WITH s AS (
          |  SELECT user_id, event_type,
          |         CAST(floor(epoch(ts)) AS BIGINT) AS es
          |  FROM events),
          |sp AS (
          |  SELECT user_id, event_type, min(es) AS fts, max(es) AS lts
          |  FROM s GROUP BY 1, 2),
          |tot AS (SELECT count(DISTINCT user_id) AS n_total FROM s),
          |p AS (
          |  SELECT a.event_type AS t_first, b.event_type AS t_then,
          |         count(DISTINCT a.user_id) AS n_users
          |  FROM sp a JOIN sp b ON b.user_id = a.user_id
          |    AND a.event_type <> b.event_type AND a.fts < b.lts
          |  GROUP BY 1, 2)
          |SELECT t_first, t_then, n_users,
          |       round(CAST(n_users AS DOUBLE) / n_total, 6) AS support
          |FROM p, tot""".stripMargin)),

    // Dunning G² collocations over the same pair counts as PMI — the
    // low-count-robust ranking (PMI explodes for rare pairs, G²
    // shrinks them toward 0).
    Q("q_ext_llr", (s, dir) =>
      Collocations.llrBigrams(Tables.documents(s, dir), "doc_id", "text",
        minPairCount = 25L),
      oracle = Some({
        def xlx(e: String) =
          s"(CASE WHEN $e > 0 THEN CAST($e AS DOUBLE) * ln(CAST($e AS DOUBLE)) ELSE 0.0 END)"
        s"""WITH t AS (
           |  SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
           |    x -> x <> '') AS ws
           |  FROM documents),
           |bg AS (SELECT unnest(list_zip(ws, ws[2:])) AS z FROM t),
           |pairs AS (
           |  SELECT z[1] AS x, z[2] AS y FROM bg WHERE z[2] IS NOT NULL),
           |pc AS (SELECT x, y, count(*) AS c_xy FROM pairs GROUP BY 1, 2),
           |lft AS (SELECT x, CAST(sum(c_xy) AS BIGINT) AS c_x FROM pc GROUP BY 1),
           |rgt AS (SELECT y, CAST(sum(c_xy) AS BIGINT) AS c_y FROM pc GROUP BY 1),
           |n AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_bigrams FROM pc),
           |f AS (
           |  SELECT pc.x, pc.y, CAST(c_xy AS BIGINT) AS c_xy, c_x, c_y, n_bigrams
           |  FROM pc JOIN lft ON lft.x = pc.x JOIN rgt ON rgt.y = pc.y, n
           |  WHERE c_xy >= 25)
           |SELECT x, y, c_xy, c_x, c_y,
           |       round(2.0 * (${xlx("c_xy")} + ${xlx("c_x - c_xy")}
           |         + ${xlx("c_y - c_xy")}
           |         + ${xlx("n_bigrams - c_x - c_y + c_xy")}
           |         - ${xlx("c_x")} - ${xlx("n_bigrams - c_x")}
           |         - ${xlx("c_y")} - ${xlx("n_bigrams - c_y")}
           |         + ${xlx("n_bigrams")}), 6) AS llr
           |FROM f""".stripMargin
      })),

    // Flesch reading-ease per doc (1-in-7 slice): exact integer word /
    // sentence / vowel-group counts from codegen'd regex counting,
    // then the one classic double formula.
    Q("q_ext_readability", (s, dir) =>
      Tables.documents(s, dir)
        .filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"),
          TextStats.readabilityStats(col("text")).as("r"))
        .select(col("doc_id"), col("r.n_words").as("n_words"),
          col("r.n_sents").as("n_sents"), col("r.n_syll").as("n_syll"),
          col("r.flesch").as("flesch")),
      oracle = Some(
        """WITH d AS (
          |  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
          |c AS (
          |  SELECT doc_id,
          |         CAST(len(regexp_split_to_array(trim(text), '\s+'))
          |           AS BIGINT) AS n_words,
          |         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
          |           AS BIGINT) AS n_sents,
          |         CAST(greatest(len(regexp_extract_all(lower(text),
          |           '[aeiouy]+')), 1) AS BIGINT) AS n_syll
          |  FROM d)
          |SELECT doc_id, n_words, n_sents, n_syll,
          |       round(206.835
          |         - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
          |         - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE)),
          |         6) AS flesch
          |FROM c""".stripMargin)),

    // Nearest-station assignment: broadcast dimension + per-probe argmin.
    Q("q_ext_nearest_station", (s, dir) =>
      Spatial.nearestBroadcast(
        withCoords(Tables.customer(s, dir).select(col("c_custkey").as("id")),
          "id", 41, 59),
        "id",
        withCoords(Tables.supplier(s, dir)
          .select(col("s_suppkey").as("station_id")), "station_id", 37, 53)
          .select(col("station_id"), col("lat"), col("lon")),
        "station_id"),
      oracle = Some(
        """WITH st AS (
          |  SELECT s_suppkey AS station_id,
          |         -11.0 + (s_suppkey * 37 % 2200) / 100.0 AS s_lat,
          |         95.0 + (s_suppkey * 53 % 4600) / 100.0 AS s_lon
          |  FROM supplier),
          |pr AS (
          |  SELECT c_custkey AS id,
          |         -11.0 + (c_custkey * 41 % 2200) / 100.0 AS lat,
          |         95.0 + (c_custkey * 59 % 4600) / 100.0 AS lon
          |  FROM customer),
          |d AS (
          |  SELECT id, station_id,
          |         round(12742.0176 * asin(sqrt(
          |           sin(radians(s_lat - lat) / 2.0) * sin(radians(s_lat - lat) / 2.0)
          |           + cos(radians(lat)) * cos(radians(s_lat))
          |             * sin(radians(s_lon - lon) / 2.0)
          |             * sin(radians(s_lon - lon) / 2.0))), 6) AS dist_km
          |  FROM pr, st),
          |r AS (
          |  SELECT id, station_id, dist_km,
          |         row_number() OVER (PARTITION BY id
          |           ORDER BY dist_km, station_id) AS rn
          |  FROM d)
          |SELECT id, station_id, dist_km FROM r WHERE rn = 1""".stripMargin)),

    // Benjamini-Hochberg step-up over hash-derived p-values (5% of ids
    // carry a planted effect): the multiple-testing discipline on top
    // of the per-segment tests. Rank = chunked PrefixSum, threshold
    // compare is exact rational arithmetic.
    Q("q_ext_bh_fdr", (s, dir) => {
      val base = (pmod(col("event_id"), lit(1000003L)) * 2654435761L % 1000003L) / lit(1000003.0)
      val pv = Tables.events(s, dir).select(col("event_id"),
        when(col("event_id") % 50 === 0, base / lit(1000.0))
          .otherwise(base).as("pval"))
      graft.ops.Experiments.bhFdr(pv, "event_id", "pval",
        alphaNum = 1L, alphaDen = 20L)
    },
      oracle = Some(
        """WITH pv AS (
          |  SELECT event_id,
          |         CASE WHEN event_id % 50 = 0
          |           THEN ((event_id % 1000003) * 2654435761 % 1000003) / 1000003.0 / 1000.0
          |           ELSE ((event_id % 1000003) * 2654435761 % 1000003) / 1000003.0
          |         END AS p
          |  FROM events),
          |r AS (
          |  SELECT event_id, p,
          |         CAST(row_number() OVER (ORDER BY p, event_id) AS BIGINT) AS i,
          |         CAST(count(*) OVER () AS BIGINT) AS m
          |  FROM pv),
          |f AS (SELECT *, p * m * 20.0 <= CAST(1 * i AS DOUBLE) AS ok FROM r),
          |c AS (SELECT CAST(coalesce(max(CASE WHEN ok THEN i END), 0) AS BIGINT)
          |        AS i_cut FROM f)
          |SELECT event_id, round(p, 6) AS p, i, CAST(ok AS BIGINT) AS ok,
          |       CAST(i <= i_cut AS BIGINT) AS rejected
          |FROM f, c""".stripMargin)),

    // Weekly cohort retention matrix over the event log.
    Q("q_ext_retention", (s, dir) =>
      graft.ops.Cohorts.weeklyRetention(Tables.events(s, dir), "user_id", "ts"),
      oracle = Some(
        """WITH wk AS (
          |  SELECT user_id AS u,
          |         CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS w
          |  FROM events),
          |fw AS (SELECT u, min(w) AS w0 FROM wk GROUP BY 1),
          |sz AS (SELECT w0, count(*) AS cohort_size FROM fw GROUP BY 1),
          |act AS (
          |  SELECT fw.w0 AS cohort_week, wk.w - fw.w0 AS week_offset,
          |         count(DISTINCT wk.u) AS n_active
          |  FROM wk JOIN fw ON fw.u = wk.u GROUP BY 1, 2)
          |SELECT cohort_week, week_offset, n_active, cohort_size,
          |       round(CAST(n_active AS DOUBLE) / cohort_size, 6) AS rate
          |FROM act JOIN sz ON sz.w0 = act.cohort_week""".stripMargin)),

    // First-order Markov transitions between event types per user.
    Q("q_ext_markov", (s, dir) =>
      graft.ops.Cohorts.markovTransitions(Tables.events(s, dir),
        "user_id", "ts", "event_id", "event_type"),
      oracle = Some(
        """WITH pr AS (
          |  SELECT event_type AS from_type,
          |         lead(event_type) OVER (PARTITION BY user_id
          |           ORDER BY ts, event_id) AS to_type
          |  FROM events),
          |c AS (
          |  SELECT from_type, to_type, count(*) AS n
          |  FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2),
          |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total
          |      FROM c GROUP BY 1)
          |SELECT c.from_type, c.to_type, n,
          |       round(CAST(n AS DOUBLE) / row_total, 6) AS p
          |FROM c JOIN t USING (from_type)""".stripMargin)),

    // Kaplan-Meier time-to-first-purchase; users who never purchase are
    // right-censored at their last observed event.
    Q("q_ext_kaplan_meier", (s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"), col("event_type"),
        graft.ops.TimeOps.epochSeconds(col("ts")).as("sec"))
      val per = e.groupBy("user_id").agg(
        min("sec").as("t0"), max("sec").as("t1"),
        min(when(col("event_type") === "purchase", col("sec"))).as("tp"))
      val subjects = per.select(
        when(col("tp").isNotNull, col("tp") - col("t0"))
          .otherwise(col("t1") - col("t0")).as("dur"),
        col("tp").isNotNull.as("ev"))
      graft.ops.Survival.kaplanMeier(subjects, "dur", "ev")
    },
      oracle = Some(
        """WITH e AS (
          |  SELECT user_id, event_type,
          |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
          |  FROM events),
          |per AS (
          |  SELECT user_id, min(sec) AS t0, max(sec) AS t1,
          |         min(CASE WHEN event_type = 'purchase' THEN sec END) AS tp
          |  FROM e GROUP BY 1),
          |subj AS (
          |  SELECT CASE WHEN tp IS NOT NULL THEN tp - t0 ELSE t1 - t0 END AS t,
          |         CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
          |  FROM per),
          |pt AS (
          |  SELECT t, CAST(sum(ev) AS BIGINT) AS d,
          |         CAST(count(*) - sum(ev) AS BIGINT) AS c
          |  FROM subj GROUP BY 1),
          |tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n_total FROM pt),
          |rk AS (
          |  SELECT t, d, c,
          |         CAST(coalesce(sum(d + c) OVER (ORDER BY t
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |           AS BIGINT) AS removed
          |  FROM pt),
          |km AS (
          |  SELECT t, d, c, n_total - removed AS n_risk,
          |         CASE WHEN d > 0 AND d < n_total - removed
          |           THEN CAST(round(round(ln(1.0 - CAST(d AS DOUBLE)
          |             / (n_total - removed)), 8) * 100000000.0, 0) AS BIGINT)
          |           ELSE 0 END AS lterm
          |  FROM rk, tot),
          |sc AS (
          |  SELECT t, d, c, n_risk, lterm,
          |         CAST(coalesce(sum(lterm) OVER (ORDER BY t
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |           AS BIGINT) AS lpfx
          |  FROM km)
          |SELECT t, n_risk, d, c,
          |       CASE WHEN d < n_risk
          |         THEN round(exp(CAST(lpfx + lterm AS DOUBLE) / 1e8), 6)
          |         ELSE 0.0 END AS s
          |FROM sc WHERE d > 0""".stripMargin)),

    // Seasonal-naive backtest: yesterday-same-hour forecast, MAE+sMAPE.
    Q("q_ext_backtest_snaive", (s, dir) =>
      graft.ops.Backtest.seasonalNaive(Tables.events(s, dir),
        "event_type", "ts", "value", seasonSeconds = 86400L),
      oracle = Some(
        s"""WITH s AS ($HourlySeriesSql),
           |hi AS (SELECT k, h + 86400 AS h, m AS f FROM s),
           |p AS (
           |  SELECT s.k, round(abs(s.m - hi.f), 6) AS ae,
           |         CASE WHEN abs(s.m) + abs(hi.f) > 0
           |           THEN round(2.0 * abs(s.m - hi.f)
           |             / (abs(s.m) + abs(hi.f)), 6)
           |           ELSE 0.0 END AS sm
           |  FROM s JOIN hi ON hi.k = s.k AND hi.h = s.h)
           |SELECT k, count(*) AS n,
           |       round(CAST(sum(CAST(ae AS DECIMAL(18,6))) AS DOUBLE)
           |         / count(*), 6) AS mae,
           |       round(CAST(sum(CAST(sm AS DECIMAL(18,6))) AS DOUBLE)
           |         / count(*), 6) AS smape
           |FROM p GROUP BY 1""".stripMargin)),

    // Warner randomized response with exact hash-coin debiasing.
    Q("q_ext_randomized_response", (s, dir) =>
      Privacy.randomizedResponse(Tables.events(s, dir), "event_id",
        col("user_id") % 3 === 0, tolerance = 0.02),
      oracle = Some(
        """WITH r AS (
          |  SELECT CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS b,
          |         CASE WHEN ((event_id % 1000003) * 2654435761 % 1000003) % 2 = 0
          |           THEN CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END
          |           ELSE CASE WHEN ((event_id % 1000003) * 40503 % 1000003) % 2 = 0
          |             THEN 1 ELSE 0 END
          |         END AS rr
          |  FROM events),
          |a AS (
          |  SELECT count(*) AS n, CAST(sum(b) AS BIGINT) AS nb,
          |         CAST(sum(rr) AS BIGINT) AS nr
          |  FROM r)
          |SELECT n, round(CAST(nb AS DOUBLE) / n, 6) AS true_rate,
          |       round(CAST(nr AS DOUBLE) / n, 6) AS reported_rate,
          |       round(2.0 * (CAST(nr AS DOUBLE) / n) - 0.5, 6) AS debiased,
          |       CAST(abs(2.0 * (CAST(nr AS DOUBLE) / n) - 0.5
          |         - CAST(nb AS DOUBLE) / n) <= 0.02 AS BIGINT) AS est_ok
          |FROM a""".stripMargin)),

    // k-anonymity audit of customer quasi-identifiers.
    Q("q_ext_k_anonymity", (s, dir) =>
      Privacy.kAnonymity(Tables.customer(s, dir),
        Seq("c_nationkey", "c_mktsegment"), k = 10L),
      oracle = Some(
        """WITH g AS (
          |  SELECT c_nationkey, c_mktsegment, count(*) AS n
          |  FROM customer GROUP BY 1, 2),
          |a AS (
          |  SELECT count(*) AS n_groups,
          |         CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT)
          |           AS n_violating,
          |         CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
          |           AS n_rows_at_risk,
          |         CAST(sum(n) AS BIGINT) AS n_rows
          |  FROM g)
          |SELECT CAST(10 AS BIGINT) AS k, n_groups, n_violating,
          |       n_rows_at_risk,
          |       round(CAST(n_rows_at_risk AS DOUBLE) / n_rows, 6)
          |         AS suppression_rate
          |FROM a""".stripMargin)),

    // All station pairs within 150 km via grid-prefiltered exact join.
    Q("q_ext_radius_join", (s, dir) =>
      graft.ops.Spatial.radiusJoinGrid(
        withCoords(Tables.customer(s, dir).select(col("c_custkey").as("id")),
          "id", 41, 59),
        "id",
        withCoords(Tables.supplier(s, dir)
          .select(col("s_suppkey").as("station_id")), "station_id", 37, 53)
          .select(col("station_id"), col("lat"), col("lon")),
        "station_id", radiusKm = 150.0, cellDeg = 2.0),
      oracle = Some(
        """WITH st AS (
          |  SELECT s_suppkey AS station_id,
          |         -11.0 + (s_suppkey * 37 % 2200) / 100.0 AS s_lat,
          |         95.0 + (s_suppkey * 53 % 4600) / 100.0 AS s_lon
          |  FROM supplier),
          |pr AS (
          |  SELECT c_custkey AS id,
          |         -11.0 + (c_custkey * 41 % 2200) / 100.0 AS lat,
          |         95.0 + (c_custkey * 59 % 4600) / 100.0 AS lon
          |  FROM customer),
          |d AS (
          |  SELECT id, station_id,
          |         round(12742.0176 * asin(sqrt(
          |           sin(radians(s_lat - lat) / 2.0) * sin(radians(s_lat - lat) / 2.0)
          |           + cos(radians(lat)) * cos(radians(s_lat))
          |             * sin(radians(s_lon - lon) / 2.0)
          |             * sin(radians(s_lon - lon) / 2.0))), 6) AS dist_km
          |  FROM pr, st)
          |SELECT id, station_id, dist_km FROM d WHERE dist_km <= 150.0""".stripMargin)),

    // Krippendorff's alpha over the same synthetic rater pair as
    // q_ext_cohen_kappa — the generalizable agreement coefficient.
    Q("q_ext_krippendorff", (s, dir) => {
      val cat = (v: org.apache.spark.sql.Column) =>
        when(v > 50.0, "pos").when(v > 20.0, "neu").otherwise("neg")
      val labeled = Tables.events(s, dir).select(
        cat(col("value")).as("rater_a"),
        cat(col("value") + (col("event_id") % 11).cast("double") - lit(5.0))
          .as("rater_b"))
      Agreement.krippendorffAlpha(labeled, "rater_a", "rater_b")
    },
      oracle = Some(
        """WITH lab AS (
          |  SELECT CASE WHEN value > 50.0 THEN 'pos'
          |              WHEN value > 20.0 THEN 'neu' ELSE 'neg' END AS ra,
          |         CASE WHEN value + CAST(event_id % 11 AS DOUBLE) - 5.0 > 50.0
          |                THEN 'pos'
          |              WHEN value + CAST(event_id % 11 AS DOUBLE) - 5.0 > 20.0
          |                THEN 'neu' ELSE 'neg' END AS rb
          |  FROM events),
          |pairs AS (
          |  SELECT ra AS c, rb AS k FROM lab
          |  UNION ALL SELECT rb AS c, ra AS k FROM lab),
          |cells AS (SELECT c, k, count(*) AS o FROM pairs GROUP BY 1, 2),
          |marg AS (SELECT c, CAST(sum(o) AS BIGINT) AS nc FROM cells GROUP BY 1),
          |dn AS (
          |  SELECT CAST(sum(CASE WHEN c <> k THEN o ELSE 0 END) AS BIGINT)
          |           AS do_num,
          |         CAST(sum(o) / 2 AS BIGINT) AS n_units
          |  FROM cells),
          |de AS (
          |  SELECT CAST(sum(CASE WHEN a.c <> b.c
          |             THEN CAST(a.nc AS HUGEINT) * b.nc ELSE 0 END) AS BIGINT)
          |           AS de_num,
          |         count(*) AS n_cat_sq
          |  FROM marg a, marg b)
          |SELECT n_units, CAST(sqrt(n_cat_sq) AS BIGINT) AS n_categories,
          |       do_num, de_num,
          |       CASE WHEN de_num > 0
          |         THEN round(1.0 - (2.0 * n_units - 1.0) * do_num
          |           / CAST(de_num AS DOUBLE), 6) END AS alpha
          |FROM dn, de""".stripMargin)),
  )

  /** Shared SQL fragment: per-(key,hour) decimal-exact mean series
    * (also consumed by [[EvalQueries]]'s conformal oracle).
    */
  private[graft] def hourlySeriesSqlShared: String = HourlySeriesSql
  private val HourlySeriesSql =
    """SELECT event_type AS k,
      |       CAST(floor(epoch(ts)) AS BIGINT) // 3600 * 3600 AS h,
      |       CAST(round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6)))
      |         AS DOUBLE) / count(*), 6) AS DECIMAL(18,6)) AS m
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Shared SQL fragment: Pearson r from decimal sufficient stats of
    * (x, y) DECIMAL(18,6) pairs grouped by `grp` — mirrors
    * [[SeriesOps]]'s pearson helper expression-for-expression.
    */
  private def pearsonSql(grp: String): String = {
    val vx = """(CAST(count(*) AS DOUBLE) * CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE)
               |        - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE))""".stripMargin
    val vy = """(CAST(count(*) AS DOUBLE) * CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE)
               |        - CAST(sum(y) AS DOUBLE) * CAST(sum(y) AS DOUBLE))""".stripMargin
    s"""SELECT $grp, count(*) AS n,
       |  round(CASE WHEN $vx > 0 AND $vy > 0 THEN
       |    (CAST(count(*) AS DOUBLE) * CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE)
       |      - CAST(sum(x) AS DOUBLE) * CAST(sum(y) AS DOUBLE))
       |    / sqrt($vx
       |      * $vy) END, 6) AS r""".stripMargin
  }

  private def ewmaOracle(alphaTenths: Int, terms: Int): String = {
    def b(i: Int) = s"CAST(${SeriesOps.betaLiteral(alphaTenths, i)} AS DOUBLE)"
    val lags = (0 until terms).map(i =>
      s"lag(v, $i) OVER (PARTITION BY k ORDER BY ts, event_id) AS l$i").mkString(",\n         ")
    val num = (0 until terms).map(i =>
      s"CASE WHEN l$i IS NOT NULL THEN l$i * ${b(i)} ELSE CAST(0.0 AS DOUBLE) END")
      .mkString(" + ")
    val den = (0 until terms).map(i =>
      s"CASE WHEN l$i IS NOT NULL THEN ${b(i)} ELSE CAST(0.0 AS DOUBLE) END")
      .mkString(" + ")
    s"""WITH e AS (
       |  SELECT event_type AS k, ts, event_id, round(value, 6) AS v FROM events),
       |w AS (
       |  SELECT k, event_id, v,
       |         $lags
       |  FROM e)
       |SELECT k AS event_type, event_id, v AS value_r,
       |       round(($num) / ($den), 6) AS ewma
       |FROM w WHERE event_id % 7 = 0""".stripMargin
  }
}
