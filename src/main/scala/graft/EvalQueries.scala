package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Calibrate, Encode, QualityModel, RankEval, Search, TextStats}
import graft.ops.{Causal, ForecastEval, TimeOps}

/** Evaluation / experimentation / feature-engineering queries:
  * CUPED, stratified effects, target encoding, mutual information,
  * pinball loss, split-conformal calibration — each a gated
  * (query, DuckDB oracle) pair on the repo's determinism contract.
  */
object EvalQueries {

  /** Per-user pre/post means on alternating epoch days — the unit
    * table for the CUPED gate (parity split guarantees every user has
    * both periods populated at any SF).
    */
  private def userPrePost(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"),
      (floor(unix_timestamp(col("ts")) / 86400L).cast("long") % 2 === 0)
        .as("pre"),
      round(col("value"), 6).cast("decimal(18,6)").as("v"))
    e.groupBy("user_id")
      .agg(
        sum(when(col("pre"), col("v"))).cast("decimal(38,12)").as("sx"),
        sum(when(col("pre"), 1L)).as("nx"),
        sum(when(!col("pre"), col("v"))).cast("decimal(38,12)").as("sy"),
        sum(when(!col("pre"), 1L)).as("ny"))
      .filter(col("nx") > 0 && col("ny") > 0)
      .select(col("user_id"),
        (col("sx").cast("double") / col("nx")).as("x"),
        (col("sy").cast("double") / col("ny")).as("y"))
  }

  def queries: Map[String, Q.Plan] = all.map(q => q.name -> q.plan).toMap

  /** One [[Q]] per query: the evaluation and experimentation gates, each beside its DuckDB oracle. */
  private[graft] lazy val all: Seq[Q] = Seq(
    // CUPED variance reduction on per-user pre/post metric means.
    Q("q_ext_cuped", (s, dir) =>
      Causal.cuped(userPrePost(s, dir), col("user_id") % 2 === 0, "y", "x"),
      oracle = Some(
        s"""WITH $UserPrePostSql,
           |pc AS (
           |  SELECT user_id % 2 = 0 AS t,
           |         CAST(round(y, 6) AS DECIMAL(18,6)) AS y,
           |         CAST(round(x, 6) AS DECIMAL(18,6)) AS x
           |  FROM per),
           |pooled AS (
           |  SELECT count(*) AS n,
           |         CAST(CAST(sum(x) AS DECIMAL(38,12)) AS DOUBLE) AS sx,
           |         CAST(CAST(sum(y) AS DECIMAL(38,12)) AS DOUBLE) AS sy,
           |         CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
           |         CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
           |         CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
           |  FROM pc),
           |pd AS (
           |  SELECT n,
           |         (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta,
           |         sx / n AS mx,
           |         ((sxy - sx * sy / n) * (sxy - sx * sy / n))
           |           / ((sxx - sx * sx / n) * (syy - sy * sy / n)) AS rho2
           |  FROM pooled),
           |arms AS (
           |  SELECT t, count(*) AS na,
           |         CAST(CAST(sum(y) AS DECIMAL(38,12)) AS DOUBLE) / count(*) AS my,
           |         CAST(CAST(sum(x) AS DECIMAL(38,12)) AS DOUBLE) / count(*) AS mxa
           |  FROM pc GROUP BY 1)
           |SELECT a.na AS n_t, b.na AS n_c, round(theta, 6) AS theta,
           |       round(a.my - b.my, 6) AS delta_raw,
           |       round((a.my - theta * (a.mxa - mx))
           |         - (b.my - theta * (b.mxa - mx)), 6) AS delta_cuped,
           |       round(rho2, 6) AS var_reduction
           |FROM arms a, arms b, pd WHERE a.t AND NOT b.t""".stripMargin)),

    // Stratified difference-in-means across event-type strata.
    Q("q_ext_stratified_ate", (s, dir) =>
      Causal.stratifiedEffect(Tables.events(s, dir), "event_type",
        col("user_id") % 2 === 0, "value"),
      oracle = Some(
        """WITH i AS (
          |  SELECT event_type AS s, user_id % 2 = 0 AS t,
          |         CAST(round(value, 6) AS DECIMAL(18,6)) AS y
          |  FROM events),
          |cells AS (
          |  SELECT s, t, count(*) AS n,
          |         CAST(CAST(sum(y) AS DECIMAL(38,12)) AS DOUBLE) AS sy
          |  FROM i GROUP BY 1, 2),
          |tot AS (SELECT count(*) AS n_all FROM i)
          |SELECT tc.s, tc.n AS n_t, cc.n AS n_c,
          |       round(tc.sy / tc.n, 6) AS mean_t,
          |       round(cc.sy / cc.n, 6) AS mean_c,
          |       round(tc.sy / tc.n - cc.sy / cc.n, 6) AS effect,
          |       round(CAST(tc.n + cc.n AS DOUBLE) / n_all, 6) AS weight
          |FROM cells tc JOIN cells cc ON cc.s = tc.s, tot
          |WHERE tc.t AND NOT cc.t""".stripMargin)),

    // Leave-one-out target encoding of market segment vs balance.
    Q("q_ext_target_encode", (s, dir) =>
      Encode.targetEncodeLoo(Tables.customer(s, dir), "c_custkey",
        "c_mktsegment", "c_acctbal"),
      oracle = Some(
        """WITH i AS (
          |  SELECT c_custkey, c_mktsegment,
          |         CAST(round(c_acctbal, 6) AS DECIMAL(18,6)) AS y
          |  FROM customer),
          |cat AS (
          |  SELECT c_mktsegment, count(*) AS nc,
          |         CAST(sum(y) AS DECIMAL(38,12)) AS sc
          |  FROM i GROUP BY 1),
          |gt AS (
          |  SELECT count(*) AS ng, CAST(sum(y) AS DECIMAL(38,12)) AS sg FROM i)
          |SELECT c_custkey, i.c_mktsegment, CAST(y AS DOUBLE) AS target_r,
          |       round(CASE WHEN nc > 1
          |         THEN CAST(sc - y AS DOUBLE) / (nc - 1)
          |         ELSE CAST(sg - y AS DOUBLE) / (ng - 1) END, 6) AS enc
          |FROM i JOIN cat ON cat.c_mktsegment = i.c_mktsegment, gt""".stripMargin)),

    // Mutual information between event type and a user bucket.
    Q("q_ext_mutual_info", (s, dir) =>
      Encode.mutualInfo(
        Tables.events(s, dir).select(col("event_type"),
          (col("user_id") % 7).as("ub")),
        "event_type", "ub"),
      oracle = Some(
        """WITH cells AS (
          |  SELECT event_type AS a, user_id % 7 AS b, count(*) AS cxy
          |  FROM events GROUP BY 1, 2),
          |ma AS (SELECT a, CAST(sum(cxy) AS BIGINT) AS ca FROM cells GROUP BY 1),
          |mb AS (SELECT b, CAST(sum(cxy) AS BIGINT) AS cb FROM cells GROUP BY 1),
          |n AS (SELECT CAST(sum(cxy) AS BIGINT) AS n FROM cells),
          |terms AS (
          |  SELECT n.n,
          |         CAST(round(CAST(cxy AS DOUBLE) / n.n
          |           * ln(CAST(cxy AS DOUBLE) * n.n
          |               / (CAST(ca AS DOUBLE) * cb)), 9) AS DECIMAL(28,9))
          |           AS term
          |  FROM cells JOIN ma USING (a) JOIN mb USING (b), n)
          |SELECT max(n) AS n, count(*) AS n_cells,
          |       round(CAST(sum(term) AS DOUBLE), 6) AS mi
          |FROM terms""".stripMargin)),

    // Pinball loss of climatology quantile forecasts (P10/P50/P90),
    // trained on even epoch days, scored on odd.
    Q("q_ext_pinball", (s, dir) =>
      ForecastEval.pinballClimatology(Tables.events(s, dir), "event_type",
        "ts", "value",
        floor(unix_timestamp(col("ts")) / 86400L).cast("long") % 2 === 0,
        Seq(10, 50, 90)),
      oracle = Some(
        """WITH base AS (
          |  SELECT event_type AS k, CAST(hour(ts) AS INT) AS hod,
          |         round(value, 6) AS y,
          |         (CAST(floor(epoch(ts)) AS BIGINT) // 86400) % 2 = 0 AS tr
          |  FROM events),
          |train AS (SELECT * FROM base WHERE tr),
          |ranked AS (
          |  SELECT k, hod, y,
          |         CAST(row_number() OVER (PARTITION BY k, hod ORDER BY y)
          |           AS BIGINT) AS rn
          |  FROM train),
          |cnt AS (SELECT k, hod, count(*) AS n FROM train GROUP BY 1, 2),
          |qq AS (SELECT CAST(unnest([10, 50, 90]) AS BIGINT) AS q_pct),
          |pick AS (
          |  SELECT r.k, r.hod, q.q_pct, c.n, r.rn, r.y,
          |         CAST(q.q_pct AS DOUBLE) / 100.0 * (c.n - 1) AS pos
          |  FROM ranked r JOIN cnt c ON c.k = r.k AND c.hod = r.hod, qq q),
          |sel AS (
          |  SELECT * FROM pick
          |  WHERE rn = CAST(floor(pos) AS BIGINT) + 1
          |     OR rn = least(CAST(floor(pos) AS BIGINT) + 2, n)),
          |fq AS (
          |  SELECT k, hod, q_pct,
          |         max(CASE WHEN rn = CAST(floor(pos) AS BIGINT) + 1
          |           THEN y END) AS ylo,
          |         max(CASE WHEN rn = least(CAST(floor(pos) AS BIGINT) + 2, n)
          |           THEN y END) AS yhi,
          |         max(pos) AS p
          |  FROM sel GROUP BY 1, 2, 3),
          |f AS (
          |  SELECT k, hod, q_pct,
          |         round(ylo + (p - floor(p)) * (yhi - ylo), 6) AS fv
          |  FROM fq),
          |l AS (
          |  SELECT b.k, f.q_pct,
          |         round(CASE WHEN b.y >= fv
          |           THEN CAST(f.q_pct AS DOUBLE) / 100.0 * (b.y - fv)
          |           ELSE (1.0 - CAST(f.q_pct AS DOUBLE) / 100.0) * (fv - b.y)
          |         END, 6) AS loss
          |  FROM base b JOIN f ON f.k = b.k AND f.hod = b.hod
          |  WHERE NOT b.tr)
          |SELECT k, q_pct, count(*) AS n,
          |       round(CAST(sum(CAST(loss AS DECIMAL(18,6))) AS DOUBLE)
          |         / count(*), 6) AS pinball
          |FROM l GROUP BY 1, 2""".stripMargin)),

    // Split-conformal interval calibration around seasonal-naive.
    Q("q_ext_conformal", (s, dir) =>
      ForecastEval.conformalSeasonalNaive(Tables.events(s, dir), "event_type",
        "ts", "value", seasonSeconds = 86400L, alphaPct = 90),
      oracle = Some(
        s"""WITH s AS (${StatQueries.hourlySeriesSqlShared}),
           |hi AS (SELECT k, h + 86400 AS h, m AS f FROM s),
           |paired AS (
           |  SELECT s.k, s.h, round(abs(s.m - hi.f), 6) AS r,
           |         (s.h // 3600) % 2 = 0 AS cal
           |  FROM s JOIN hi ON hi.k = s.k AND hi.h = s.h),
           |calr AS (SELECT k, r FROM paired WHERE cal),
           |ranked AS (
           |  SELECT k, r,
           |         CAST(row_number() OVER (PARTITION BY k ORDER BY r)
           |           AS BIGINT) AS rn
           |  FROM calr),
           |cnt AS (SELECT k, count(*) AS n_cal FROM calr GROUP BY 1),
           |pick AS (
           |  SELECT rk.k, c.n_cal, rk.rn, rk.r,
           |         CAST(90 AS DOUBLE) / 100.0 * (c.n_cal - 1) AS pos
           |  FROM ranked rk JOIN cnt c ON c.k = rk.k),
           |sel AS (
           |  SELECT * FROM pick
           |  WHERE rn = CAST(floor(pos) AS BIGINT) + 1
           |     OR rn = least(CAST(floor(pos) AS BIGINT) + 2, n_cal)),
           |qh AS (
           |  SELECT k, max(n_cal) AS n_cal,
           |         round(max(CASE WHEN rn = CAST(floor(pos) AS BIGINT) + 1
           |             THEN r END)
           |           + (max(pos) - floor(max(pos)))
           |             * (max(CASE WHEN rn = least(CAST(floor(pos) AS BIGINT) + 2,
           |                 n_cal) THEN r END)
           |               - max(CASE WHEN rn = CAST(floor(pos) AS BIGINT) + 1
           |                 THEN r END)), 6) AS qhat
           |  FROM sel GROUP BY 1),
           |ev AS (
           |  SELECT p.k, qh.n_cal, qh.qhat, count(*) AS n_eval,
           |         CAST(sum(CASE WHEN p.r <= qh.qhat THEN 1 ELSE 0 END)
           |           AS BIGINT) AS n_in
           |  FROM paired p JOIN qh ON qh.k = p.k WHERE NOT p.cal
           |  GROUP BY 1, 2, 3)
           |SELECT k, n_cal, n_eval, qhat,
           |       round(CAST(n_in AS DOUBLE) / n_eval, 6) AS coverage,
           |       CAST(CAST(n_in AS DOUBLE) / n_eval >= 0.85 AS BIGINT)
           |         AS cov_ok
           |FROM ev""".stripMargin)),

    // Instrumental-variable Wald estimator: LATE = ITT_y / ITT_x with
    // the weak-instrument diagnostic surfaced — the no-pre-period,
    // no-ignorability member of the causal toolkit.
    Q("q_ext_iv", (s, dir) =>
      Causal.ivWald(
        Tables.events(s, dir)
          .select((col("user_id") % 2 === 0).as("z"),
            (col("event_id") % 5).cast("double").as("x"), col("value")),
        col("z"), "x", "value"),
      oracle = Some(
        """WITH i AS (
          |  SELECT user_id % 2 = 0 AS z,
          |         CAST(round(CAST(event_id % 5 AS DOUBLE), 6)
          |           AS DECIMAL(18,6)) AS x,
          |         CAST(round(value, 6) AS DECIMAL(18,6)) AS y
          |  FROM events),
          |cells AS (
          |  SELECT z, count(*) AS n, CAST(sum(x) AS DOUBLE) AS sx,
          |         CAST(sum(y) AS DOUBLE) AS sy
          |  FROM i GROUP BY 1),
          |w AS (
          |  SELECT a.n AS n_z1, b.n AS n_z0,
          |         a.sy / a.n AS my1, b.sy / b.n AS my0,
          |         a.sx / a.n AS mx1, b.sx / b.n AS mx0
          |  FROM cells a, cells b WHERE a.z AND NOT b.z)
          |SELECT n_z1, n_z0,
          |       round(my1 - my0, 6) AS itt_y,
          |       round(mx1 - mx0, 6) AS itt_x,
          |       CASE WHEN round(mx1 - mx0, 6) <> 0.0
          |            THEN round((my1 - my0) / (mx1 - mx0), 6) END AS late
          |FROM w""".stripMargin)),

    // Wald SPRT on a Bernoulli success rate — the always-valid
    // continuous-monitoring test (peeking-honest boundaries) beside
    // bhFdr's batch correction. One count fold + a fixed IEEE tree.
    Q("q_ext_sprt", (s, dir) =>
      graft.ops.Experiments.sprt(
        Tables.events(s, dir).filter(col("event_type") === "click"),
        col("value") >= 250.0, p0 = 0.45, p1 = 0.5),
      oracle = Some({
        // the oracle interpolates the SAME Scala-computed log constants
        // the operator bakes into its plan (shortest-repr round-trip is
        // bit-exact), so neither engine's SQL evaluates a log
        val cPos = math.log(0.5 / 0.45)
        val cNeg = math.log(0.5 / 0.55)
        val upper = math.log((1 - 0.2) / 0.05)
        val lower = math.log(0.2 / (1 - 0.05))
        s"""WITH ag AS (
           |  SELECT count(*) AS n,
           |         CAST(sum(CASE WHEN value >= 250.0 THEN 1 ELSE 0 END)
           |           AS BIGINT) AS k
           |  FROM events WHERE event_type = 'click'),
           |x AS (
           |  SELECT n, k,
           |         CAST(k AS DOUBLE) * $cPos
           |           + CAST(n - k AS DOUBLE) * $cNeg AS llr
           |  FROM ag)
           |SELECT n, k, round(CAST(k AS DOUBLE) / n, 6) AS rate,
           |       round(llr, 6) AS llr,
           |       CAST(llr >= $upper AS BIGINT) AS accept_h1,
           |       CAST(llr <= $lower AS BIGINT) AS accept_h0
           |FROM x""".stripMargin
      })),

    // Two-period difference-in-differences: treated = even users,
    // post = the back half of the month — treatment effect net of the
    // control group's trend, with the pre-period gap surfaced as the
    // parallel-trends eyeball check.
    Q("q_ext_did", (s, dir) =>
      Causal.diffInDiff(Tables.events(s, dir),
        col("user_id") % 2 === 0,
        to_date(col("ts")) >= lit("2024-01-16"),
        "value"),
      oracle = Some(
        """WITH i AS (
          |  SELECT user_id % 2 = 0 AS t,
          |         CAST(ts AS DATE) >= DATE '2024-01-16' AS p,
          |         CAST(round(value, 6) AS DECIMAL(18,6)) AS y
          |  FROM events),
          |cells AS (
          |  SELECT t, p, count(*) AS n, CAST(sum(y) AS DOUBLE) AS sy
          |  FROM i GROUP BY 1, 2)
          |SELECT tb.n AS n_t_pre, tp.n AS n_t_post,
          |       cb.n AS n_c_pre, cp.n AS n_c_post,
          |       round((tb.sy / tb.n) - (cb.sy / cb.n), 6) AS pre_gap,
          |       round((tp.sy / tp.n) - (cp.sy / cp.n), 6) AS post_gap,
          |       round(((tp.sy / tp.n) - (tb.sy / tb.n))
          |         - ((cp.sy / cp.n) - (cb.sy / cb.n)), 6) AS did
          |FROM cells tb, cells tp, cells cb, cells cp
          |WHERE tb.t AND NOT tb.p AND tp.t AND tp.p
          |  AND NOT cb.t AND NOT cb.p AND NOT cp.t AND cp.p""".stripMargin)),

    // ROC AUC of the learned quality score vs the length label —
    // discrimination beside q_ext_reliability's calibration; exact
    // under ties via doubled-rank integers on the micro-score scan.
    Q("q_ext_auc", (s, dir) =>
      RankEval.auc(scoredLabeled(s, dir), "score", "good"),
      oracle = Some(
        s"""WITH $scoredLabeledSql,
           |j AS (
           |  SELECT CAST(round(score * 1000000) AS BIGINT) AS v,
           |         CASE WHEN good THEN 1 ELSE 0 END AS pos
           |  FROM sc JOIN lab USING (doc_id)),
           |pv AS (
           |  SELECT v, CAST(sum(pos) AS BIGINT) AS cp,
           |         CAST(count(*) - sum(pos) AS BIGINT) AS cn
           |  FROM j GROUP BY 1),
           |scan AS (
           |  SELECT v, cp, cn, cp + cn AS t,
           |         CAST(coalesce(sum(cp + cn) OVER (ORDER BY v
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |           AS BIGINT) AS p
           |  FROM pv),
           |agg AS (
           |  SELECT CAST(sum(cp) AS BIGINT) AS n_pos,
           |         CAST(sum(cn) AS BIGINT) AS n_neg,
           |         sum(CAST(cp AS DECIMAL(38,0)) * (2 * p + t + 1)) AS r2p
           |  FROM scan),
           |fin AS (
           |  SELECT n_pos, n_neg,
           |         CAST(r2p - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1)
           |           AS DOUBLE) / 2.0 / (CAST(n_pos AS DOUBLE) * n_neg) AS a
           |  FROM agg)
           |SELECT n_pos, n_neg, round(a, 6) AS auc,
           |       round(a * 2.0 - 1.0, 6) AS gini
           |FROM fin""".stripMargin)),

    // Decile lift / cumulative gains over a full-spread score (the
    // hashed quality score clusters in 2 deciles — this fixture
    // occupies all 10): "filter the top 20% of the corpus, keep
    // cum_gain of the good docs".
    Q("q_ext_lift", (s, dir) =>
      RankEval.liftTable(calScored(s, dir), "score", "good", bins = 10),
      oracle = Some(
        s"""WITH $calScoredSql,
           |pb AS (
           |  SELECT CAST(least(CAST(floor(score * 10) AS INT), 9) AS BIGINT)
           |           AS bin,
           |         CASE WHEN good THEN 1 ELSE 0 END AS pos
           |  FROM cal),
           |agg AS (
           |  SELECT bin, count(*) AS n, CAST(sum(pos) AS BIGINT) AS pos
           |  FROM pb GROUP BY 1),
           |tot AS (
           |  SELECT CAST(sum(n) AS BIGINT) AS t_n,
           |         CAST(sum(pos) AS BIGINT) AS t_pos
           |  FROM agg),
           |cum AS (
           |  SELECT a.bin, a.n, a.pos,
           |         CAST(sum(b.n) AS BIGINT) AS cum_n,
           |         CAST(sum(b.pos) AS BIGINT) AS cum_pos
           |  FROM agg a JOIN agg b ON b.bin >= a.bin GROUP BY 1, 2, 3)
           |SELECT bin, n, pos,
           |       round(CAST(pos AS DOUBLE) / n, 6) AS pos_rate,
           |       round((CAST(pos AS DOUBLE) / n)
           |         / (CAST(t_pos AS DOUBLE) / t_n), 6) AS lift,
           |       cum_n, cum_pos,
           |       round(CAST(cum_pos AS DOUBLE) / t_pos, 6) AS cum_gain,
           |       round((CAST(cum_pos AS DOUBLE) / cum_n)
           |         / (CAST(t_pos AS DOUBLE) / t_n), 6) AS cum_lift
           |FROM cum, tot""".stripMargin)),

    // Isotonic calibration on the same full-spread score — PAV with
    // no sequential pass (minimax identity over the 10-row bin table);
    // the monotone fix Reliability's curve decides to apply. The
    // overlap band's hash noise makes raw rates non-monotone, so the
    // gate exercises actual pooling.
    Q("q_ext_isotonic", (s, dir) =>
      Calibrate.isotonicBinned(calScored(s, dir), "score", "good",
        bins = 10),
      oracle = Some(
        s"""WITH $calScoredSql,
           |pb AS (
           |  SELECT CAST(least(CAST(floor(score * 10) AS INT), 9) AS BIGINT)
           |           AS bin,
           |         CASE WHEN good THEN 1 ELSE 0 END AS pos
           |  FROM cal),
           |agg AS (
           |  SELECT bin, count(*) AS n, CAST(sum(pos) AS BIGINT) AS pos
           |  FROM pb GROUP BY 1),
           |rg AS (
           |  SELECT a.bin AS j, b.bin AS k,
           |         CAST(sum(m.pos) AS DOUBLE) / sum(m.n) AS mean
           |  FROM agg a JOIN agg b ON b.bin >= a.bin
           |  JOIN agg m ON m.bin BETWEEN a.bin AND b.bin
           |  GROUP BY 1, 2),
           |f1 AS (
           |  SELECT i.bin AS i, r.j, min(r.mean) AS m1
           |  FROM agg i JOIN rg r ON r.j <= i.bin AND r.k >= i.bin
           |  GROUP BY 1, 2),
           |f AS (SELECT i, max(m1) AS fit FROM f1 GROUP BY 1)
           |SELECT a.bin, a.n, a.pos,
           |       round(CAST(a.pos AS DOUBLE) / a.n, 6) AS raw_rate,
           |       round(f.fit, 6) AS iso_rate
           |FROM agg a JOIN f ON f.i = a.bin""".stripMargin)),

    // Expected Calibration Error — the reliability curve folded to the
    // one number papers report; 9-dp decimal bin terms.
    Q("q_ext_ece", (s, dir) =>
      graft.ext.Reliability.ece(calScored(s, dir), "score", "good",
        bins = 10),
      oracle = Some(
        s"""WITH $calScoredSql,
           |j AS (
           |  SELECT CAST(least(CAST(floor(score * 10) AS INT), 9) AS BIGINT)
           |           AS bin,
           |         CAST(round(score, 6) AS DECIMAL(18,6)) AS s,
           |         CASE WHEN good THEN 1 ELSE 0 END AS pos
           |  FROM cal),
           |cv AS (
           |  SELECT bin, count(*) AS n,
           |         round(CAST(sum(s) AS DOUBLE) / count(*), 6) AS mean_score,
           |         round(CAST(sum(pos) AS DOUBLE) / count(*), 6) AS pos_rate
           |  FROM j GROUP BY 1),
           |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cv),
           |terms AS (
           |  SELECT t.t,
           |         CAST(round(CAST(n AS DOUBLE) / t.t
           |           * abs(pos_rate - mean_score), 9) AS DECIMAL(28,9))
           |           AS term
           |  FROM cv, t)
           |SELECT max(t) AS n, count(*) AS n_bins,
           |       round(CAST(sum(term) AS DOUBLE), 6) AS ece
           |FROM terms""".stripMargin)),

    // END-TO-END calibrated filtering: fit isotonic on the even half,
    // keep the bins whose calibrated rate clears 0.5, apply to the odd
    // half, report achieved precision vs base rate — the quality ops
    // composing into the decision they exist for.
    Q("q_ext_calibrated_filter", (s, dir) => {
      val all = calScored(s, dir)
      val train = all.filter(col("doc_id") % 2 === 0)
      val eval = all.filter(col("doc_id") % 2 =!= 0)
      val keptBins = Calibrate.isotonicBinned(train, "score", "good",
          bins = 10)
        .filter(col("iso_rate") >= 0.5).select("bin")
      val kept = eval
        .select(least(floor(col("score") * 10), lit(9)).cast("long")
          .as("bin"), col("good"))
        .join(broadcast(keptBins), "bin")
      def stats(df: DataFrame, n: String, g: String) =
        df.agg(count(lit(1)).as(n),
          sum(when(col("good"), 1L).otherwise(0L)).cast("long").as(g))
      train.agg(count(lit(1)).as("n_train"))
        .crossJoin(broadcast(stats(eval, "n_eval", "g_eval")))
        .crossJoin(broadcast(stats(kept, "n_kept", "g_kept")))
        .select(col("n_train"), col("n_eval"), col("n_kept"),
          when(col("n_kept") > 0,
            round(col("g_kept").cast("double") / col("n_kept"), 6))
            .as("precision"),
          round(col("g_eval").cast("double") / col("n_eval"), 6)
            .as("base_rate"))
    },
      oracle = Some(
        s"""WITH $calScoredSql,
           |tr AS (SELECT * FROM cal WHERE doc_id % 2 = 0),
           |ev AS (SELECT * FROM cal WHERE doc_id % 2 <> 0),
           |pb AS (
           |  SELECT CAST(least(CAST(floor(score * 10) AS INT), 9) AS BIGINT)
           |           AS bin,
           |         CASE WHEN good THEN 1 ELSE 0 END AS pos
           |  FROM tr),
           |agg AS (
           |  SELECT bin, count(*) AS n, CAST(sum(pos) AS BIGINT) AS pos
           |  FROM pb GROUP BY 1),
           |rg AS (
           |  SELECT a.bin AS j, b.bin AS k,
           |         CAST(sum(m.pos) AS DOUBLE) / sum(m.n) AS mean
           |  FROM agg a JOIN agg b ON b.bin >= a.bin
           |  JOIN agg m ON m.bin BETWEEN a.bin AND b.bin
           |  GROUP BY 1, 2),
           |f1 AS (
           |  SELECT i.bin AS i, r.j, min(r.mean) AS m1
           |  FROM agg i JOIN rg r ON r.j <= i.bin AND r.k >= i.bin
           |  GROUP BY 1, 2),
           |f AS (SELECT i, max(m1) AS fit FROM f1 GROUP BY 1),
           |keptb AS (SELECT i AS bin FROM f WHERE round(fit, 6) >= 0.5),
           |evb AS (
           |  SELECT CAST(least(CAST(floor(score * 10) AS INT), 9) AS BIGINT)
           |           AS bin,
           |         good
           |  FROM ev),
           |k AS (SELECT evb.* FROM evb JOIN keptb USING (bin))
           |SELECT (SELECT count(*) FROM tr) AS n_train,
           |       (SELECT count(*) FROM ev) AS n_eval,
           |       (SELECT count(*) FROM k) AS n_kept,
           |       CASE WHEN (SELECT count(*) FROM k) > 0
           |            THEN round((SELECT CAST(sum(CASE WHEN good THEN 1
           |                ELSE 0 END) AS DOUBLE) FROM k)
           |              / (SELECT count(*) FROM k), 6) END AS precision,
           |       round((SELECT CAST(sum(CASE WHEN good THEN 1 ELSE 0 END)
           |           AS DOUBLE) FROM ev)
           |         / (SELECT count(*) FROM ev), 6) AS base_rate""".stripMargin)),

    // NDCG@10 / MRR / P@10 / R@10 of the BM25 run against ≥2-term
    // match relevance — the list-metric gate for the retrieval stack.
    Q("q_ext_ndcg", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val qt = retrievalQueryTerms(s)
      val ranked = Search.bm25TopK(docs, "doc_id", "text", qt, 10)
      RankEval.retrievalMetrics(ranked, retrievalRelevant(docs, qt), 10)
    },
      oracle = Some(
        s"""WITH $retrievalRunSql,
           |dcgw AS (SELECT * FROM (VALUES ${RankEval.dcgWeightsSqlRows(10)})
           |  AS t(i, w, p)),
           |hits AS (
           |  SELECT run.query_id,
           |         CAST(sum(CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END)
           |           AS BIGINT) AS hits,
           |         min(CASE WHEN rel.doc_id IS NOT NULL THEN rank END)
           |           AS first_rel,
           |         sum(CASE WHEN rel.doc_id IS NOT NULL
           |           THEN CAST(dw.w AS DECIMAL(28,9))
           |           ELSE CAST(0 AS DECIMAL(28,9)) END) AS dcg
           |  FROM run
           |  LEFT JOIN rel ON rel.query_id = run.query_id
           |    AND rel.doc_id = run.doc_id
           |  JOIN dcgw dw ON dw.i = run.rank
           |  GROUP BY 1),
           |m AS (
           |  SELECT n.query_id, n.n_rel,
           |         coalesce(h.hits, 0) AS hits, h.first_rel,
           |         coalesce(h.dcg, CAST(0 AS DECIMAL(28,9))) AS dcg,
           |         CAST(iw.p AS DECIMAL(28,9)) AS idcg
           |  FROM nrel n
           |  LEFT JOIN hits h USING (query_id)
           |  JOIN dcgw iw ON iw.i = least(n.n_rel, 10))
           |SELECT query_id, n_rel, hits,
           |       round(CAST(hits AS DOUBLE) / 10, 6) AS p_at_k,
           |       round(CAST(hits AS DOUBLE) / n_rel, 6) AS recall_at_k,
           |       round(coalesce(1.0 / first_rel, 0.0), 6) AS mrr,
           |       round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6) AS ndcg
           |FROM m""".stripMargin)),

    // Distributed logistic-regression probe, trained ENGINE-EXACTLY:
    // 3 batch-GD rounds over the embeddings (label-0 one-vs-rest),
    // fixed-point sums + the rational sigmoid making every weight
    // bit-reproducible under any partitioning — and in DuckDB, which
    // replays all three rounds as chained CTEs. Final weights gated.
    Q("q_ext_lr_train", (s, dir) =>
      graft.ext.LogReg.train(Tables.embeddings(s, dir), "vec_id",
        "embedding", "label", posLabel = 0, rounds = LrRounds, lr = LrRate),
      oracle = Some(
        (lrCtes(LrRounds) +
          // decimal-pinned rounding, mirroring LogReg.train: double round
          // tie rules differ between engines on exact .xxxxxx5 weights
          s"\nSELECT CAST(j AS BIGINT) AS j, " +
          s"CAST(round(CAST(w AS DECIMAL(28,15)), 6) AS DOUBLE) AS weight " +
          s"FROM w$LrRounds"))),

    // The trained probe applied back as a corpus filter: threshold-0.5
    // confusion counts + accuracy — the publishable quality summary of
    // a trained keep/drop model, replayed end-to-end (training AND
    // scoring) by the oracle.
    Q("q_ext_lr_eval", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val w = graft.ext.LogReg.trainWeights(emb, "vec_id", "embedding",
        "label", posLabel = 0, rounds = LrRounds, lr = LrRate)
      graft.ext.LogReg.evalConfusion(emb, "vec_id", "embedding", "label",
        posLabel = 0, w)
    },
      oracle = Some(
        (lrCtes(LrRounds) +
          s""",
             |pf AS (SELECT t.vec_id,
             |  CASE WHEN t.x * w.w >= 0 THEN CAST(floor((t.x * w.w)*1e15 + 0.5) AS BIGINT)
             |       ELSE CAST(-floor(-((t.x * w.w)*1e15) + 0.5) AS BIGINT) END AS p
             |  FROM t JOIN w$LrRounds w USING (j)),
             |zf AS (SELECT vec_id,
             |  (CAST(sum(CASE WHEN p >= 0 THEN p // 16777216
             |       ELSE -((-p + 16777215) // 16777216) END) AS DOUBLE)*16777216.0
             |   + CAST(sum(p - (CASE WHEN p >= 0 THEN p // 16777216
             |       ELSE -((-p + 16777215) // 16777216) END) * 16777216)
             |       AS DOUBLE))/1e15 AS z
             |  FROM pf GROUP BY vec_id),
             |sc AS (SELECT e.y, (0.5 + 0.5 * z.z / (1 + abs(z.z))) >= 0.5 AS pred
             |  FROM zf z JOIN e USING (vec_id))
             |SELECT CAST(sum(CASE WHEN pred AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             |       CAST(sum(CASE WHEN pred AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             |       CAST(sum(CASE WHEN NOT pred AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
             |       CAST(sum(CASE WHEN NOT pred AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             |       round(CAST(sum(CASE WHEN pred = (y = 1.0) THEN 1 ELSE 0 END) AS DOUBLE)
             |             / count(*), 6) AS accuracy
             |FROM sc""".stripMargin))),
  )

  private final val LrRounds = 3
  /** Exactly representable in binary so the SQL literal is the same
    * double the engine multiplies with.
    */
  private final val LrRate = 32.0

  /** Chained-CTE DuckDB replay of [[graft.ext.LogReg]]'s engine-exact
    * GD (the bpeLearnCtes pattern): per round a fixed-point z sum, the
    * rational sigmoid error, a fixed-point gradient, and the
    * IEEE-ordered update `w − lr·(g/n)`. Dimension-generic (unnest over
    * range(len(v))).
    */
  private def lrCtes(rounds: Int): String = {
    def fx(v: String) =
      s"CASE WHEN $v >= 0 THEN CAST(floor(($v)*1e15 + 0.5) AS BIGINT) " +
        s"ELSE CAST(-floor(-(($v)*1e15) + 0.5) AS BIGINT) END"
    // High-24-bit split via positive-operand floor-division, NOT `>>`:
    // arithmetic right shift on negative BIGINTs is the exact
    // environment-sensitive construct the safe-alphabet law bans from
    // oracles (the canary's shr_neg row pins it; the covariance oracle
    // was purged the same way). floor(p/2^24) for p<0 spelled as
    // -((-p + 2^24 - 1) // 2^24).
    val hdiv =
      "CASE WHEN p >= 0 THEN p // 16777216 " +
        "ELSE -((-p + 16777215) // 16777216) END"
    val rebuild =
      s"(CAST(sum($hdiv) AS DOUBLE)*16777216.0 " +
        s"+ CAST(sum(p - ($hdiv) * 16777216) AS DOUBLE))/1e15"
    val base =
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |         CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END AS y
         |  FROM embeddings),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
         |t AS (SELECT vec_id, unnest(range(len(v))) AS j, unnest(v) AS x FROM e),
         |w0 AS (SELECT DISTINCT j, 0.0 AS w FROM t)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s"""p$r AS (SELECT t.vec_id, ${fx("t.x * w.w")} AS p
         |  FROM t JOIN w${r - 1} w USING (j)),
         |z$r AS (SELECT vec_id, $rebuild AS z FROM p$r GROUP BY vec_id),
         |e$r AS (SELECT z.vec_id, 0.5 + 0.5 * z.z / (1 + abs(z.z)) - e.y AS err
         |  FROM z$r z JOIN e USING (vec_id)),
         |q$r AS (SELECT t.j, ${fx("er.err * t.x")} AS p
         |  FROM t JOIN e$r er USING (vec_id)),
         |g$r AS (SELECT j, $rebuild AS g FROM q$r GROUP BY j),
         |w$r AS (SELECT w.j, w.w - $LrRate * (g.g / (SELECT n FROM nn)) AS w
         |  FROM w${r - 1} w JOIN g$r g USING (j))""".stripMargin
    }
    (base +: roundCtes).mkString(",\n")
  }

  /** A deterministic full-spread score for the lift / isotonic gates:
    * uniform md5 noise u ∈ [0,1) stretched over [0, 0.7) for bad docs
    * and [0.3, 1.0) for good ones — every decile occupied, classes
    * overlapping in [0.3, 0.7) so bin rates carry hash noise. Both
    * engines derive u from the same 3 hex digits.
    */
  private def calScored(s: SparkSession, dir: String): DataFrame = {
    val u = conv(substring(md5(concat(lit("cal"),
      col("doc_id").cast("string"))), 1, 3), 16, 10)
      .cast("long").cast("double") / 4096.0
    Tables.documents(s, dir)
      .select(col("doc_id"), (length(col("text")) >= 200).as("good"))
      .withColumn("score",
        round(u * 0.7 + when(col("good"), 0.3).otherwise(0.0), 6))
  }

  /** The learned quality score joined with its binary label — the
    * shared input of the AUC / lift / reliability evaluation gates.
    */
  private def scoredLabeled(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    QualityModel.hashedLinearScore(docs, "doc_id", "text", dim = 256,
        salt = "qm")
      .join(docs.select(col("doc_id"),
        (length(col("text")) >= 200).as("good")), "doc_id")
  }

  /** The fixed keyword queries of the retrieval-eval gate (a superset
    * shape of the q_ext_bm25 fixture — three multi-term queries).
    */
  private def retrievalQueryTerms(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      "q1" -> "spark", "q1" -> "join", "q1" -> "window",
      "q2" -> "customer", "q2" -> "order", "q2" -> "value",
      "q3" -> "fast", "q3" -> "slow", "q3" -> "filter", "q3" -> "scan")
      .toDF("query_id", "term")
  }

  /** Binary relevance judgments: a doc is relevant to a query iff it
    * contains ≥ 2 DISTINCT terms of it. Tokens are restricted to the
    * broadcast query vocabulary map-side (the BM25 postings shape), so
    * only matched (query, doc, term) rows reach the distinct shuffle.
    */
  private def retrievalRelevant(docs: DataFrame, qt: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(TextStats.tokens(col("text"))).as("term"))
      .join(broadcast(qt), "term")
      .select("query_id", "doc_id", "term").distinct()
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("nt"))
      .filter(col("nt") >= 2)
      .select("query_id", "doc_id")

  private val UserPrePostSql =
    """e AS (
      |  SELECT user_id,
      |         (CAST(floor(epoch(ts)) AS BIGINT) // 86400) % 2 = 0 AS pre,
      |         CAST(round(value, 6) AS DECIMAL(18,6)) AS v
      |  FROM events),
      |per AS (
      |  SELECT user_id,
      |         CAST(CAST(sum(CASE WHEN pre THEN v END) AS DECIMAL(38,12))
      |           AS DOUBLE) / sum(CASE WHEN pre THEN 1 END) AS x,
      |         CAST(CAST(sum(CASE WHEN NOT pre THEN v END) AS DECIMAL(38,12))
      |           AS DOUBLE) / sum(CASE WHEN NOT pre THEN 1 END) AS y
      |  FROM e GROUP BY 1
      |  HAVING sum(CASE WHEN pre THEN 1 ELSE 0 END) > 0
      |     AND sum(CASE WHEN NOT pre THEN 1 ELSE 0 END) > 0)""".stripMargin

  /** The hashed-linear quality score + length label as shared oracle
    * CTEs (mirrors q_ext_reliability's replay of
    * [[QualityModel.hashedLinearScore]]).
    */
  private def scoredLabeledSql: String = {
    val w = QualityModel.weightSql("bucket")
    s"""toks AS (
       |  SELECT doc_id,
       |         unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
       |  FROM documents),
       |b AS (
       |  SELECT doc_id,
       |         ((strpos('0123456789abcdef', substring(md5('qm' || t), 1, 1)) - 1) * 16
       |          + strpos('0123456789abcdef', substring(md5('qm' || t), 2, 1)) - 1)
       |           % 256 AS bucket
       |  FROM toks),
       |z AS (SELECT doc_id, avg($w) AS z FROM b GROUP BY 1),
       |sc AS (SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS score FROM z),
       |lab AS (SELECT doc_id, length(text) >= 200 AS good FROM documents)""".stripMargin
  }

  /** DuckDB replay of [[calScored]] — the same 3-hex-digit u and
    * stretch formula, spelled with the identical expression tree.
    */
  private def calScoredSql: String = {
    def hx(i: Int) =
      s"(strpos('0123456789abcdef', substring(md5('cal' || CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    s"""cal AS (
       |  SELECT doc_id, length(text) >= 200 AS good,
       |         round(CAST(${hx(1)} * 256 + ${hx(2)} * 16 + ${hx(3)}
       |             AS DOUBLE) / 4096.0 * 0.7
       |           + CASE WHEN length(text) >= 200 THEN 0.3 ELSE 0.0 END,
       |           6) AS score
       |  FROM documents)""".stripMargin
  }

  /** The BM25 ranked-run + relevance CTEs shared by the retrieval-eval
    * oracle (replays [[Search.bm25TopK]] exactly as q_ext_bm25 does,
    * then derives ≥2-distinct-term relevance from the same postings).
    */
  private def retrievalRunSql: String =
    """docs AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
      |  FROM documents),
      |stats AS (
      |  SELECT count(*) * 1.0 AS n_docs, avg(len(words) * 1.0) AS avgdl
      |  FROM docs),
      |qt AS (SELECT * FROM (VALUES
      |  ('q1', 'spark'), ('q1', 'join'), ('q1', 'window'),
      |  ('q2', 'customer'), ('q2', 'order'), ('q2', 'value'),
      |  ('q3', 'fast'), ('q3', 'slow'), ('q3', 'filter'), ('q3', 'scan'))
      |  AS t(query_id, term)),
      |postings AS (
      |  SELECT doc_id, len(words) * 1.0 AS dl, unnest(words) AS term
      |  FROM docs),
      |tf AS (
      |  SELECT doc_id, term, dl, count(*) AS tf FROM postings
      |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2, 3),
      |dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
      |contrib AS (
      |  SELECT t.doc_id, t.term,
      |         round(ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
      |               * (t.tf * (1.2 + 1.0))
      |               / (t.tf + 1.2 * (0.25 + (t.dl / avgdl) * 0.75)),
      |               7) AS c
      |  FROM tf t JOIN dfreq USING (term), stats),
      |scores AS (
      |  SELECT q.query_id, c.doc_id, round(sum(c.c), 4) AS score
      |  FROM contrib c JOIN qt q USING (term) GROUP BY 1, 2),
      |rr AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY score DESC, doc_id) AS rank FROM scores),
      |run AS (SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank
      |        FROM rr WHERE rank <= 10),
      |rel AS (
      |  SELECT query_id, doc_id FROM (
      |    SELECT q.query_id, p.doc_id, count(DISTINCT p.term) AS nt
      |    FROM tf p JOIN qt q USING (term) GROUP BY 1, 2)
      |  WHERE nt >= 2),
      |nrel AS (SELECT query_id, count(*) AS n_rel FROM rel GROUP BY 1)""".stripMargin
}
