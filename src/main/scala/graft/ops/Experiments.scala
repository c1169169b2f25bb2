package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Experimentation / multiple-testing operators.
  *
  * A pipeline that computes thousands of per-segment test statistics
  * ([[StatTests]]) needs an error-rate discipline before anyone acts
  * on them; Benjamini-Hochberg is the standard step-up procedure. The
  * scan shape mirrors the repo's other order statistics: a chunked
  * [[PrefixSum]] rank (never a single-partition window), one scalar
  * aggregate for the cut, and a broadcast of the one-row threshold.
  */
object Experiments {

  /** Benjamini-Hochberg FDR control at level `alphaNum/alphaDen`.
    * The threshold compare is spelled `p·den·m ≤ num·i` — one double
    * product against an exact integer — so any IEEE engine evaluates
    * it identically (a p sitting EXACTLY on the boundary still follows
    * its binary representation, e.g. 0.05·60 > 3; deterministic, just
    * not rational arithmetic).
    *
    * Input: (idCol, pCol) rows, p ∈ [0,1], (p, id) unique per row.
    * Output: every input row with its ascending p-rank `i`, the
    * step-up candidate flag `ok = p ≤ α·i/m`, and `rejected` = rank ≤
    * the LARGEST ok rank (the step-up cut) — null-free, full table, so
    * downstream joins can filter either way.
    */
  def bhFdr(df: DataFrame, idCol: String, pCol: String,
      alphaNum: Long, alphaDen: Long): DataFrame = {
    // p ∈ [0,1] is too narrow for integer chunking — scale by 2¹² (an
    // EXACT power-of-two multiply, so order and ties are untouched) to
    // spread the chunked scan across ~64 chunk keys.
    val ranked = PrefixSum.runningTotal(
        df.select(col(idCol), col(pCol).as("p"))
          .withColumn("one", lit(1L))
          .withColumn("ps", col("p") * lit(4096.0)),
        "ps", "one", "pfx", chunkSpan = 64L, tieBreak = Seq(idCol),
        // one row per hypothesis — data-sized, so it streams through the
        // scan instead of materializing
        boundedInput = false)
      .withColumn("i", col("pfx") + lit(1L))
    val m = ranked.agg(count(lit(1)).as("m"))
    val flagged = ranked.crossJoin(broadcast(m))
      // p ≤ (num/den)·(i/m) ⇔ p·den·m ≤ num·i, exact on both sides
      .withColumn("ok",
        col("p") * col("m").cast("double") * alphaDen.toDouble <=
          (lit(alphaNum) * col("i")).cast("double"))
    val cut = flagged.agg(
      coalesce(max(when(col("ok"), col("i"))), lit(0L)).as("i_cut"))
    flagged.crossJoin(broadcast(cut))
      // 0/1 BIGINT per the safe-alphabet law (raw BOOLEANs are
      // hash-render hazards at the driver compare)
      .select(col(idCol), round(col("p"), 6).as("p"), col("i"),
        col("ok").cast("long").as("ok"),
        (col("i") <= col("i_cut")).cast("long").as("rejected"))
  }

  /** Wald's Sequential Probability Ratio Test for a Bernoulli rate —
    * H0: p = p0 vs H1: p = p1 — the always-valid monitoring companion
    * to [[bhFdr]]'s batch correction: an experiment platform peeks at
    * this statistic continuously, and the SPRT boundaries (Wald 1945)
    * keep the peeking honest at error rates (α, β).
    *
    *   llr = k·ln(p1/p0) + (n−k)·ln((1−p1)/(1−p0))
    *   decide H1 when llr ≥ ln((1−β)/α), H0 when llr ≤ ln(β/(1−α)).
    *
    * ONE scalar count aggregate over the success column; the log
    * coefficients are Scala-side constants (no per-row transcendental)
    * and the decision thresholds are literals, so the whole test is a
    * count fold + a fixed IEEE tree. Output one row:
    * (n, k, rate, llr, accept_h1, accept_h0).
    */
  def sprt(df: DataFrame, successCol: Column, p0: Double, p1: Double,
      alpha: Double = 0.05, beta: Double = 0.2): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p1 != p0,
      s"rates must lie in (0,1) and differ: $p0, $p1")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"error rates must lie in (0,1): $alpha, $beta")
    val cPos = math.log(p1 / p0)
    val cNeg = math.log((1 - p1) / (1 - p0))
    val upper = math.log((1 - beta) / alpha)
    val lower = math.log(beta / (1 - alpha))
    df.agg(count(lit(1)).as("n"),
        sum(when(successCol, 1L).otherwise(0L)).cast("long").as("k"))
      .withColumn("llr",
        col("k").cast("double") * cPos +
          (col("n") - col("k")).cast("double") * cNeg)
      .select(col("n"), col("k"),
        round(col("k").cast("double") / col("n"), 6).as("rate"),
        round(col("llr"), 6).as("llr"),
        (col("llr") >= upper).cast("long").as("accept_h1"),
        (col("llr") <= lower).cast("long").as("accept_h0"))
  }
}
