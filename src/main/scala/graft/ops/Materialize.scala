package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

/** Plan-truncation barrier for BOUNDED intermediates (optimization
  * guide §3.3: "very wide unions/joins of many inputs produce enormous
  * plans … materialising an intermediate result (write + read back, or
  * `localCheckpoint`) truncates the plan").
  *
  * The fleet's iterated operators (Bradley-Terry MM rounds, PQ/IVF
  * codebook training feeding encode + LUT + probe, chained prefix
  * scans) reference small derived tables MANY times. Left as lazy
  * lineage, every reference re-inlines the producing subtree: the
  * round-9 plans measured 272 Exchanges / 3562 plan lines for two MM
  * iterations and 186 Exchanges for Kaplan-Meier — task binaries and
  * scheduling grow with the TEXTUAL plan, and duplicated broadcast
  * subtrees re-execute (exchange reuse only dedups byte-identical
  * exchanges).
  *
  * `bounded` materializes the frame once (executor-local checkpoint,
  * memory+disk) and hands lineage-free partitions to every consumer.
  *
  * Contract: callers may only pass frames whose size is BOUNDED by a
  * domain/model constant (an item table, a codebook, a pair-count
  * matrix over a fixed domain, a chunk directory) — never a frame that
  * grows with the corpus. This is a per-query materialization inside
  * the timed region: it computes from the inputs on every invocation,
  * caches nothing across runs, and changes no values — only how many
  * times the producing subtree appears in (and is executed from) the
  * consuming plan.
  */
object Materialize {

  /** Truncate lineage under a bounded derived frame. Idempotent: a
    * frame whose plan is already material — a checkpointed or persisted
    * RDD scan (a prior `localCheckpoint`), an in-memory (cached)
    * relation or a local relation — passes through unchanged instead of
    * being copied again. The same applies through a chain of
    * DETERMINISTIC row-local operators (Project/Filter) over such a
    * leaf: re-inlining a cheap projection of already-material
    * partitions into two consumers duplicates neither meaningful work
    * nor plan text, so paying a checkpoint job for it (r10 shape:
    * Kaplan-Meier re-checkpointed `perT.withColumn(...)` one job after
    * checkpointing `perT`) is pure overhead. Any other leaf (a file
    * scan, a range, an unpersisted RDD) is lazy — each consumer would
    * re-read it — and non-deterministic projections differ per inlined
    * copy, so both still checkpoint.
    */
  def bounded(df: DataFrame): DataFrame =
    // the ANALYZED plan (with cached frames substituted), not `.logical`:
    // Spark 4's withColumn leaves an UnresolvedStarWithColumns in the raw
    // plan whose contained unresolved function calls report
    // deterministic=true — resolution is what reveals a rand()/udf
    // projection as non-deterministic
    if (cheapOverMaterial(df.queryExecution.withCachedData)) df
    else df.localCheckpoint()

  private def cheapOverMaterial(p: LogicalPlan): Boolean = p match {
    case r: LogicalRDD =>
      r.rdd.isCheckpointed || r.rdd.getStorageLevel != StorageLevel.NONE
    case _: InMemoryRelation | _: LocalRelation => true
    case pr: Project =>
      pr.projectList.forall(_.deterministic) && cheapOverMaterial(pr.child)
    case f: Filter => f.condition.deterministic && cheapOverMaterial(f.child)
    case a: SubqueryAlias => cheapOverMaterial(a.child)
    case _ => false
  }
}
