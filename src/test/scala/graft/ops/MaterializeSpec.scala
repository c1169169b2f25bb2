package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Pins the r11 pass-through contract of [[Materialize.bounded]]: a
  * deterministic Project/Filter chain over an already-material leaf is
  * returned unchanged (no second checkpoint job), while anything with
  * real work under it — a lazy scan, an aggregate, or anything
  * non-deterministic, which two inlined copies could evaluate
  * differently — still checkpoints.
  */
class MaterializeSpec extends SparkTestBase {
  import spark.implicits._

  test("project/filter chain over a checkpointed leaf passes through") {
    val base = Seq((1L, 2L), (3L, 4L)).toDF("a", "b").localCheckpoint()
    val derived = base.withColumn("c", col("a") + col("b")).filter(col("a") > 0)
    assert(Materialize.bounded(base) eq base)
    assert(Materialize.bounded(derived) eq derived)
  }

  test("aggregates and non-deterministic projections still checkpoint") {
    val base = Seq((1L, 2L), (3L, 4L)).toDF("a", "b").localCheckpoint()
    val agg = base.groupBy("a").agg(sum("b").as("s"))
    assert(!(Materialize.bounded(agg) eq agg))
    assert(Materialize.bounded(agg).queryExecution.logical.children.isEmpty)
    val nondet = base.withColumn("r", rand(42))
    assert(!(Materialize.bounded(nondet) eq nondet))
  }

  test("a deterministic projection over a lazy scan still checkpoints") {
    val dir = java.nio.file.Files.createTempDirectory("graft-materialize").resolve("t").toString
    Seq((1L, 2L), (3L, 4L)).toDF("a", "b").write.parquet(dir)
    val scan = spark.read.parquet(dir).select((col("a") + col("b")).as("c"))
    val kept = Materialize.bounded(scan)
    assert(!(kept eq scan))
    assert(kept.queryExecution.logical.children.isEmpty)
    assert(kept.as[Long].collect().sorted.toSeq === Seq(3L, 7L))
    val range = spark.range(4).select((col("id") * 2).as("d"))
    assert(!(Materialize.bounded(range) eq range))
  }

  test("local and cached relations are material and pass through") {
    val local = Seq((1L, 2L)).toDF("a", "b").filter(col("a") > 0)
    assert(Materialize.bounded(local) eq local)
    val cached = spark.range(4).toDF("a").cache()
    try {
      val derived = cached.withColumn("b", col("a") + 1)
      assert(Materialize.bounded(derived) eq derived)
    } finally cached.unpersist()
  }
}
