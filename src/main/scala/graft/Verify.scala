package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each [[SparkEntry.registry]] query's
  * result → parquet, plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.tuned(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Local-iteration escape hatch: run (and dump oracles for) a subset.
    // The driver never sets this, so the gate always sees the full map.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val qs = SparkEntry.registry.values.filter(q => keep(q.name)).toSeq
    qs.foreach { q =>
      System.err.println(s"[verify] running ${q.name}")
      try q.plan(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        failed += q.name
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    // Crash-loudness contract: a crashed query is simply ABSENT from the
    // driver's correctness JSON, and nothing downstream would notice the
    // declared surface silently shrank. Reconcile dumps against the
    // declared query map and leave a machine-readable diff in-tree.
    val declared = qs.map(_.name).sorted
    val missing = declared.filterNot(n =>
      Files.exists(Paths.get(s"$outDir/$n/_SUCCESS")))
    Files.writeString(Paths.get(s"$outDir/_verify_manifest.json"),
      s"""{"declared": ${declared.size}, "dumped": ${declared.size - missing.size},""" +
        s""" "missing": [${missing.map(Json.str).mkString(", ")}]}""")
    if (missing.nonEmpty)
      System.err.println(
        s"[verify] INCOMPLETE: ${missing.size}/${declared.size} declared " +
          s"queries wrote no output: ${missing.mkString(", ")}")
    else
      System.err.println(s"[verify] complete: ${declared.size}/${declared.size} dumped")
    val json = qs.flatMap(q => q.oracle.map(sql => s"${Json.str(q.name)}: ${Json.str(sql)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
