package graft.io

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class SinksSpec extends SparkTestBase {
  import spark.implicits._

  test("cube sink: per-station reads prune partitions at the scan") {
    val cube = Seq(
      ("aaa", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      ("bbb", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 2.0)
    ).toDF("station", "time_utc", "GHI")
    val out = Files.createTempDirectory("graft-sink").resolve("cube").toString
    Sinks.writeCube(cube, out)

    val pruned = spark.read.parquet(out).filter($"station" === "aaa")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("station"), s"no partition pruning:\n$plan")
    assert(pruned.count() === 1)
    // epoch-seconds encoding present (the NetCDF time contract, F16)
    assert(pruned.select("time_epoch").as[Long].head() === 1704067200L)
  }

  test("cube sink: a file: URI gets _attributes.json beside the part files") {
    val cube = Seq(("aaa", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      .toDF("station", "time_utc", "GHI")
    val dir = Files.createTempDirectory("graft-sink").resolve("cube")
    Sinks.writeCube(cube, "file:" + dir)
    assert(Files.isDirectory(dir.resolve("station=aaa")))
    val attrs = dir.resolve("_attributes.json")
    assert(Files.exists(attrs), s"no sidecar in $dir")
    assert(Files.readString(attrs).contains("\"Conventions\": \"CF-1.8\""))
  }

  /** Visible files of a sink directory with their lines (`part-` names
    * cut to the prefix, checksums skipped).
    */
  private def listing(out: String): Seq[(String, Seq[String])] =
    Files.list(Paths.get(out)).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .map { p =>
        val n = p.getFileName.toString
        (if (n.startsWith("part-")) "part" else n, Files.readAllLines(p).asScala.toSeq)
      }
      .sortBy(_._1)

  test("writeCsv orders by the requested column and writes one header file") {
    // 8 input partitions of shuffled keys: the order must come from the sink
    val keys = new scala.util.Random(7).shuffle((1 to 500).toList)
    val df = keys.map(k => (k, s"v$k")).toDF("k", "v").repartition(8)
    assert(df.rdd.getNumPartitions === 8)
    val out = Files.createTempDirectory("graft-csv").resolve("out").toString
    Sinks.writeCsv(df, out, orderCol = Some("k"))
    val parts = listing(out).filter(_._1 == "part")
    assert(parts.length === 1, listing(out).map(_._1))
    val lines = parts.head._2
    assert(lines.head === "k,v")
    assert(lines.count(_ == "k,v") === 1)
    assert(lines.tail.map(_.split(",")(0).toInt) === (1 to 500))
    val back = spark.read.option("header", "true").csv(out)
      .select("k").as[String].collect().toSeq
    assert(back === (1 to 500).map(_.toString))
  }

  test("writeCsv of an empty input writes one header-only part file and _SUCCESS") {
    val local = Seq.empty[(Int, String)].toDF("k", "v")
    val scanned = spark.range(100).select(col("id").cast("int").as("k"), lit("x").as("v"))
      .where(col("k") < 0).repartition(8)
    val got = Seq(local, scanned).map { df =>
      val out = Files.createTempDirectory("graft-csv-empty").resolve("out").toString
      Sinks.writeCsv(df, out, orderCol = Some("k"))
      listing(out)
    }
    val headerOnly = Seq("_SUCCESS" -> Seq.empty[String], "part" -> Seq("k,v"))
    assert(got === Seq(headerOnly, headerOnly))
  }
}
