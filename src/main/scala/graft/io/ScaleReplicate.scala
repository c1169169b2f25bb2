package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** N× scale replication of the synthetic sf tables, for measured
  * scaling evidence (the "scaled" block in Bench's JSON): each fact
  * table is unioned `times` copies with per-replica perturbations
  * chosen so the WORKLOAD scales, not just the byte count:
  *
  *  - self-contained fact keys (order/event/user/doc/vec ids) shift by
  *    replica × 1e9: join fan-outs, group counts, and distinct-key
  *    cardinalities grow linearly instead of multiplying collisions;
  *    foreign keys into unreplicated dimensions (l_partkey, o_custkey)
  *    stay, as a real 10× data growth would leave them;
  *  - document text is caesar-shifted per replica — a bijection on
  *    [a-z], so within-replica shingle/minhash/simhash structure is
  *    preserved EXACTLY while cross-replica similarity collapses;
  *    dedup output then scales like real corpus growth instead of
  *    every replica pairing with every other;
  *  - embeddings rotate per replica: norms and within-replica angles
  *    unchanged, cross-replica neighborhoods scrambled;
  *  - timestamps are kept: per-bucket density grows `times`×, the
  *    realistic shape of more traffic over the same period.
  *
  * Generation is itself a distributed plan (crossJoin with a replica
  * range — no driver loops) and runs once per (source, times): a
  * sentinel file records the inputs and the copy is reused until they
  * change.
  */
object ScaleReplicate {

  /** Per-replica id shift. Public so fixed-query-set gates can pin
    * their query side to the base replica (`id < KeyShift`): replica 0
    * is ALWAYS the untouched source rows, so the predicate is a no-op
    * at base SF and holds the query set constant under replication.
    */
  val KeyShift = 1_000_000_000L
  private val Alpha = "abcdefghijklmnopqrstuvwxyz"

  /** Ensure a `times`× copy of `srcDir`'s tables exists at `dstDir`;
    * returns `dstDir`. Reuses an existing copy when the sentinel
    * matches (same source, same factor).
    */
  def ensure(spark: SparkSession, srcDir: String, dstDir: String, times: Int): String = {
    require(times >= 1, s"times must be >= 1: $times")
    val sentinel = Paths.get(dstDir, "_SCALED_OK")
    val tag = s"$srcDir x$times"
    if (Files.exists(sentinel) &&
        new String(Files.readAllBytes(sentinel), StandardCharsets.UTF_8) == tag)
      return dstDir

    val rep = spark.range(times).select(col("id").as("__r"))
    def src(t: String) = Parquet.read(spark, s"$srcDir/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dstDir/$t.parquet")

    def shifted(c: String): Column = col(c) + col("__r") * KeyShift

    // Per-replica caesar shift: translate's arguments are literals, so
    // the replica dispatch is a when-chain (times branches, codegen'd).
    def caesar(c: String): Column =
      (1 until times).foldLeft(when(col("__r") === 0, col(c))) { (acc, i) =>
        acc.when(col("__r") === i,
          translate(col(c), Alpha, Alpha.drop(i % 26) + Alpha.take(i % 26)))
      }

    // Per-replica array rotation by __r positions (replica 0 = identity).
    def rotated(c: String): Column =
      (1 until times).foldLeft(when(col("__r") === 0, col(c))) { (acc, i) =>
        acc.when(col("__r") === i,
          concat(slice(col(c), lit(i + 1), size(col(c)) - i),
            slice(col(c), lit(1), lit(i))))
      }

    // The source tables are single small files (one read partition);
    // crossJoin with the replica range keeps that partitioning, and a
    // single write task would produce ONE file with ONE giant row group
    // — every scaled read would then be single-threaded, measuring
    // parallelism loss instead of data growth. Spread the copy over
    // enough files that scans split the way a real N× dataset would.
    val outFiles = spark.sparkContext.defaultParallelism.max(times)
    def replicate(t: String)(cols: DataFrame => Seq[Column]): Unit = {
      val d = src(t)
      write(d.crossJoin(rep).select(cols(d): _*).repartition(outFiles), t)
    }

    replicate("lineitem") { d =>
      d.columns.toSeq.map {
        case c @ "l_orderkey" => shifted(c).as(c)
        case c => col(c)
      }
    }
    replicate("orders") { d =>
      d.columns.toSeq.map {
        case c @ "o_orderkey" => shifted(c).as(c)
        case c => col(c)
      }
    }
    replicate("events") { d =>
      d.columns.toSeq.map {
        case c @ ("event_id" | "user_id") => shifted(c).as(c)
        case c => col(c)
      }
    }
    replicate("documents") { d =>
      d.columns.toSeq.map {
        case c @ "doc_id" => shifted(c).as(c)
        case c @ "text" => caesar(c).as(c)
        case c => col(c)
      }
    }
    replicate("embeddings") { d =>
      d.columns.toSeq.map {
        case c @ "vec_id" => shifted(c).as(c)
        case c @ "embedding" => rotated(c).cast(d.schema(c).dataType).as(c)
        case c => col(c)
      }
    }
    // Dimension-like tables ride along unchanged so the directory is a
    // drop-in replacement for a sf dir.
    Seq("part", "supplier", "customer", "nation", "region").foreach { t =>
      write(src(t), t)
    }

    Files.createDirectories(Paths.get(dstDir))
    Files.write(sentinel, tag.getBytes(StandardCharsets.UTF_8))
    dstDir
  }
}
