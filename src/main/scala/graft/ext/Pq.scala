package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze, Schmid, TPAMI 2011) — the
  * compression rung below int8 ([[Similarity.quantizeInt8]]): split
  * each d-dim vector into `mSub` subspaces, learn a small per-subspace
  * codebook (bounded Lloyd, reusing [[Similarity.lloyd]]'s determinism
  * contract), store each vector as `mSub` small codes, and answer
  * top-k queries with ASYMMETRIC DISTANCE COMPUTATION: the query stays
  * exact, each candidate's similarity is estimated from a per-query
  * lookup table of subspace dot products. Dot products decompose
  * EXACTLY over subspaces (`q·x̂ = Σ_m q_m·c_m[code_m]`), which is why
  * ADC estimates inner-product / cosine search so well.
  *
  * Scale shape: codebooks are tiny (mSub × k centroids) and broadcast
  * everywhere; encoding is one scored pass per subspace with the same
  * top-1 TopKPerKey window as the IVF build; the ADC scan is
  * codes ⋈ broadcast LUT — linear in the corpus, never a cartesian on
  * vectors. At 100 TB the codes table is the point: 4 bytes/vector
  * here vs 256 (float32×64) — the memory ratio that lets a billion
  * -vector index fit a cluster.
  *
  * Determinism contract (what makes the gates hash-exact in DuckDB):
  * per-subspace similarities round at `simScale` before every argmax
  * (ties → centroid id), Lloyd dimension means round at `dimScale`,
  * and ADC sums its per-subspace LUT values as DECIMAL(18,6) — four
  * rounded doubles would re-order under partial aggregation, a decimal
  * sum cannot.
  */
object Pq {

  /** The m-th subspace slice (m in 0 until mSub), 1-based like slice(). */
  def subVec(v: Column, m: Int, subDim: Int): Column =
    slice(v, m * subDim + 1, subDim)

  /** Per-subspace codebooks `(sub, cent_id, cvec)`: init = the corpus
    * vectors passing `centFilter` (sliced per subspace), refined by
    * `iters` bounded Lloyd steps per subspace. Callers pin the filter
    * to the base replica under scale replication (the KeyShift idiom)
    * so the codebook stays FIXED-SIZE as the corpus grows — how PQ
    * trains in production (a bounded sample), and what keeps the
    * encode/ADC scaled ratio linear in corpus, not in corpus×codebook.
    */
  def trainCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      mSub: Int, subDim: Int, centFilter: Column, iters: Int,
      simScale: Int = 4, dimScale: Int = 6): DataFrame = {
    // The mSub subspace trainings are INDEPENDENT jobs (lloyd
    // checkpoints eagerly, so building them serially idles the cluster
    // through each training's straggler tail — optimization guide
    // §2.6): submit them from a small thread pool and union the
    // results in index order, which keeps the output deterministic.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val trained = (0 until mSub).map { m =>
      Future {
        val sub = corpus.select(col(idCol).as("id"),
          Similarity.asDouble(subVec(col(vecCol), m, subDim)).as("vec"))
        val init = sub.filter(centFilter)
        Similarity.lloyd(sub, init, iters, simScale, dimScale)
          .select(lit(m).as("sub"), col("id").as("cent_id"), col("vec").as("cvec"))
      }
    }
    trained.map(Await.result(_, Duration.Inf)).reduce(_ unionByName _)
  }

  /** Encode every vector as `(vec_id, sub, code)` — argmax-cosine
    * centroid per subspace, the same assignment rule training used.
    */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, mSub: Int, subDim: Int,
      simScale: Int = 4): DataFrame = {
    val subs = (0 until mSub).map { m =>
      corpus.select(col(idCol).as("vec_id"), lit(m).as("sub"),
        Similarity.asDouble(subVec(col(vecCol), m, subDim)).as("sv"))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy("vec_id", "sub")
      .orderBy(col("csim").desc, col("cent_id"))
    subs.join(broadcast(codebooks), Seq("sub"))
      .withColumn("csim", round(Similarity.safeCosine(col("sv"), col("cvec")), simScale))
      .withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select(col("vec_id"), col("sub"), col("cent_id").as("code"))
  }

  /** ADC top-k: per query, a broadcast LUT of 6-dp-rounded subspace
    * dot products; each candidate's estimated similarity is the
    * DECIMAL-exact sum of its codes' LUT entries. Output
    * `(query_id, neighbor_id, rank, est_sim)`, ties by neighbor id.
    */
  def adcTopK(queries: DataFrame, codes: DataFrame, codebooks: DataFrame,
      k: Int, mSub: Int, subDim: Int): DataFrame = {
    val qsubs = (0 until mSub).map { m =>
      queries.select(col("id").as("query_id"), lit(m).as("sub"),
        Similarity.asDouble(subVec(col("vec"), m, subDim)).as("qsv"))
    }.reduce(_ unionByName _)
    val lut = qsubs.join(codebooks, Seq("sub"))
      .select(col("query_id"), col("sub"), col("cent_id").as("code"),
        round(graft.functions.VectorExpressions.vecDot(col("qsv"), col("cvec")), 6)
          .cast("decimal(18,6)").as("l"))
    val est = codes.join(broadcast(lut), Seq("sub", "code"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("l")).as("est"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("est").desc, col("neighbor_id"))
    est.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("est").cast("double"), 6).as("est_sim"))
  }
}
