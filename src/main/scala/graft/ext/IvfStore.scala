package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Bucketing

/** PERSISTED IVF index with O(new batch) incremental maintenance — the
  * embedding-side twin of the incremental MinHash near-dup store: a
  * corpus's ANN index must absorb daily ingest without retraining or
  * rebuilding.
  *
  *  - [[build]]: assign every corpus vector to its nearest (frozen)
  *    centroid and persist the postings `(id, vec, cell)` BUCKETED on
  *    `cell`, plus the centroid table itself. One assignment pass —
  *    the broadcast-centroids crossJoin folds to top-1 per vector via
  *    the TopKPerKey window spelling (bounded heap, no sort).
  *  - [[ingest]]: assign ONLY the new batch against the persisted
  *    centroids and append to the postings table. Work is O(batch ×
  *    centroids); the store is never rescanned, never reshuffled — the
  *    bucketed append adds one file per bucket.
  *  - [[searchStore]]: probe = rank the broadcast centroids per query,
  *    keep nProbe cells; candidates = postings ⋈ probed cells
  *    (broadcast probe side, so the store scan has ZERO exchange);
  *    exact cosine + per-query top-k over candidates only.
  *
  * Centroid drift under ingest is the documented trade: the quantizer
  * is frozen between retrains (exactly how production IVF serves —
  * index rebuilds are scheduled, not per-batch); recall degradation is
  * bounded by how far the new data's distribution walks from the
  * training corpus.
  */
object IvfStore {

  /** Nearest-centroid assignment: (id, vec, cell). Same ranking
    * contract as [[Similarity.ivfTopK]] (sim rounded to `simScale`,
    * ties to the lower centroid id) so the stored cells are
    * oracle-replayable.
    */
  def assign(vecs: DataFrame, centroids: DataFrame, simScale: Int = 4): DataFrame = {
    val cents = broadcast(centroids.select(col("id").as("cent_id"),
      Similarity.asDouble(col("vec")).as("cvec")))
    val w = Window.partitionBy("id").orderBy(col("csim").desc, col("cent_id"))
    vecs.select(col("id"), Similarity.asDouble(col("vec")).as("cv"))
      .crossJoin(cents)
      .withColumn("csim", round(Similarity.safeCosine(col("cv"), col("cvec")), simScale))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= 1)
      .select(col("id"), col("cv").as("vec"), col("cent_id").as("cell"))
  }

  /** Build the persisted index: postings bucketed on cell + the frozen
    * centroid table.
    */
  def build(corpus: DataFrame, centroids: DataFrame, store: String,
      buckets: Int = 8): Unit = {
    val spark = corpus.sparkSession
    val cenTable = s"${store}_centroids"
    // The in-memory catalog forgets tables across JVMs while the
    // warehouse directory persists — drop BOTH, or the rebuild dies
    // with LOCATION_ALREADY_EXISTS (same defense as Bucketing).
    spark.sql(s"DROP TABLE IF EXISTS `$cenTable`")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(wh, cenTable.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    centroids.select(col("id"), Similarity.asDouble(col("vec")).as("vec"))
      .write.mode("overwrite").saveAsTable(cenTable)
    Bucketing.writeBucketed(
      assign(corpus, centroids), s"${store}_postings", Seq("cell"), buckets)
  }

  /** Absorb a new batch: assign against the PERSISTED centroids, append
    * to the postings. O(batch) — the existing store is untouched.
    */
  def ingest(batch: DataFrame, store: String, buckets: Int = 8): Unit = {
    val spark = batch.sparkSession
    val cents = spark.table(s"${store}_centroids")
    Bucketing.appendBucketed(
      assign(batch, cents), s"${store}_postings", Seq("cell"), buckets)
  }

  /** ANN search against the persisted postings: nProbe cells per query,
    * exact cosine over the probed candidates only.
    */
  def searchStore(spark: SparkSession, queries: DataFrame, store: String,
      k: Int, nProbe: Int, simScale: Int = 4): DataFrame = {
    val postings = spark.table(s"${store}_postings")
    val cents = broadcast(spark.table(s"${store}_centroids")
      .select(col("id").as("cent_id"), col("vec").as("cvec")))
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("cent_id"))
    val probes = broadcast(queries
      .select(col("id").as("query_id"), Similarity.asDouble(col("vec")).as("qv"))
      .crossJoin(cents)
      .withColumn("csim", round(Similarity.safeCosine(col("qv"), col("cvec")), simScale))
      .withColumn("__r", row_number().over(probeW))
      .filter(col("__r") <= nProbe)
      .select(col("query_id"), col("qv"), col("cent_id").as("cell")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("id"))
    postings.join(probes, "cell")
      .filter(col("query_id") =!= col("id"))
      .withColumn("sim", round(Similarity.safeCosine(col("qv"), col("vec")), simScale))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("rank"), col("sim"))
  }
}
