package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two tiers:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    Quadratic in candidates; at scale, use only with a broadcastable
  *    query set (crossJoin(broadcast(queries)) is linear in corpus).
  *  - [[bucketedTopK]]: sign-bit LSH (random-hyperplane style with
  *    axis-aligned planes) coarse quantizer — candidates shrink by
  *    ~2^bits, the scale path. Recall traded for throughput, standard
  *    IVF/LSH shape: bucket id is a shuffle key, never a cartesian.
  *
  * Dot products run in double via `zip_with` + `aggregate` — pure
  * expressions, codegen-friendly, deterministic left-to-right summation
  * (stable against the DuckDB oracle).
  */
object Similarity {

  /** Cast an `array<float>` to `array<double>` for stable math. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Composable higher-order form — correct but interpreted
    * (CodegenFallback); the operators below use the codegen'd native
    * expression [[graft.functions.VectorExpressions.CosineSimilarity]]
    * instead. Same left-to-right summation, identical results.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** [[cosine]] with the zero-norm guard for ANSI sessions: a raw 0/0
    * DOUBLE division THROWS under Spark's ANSI default (unlike the
    * native codegen'd expression, which emits the raw IEEE NaN), so
    * the interpreted HOF spelling needs the guard BEFORE the division.
    * Sentinel -1.0 = [[safeCosine]]'s (DuckDB's zero-norm value).
    */
  def cosineOrSentinel(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    when(denom > 0.0, dot(a, b) / denom).otherwise(lit(-1.0))
  }

  /** The codegen'd native cosine with the zero-norm guard every RANKED
    * cosine must use: a zero-norm operand gives 0/0 = NaN, and NaN ORDERS
    * DIFFERENTLY per argmin spelling — first under a `csim DESC`
    * window, last under `min(struct(-csim, …))`, ignored by a
    * strict-`>` fold — so one degenerate embedding would silently pick
    * a different cell depending on which spelling a query uses. The
    * sentinel is -1.0, NOT an arbitrary -2.0, because DuckDB's
    * `list_cosine_similarity` RETURNS -1.0 for a zero-norm operand
    * (verified on DuckDB 1.0.0): with nanvl(cos, -1.0) every engine
    * spelling and every oracle replay agree bit-for-bit on degenerate
    * input — a zero vector ties all centroids at -1.0 and the
    * ascending-id tie-break resolves identically everywhere.
    */
  private[ext] def safeCosine(a: Column, b: Column): Column =
    nanvl(graft.functions.VectorExpressions.vecCosine(a, b), lit(-1.0))

  /** Sign-bit bucket from the first `bits` dimensions: the LSH family
    * h(v) = sign(v·e_i). Deterministic, no trained state; swap the
    * axis planes for hashed pseudo-random planes without changing the
    * plan shape ([[hyperplaneBucket]]).
    */
  def signBucket(v: Column, bits: Int): Column =
    (0 until bits).map(i =>
      when(element_at(v, i + 1) > 0, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)

  /** Random-hyperplane LSH bucket, distribution-free: bit i is
    * sign(v · p_i) with plane p_i's components drawn as ±1 from
    * xxhash64(i, dim) — deterministic, no trained state, and unlike
    * [[signBucket]] not at the mercy of the first dimensions' variance.
    * Stays a pure expression (codegen'd hash + arithmetic per dim).
    */
  def hyperplaneBucket(v: Column, bits: Int, dims: Int): Column =
    (0 until bits).map { i =>
      val dotP = (0 until dims).map { d =>
        val sign = when(getbit(xxhash64(lit(i), lit(d)), lit(0)) === 1, 1.0).otherwise(-1.0)
        element_at(v, d + 1) * sign
      }.reduce(_ + _)
      when(dotP > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Exact top-k cosine neighbors of each query over the whole corpus.
    * `queries`/`corpus`: (id, vec) frames. Output: query_id, neighbor_id,
    * rank, sim (rounded to `simScale` for deterministic ranking; ties
    * broken by neighbor id).
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, simScale: Int = 4): DataFrame = {
    val q = queries.select(col("id").as("query_id"), asDouble(col("vec")).as("qv"))
    val c = corpus.select(col("id").as("neighbor_id"), asDouble(col("vec")).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(safeCosine(col("qv"), col("cv")), simScale))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** Exact top-k MAXIMUM-INNER-PRODUCT neighbors — the retrieval
    * objective of recommender / two-tower models, where the score is
    * q·v, NOT cosine (a long popular item should outrank a short
    * similar one). Same plan as [[bruteForceTopK]]: queries broadcast,
    * codegen'd native dot, TopKPerKey ranking on the rounded score
    * with id tie-break.
    */
  def mipsTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      dotScale: Int = 4): DataFrame = {
    val q = queries.select(col("id").as("query_id"), asDouble(col("vec")).as("qv"))
    val c = corpus.select(col("id").as("neighbor_id"), asDouble(col("vec")).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", round(
        graft.functions.VectorExpressions.vecDot(col("qv"), col("cv")),
        dotScale))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "dot")
  }

  /** The norm-augmentation reduction MIPS→cosine (Bachrach et al.
    * RecSys'14): with M = max corpus norm, append sqrt(M²−|v|²) to
    * every corpus vector and 0 to every query — cosine order on the
    * augmented space equals inner-product order on the originals
    * (all augmented corpus vectors share norm M; the query's norm is
    * a per-query constant). This is what lets the COSINE index stack
    * (IVF / LSH buckets) serve MIPS queries unchanged: augment at
    * index-build time, zero-pad at query time. Returns the augmented
    * (id, vec) frame; the max-norm aggregate broadcasts — data maps
    * in place.
    */
  def mipsAugmentCorpus(corpus: DataFrame): DataFrame = {
    val c = corpus.select(col("id"), asDouble(col("vec")).as("v"))
    val m = c.agg(max(sqrt(dot(col("v"), col("v")))).as("__m"))
    c.crossJoin(broadcast(m))
      .select(col("id"),
        concat(col("v"),
          array(sqrt(greatest(col("__m") * col("__m") -
            dot(col("v"), col("v")), lit(0.0))))).as("vec"))
  }

  /** Query-side counterpart of [[mipsAugmentCorpus]]: zero-pad. */
  def mipsAugmentQueries(queries: DataFrame): DataFrame =
    queries.select(col("id"),
      concat(asDouble(col("vec")), array(lit(0.0))).as("vec"))

  /** Hard-negative mining for contrastive training: per query, the
    * top-k most-similar corpus vectors whose LABEL differs —
    * similar-but-wrong is where the contrastive gradient lives; random
    * negatives are trivially separable. `queries`/`corpus`: (id, vec,
    * label) frames; output shape of [[bruteForceTopK]].
    *
    * Same plan as the brute-force baseline (queries broadcast,
    * TopKPerKey ranking — zero Sort nodes) with the label-exclusion
    * predicate fused BEFORE scoring, so excluded pairs never pay the
    * cosine. The scale path swaps the corpus cross join for an
    * IVF/LSH-bucketed candidate set exactly as ANN does.
    */
  def hardNegatives(
      queries: DataFrame, corpus: DataFrame, k: Int, simScale: Int = 4): DataFrame = {
    val q = queries.select(col("id").as("query_id"),
      asDouble(col("vec")).as("qv"), col("label").as("__ql"))
    val c = corpus.select(col("id").as("neighbor_id"),
      asDouble(col("vec")).as("cv"), col("label").as("__cl"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("__ql") =!= col("__cl"))
      .withColumn("sim", round(safeCosine(col("qv"), col("cv")), simScale))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** LSH-bucketed approximate top-k: candidates restricted to the query's
    * sign-bit bucket. Same output shape as [[bruteForceTopK]].
    */
  def bucketedTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      bits: Int = 8, simScale: Int = 4): DataFrame =
    bucketedTopKBy(queries, corpus, k, simScale, signBucket(_, bits))

  /** [[bucketedTopK]] with the distribution-free random-hyperplane family
    * ([[hyperplaneBucket]]) instead of first-dimension sign bits — the
    * production quantizer: real embeddings have correlated leading
    * dimensions, which skews [[signBucket]]'s occupancy; hashed ±1
    * hyperplanes spread mass over all `dims` coordinates. The plane
    * signs constant-fold at plan time, so per row this is just `dims`
    * adds per bit inside codegen.
    */
  def hyperplaneTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, dims: Int,
      bits: Int = 8, simScale: Int = 4): DataFrame =
    bucketedTopKBy(queries, corpus, k, simScale, hyperplaneBucket(_, bits, dims))

  private def bucketedTopKBy(
      queries: DataFrame, corpus: DataFrame, k: Int,
      simScale: Int, bucketOf: Column => Column): DataFrame = {
    val q = queries.select(col("id").as("query_id"), asDouble(col("vec")).as("qv"))
      .withColumn("bucket", bucketOf(col("qv")))
    val c = corpus.select(col("id").as("neighbor_id"), asDouble(col("vec")).as("cv"))
      .withColumn("bucket", bucketOf(col("cv")))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(safeCosine(col("qv"), col("cv")), simScale))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** IVF (inverted-file) approximate top-k — the trained-index shape of
    * ANN, with the training step replaced by deterministic corpus
    * sampling (a standard coarse-quantizer bootstrap; k-means iterations
    * would refine the same structure without changing the plan).
    *
    * Three stages, each scale-shaped:
    *  1. Assignment ("build the inverted file"): every corpus vector gets
    *     its nearest centroid via crossJoin(broadcast(centroids)) +
    *     `max_by` — the argmax folds in the partial aggregate, so the
    *     shuffle carries one row per corpus vector, never corpus × cells.
    *  2. Probing: each query ranks the (broadcast) centroids and keeps
    *     its `nProbe` nearest cells — work is queries × cells, query side
    *     assumed small.
    *  3. Scan: candidates = corpus rows whose cell is probed, via a
    *     broadcast join on cell id; exact cosine + per-query top-k window
    *     touches ~nProbe/nCells of the corpus per query instead of all
    *     of it.
    *
    * Ties everywhere break on the lower id after rounding to `simScale`,
    * keeping ranks deterministic and oracle-stable.
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      k: Int, nProbe: Int, simScale: Int = 4): DataFrame = {
    val cents = broadcast(
      centroids.select(col("id").as("cent_id"), asDouble(col("vec")).as("cvec")))

    // Nearest-cell assignment = top-1 per corpus vector, spelled as the
    // row_number window so the engine's own TopKPerKey operator executes
    // it (bounded heap; ≤1 row per vector per map partition reaches the
    // exchange). Audited against the min(struct) SortAggregate argmin on
    // a 10×-replicated sf0.1 corpus (SCALE.md, round 7): 0.90 s vs
    // 0.78 s warm, identical assignments — both map-side-bounded; kept
    // as the window form here to exercise the operator, semDeDup keeps
    // the argmin form.
    val assignW = Window.partitionBy("neighbor_id")
      .orderBy(col("csim").desc, col("cent_id"))
    val assigned = corpus
      .select(col("id").as("neighbor_id"), asDouble(col("vec")).as("cv"))
      .crossJoin(cents)
      .withColumn("csim", round(safeCosine(col("cv"), col("cvec")), simScale))
      .withColumn("cent_rank", row_number().over(assignW))
      .filter(col("cent_rank") <= 1)
      .select(col("neighbor_id"), col("cv"), col("cent_id").as("cell"))

    val probeW = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("cent_id"))
    val probes = broadcast(queries
      .select(col("id").as("query_id"), asDouble(col("vec")).as("qv"))
      .crossJoin(cents)
      .withColumn("csim", round(safeCosine(col("qv"), col("cvec")), simScale))
      .withColumn("probe_rank", row_number().over(probeW))
      .filter(col("probe_rank") <= nProbe)
      .select(col("query_id"), col("qv"), col("cent_id").as("cell")))

    val scored = assigned.join(probes, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(safeCosine(col("qv"), col("cv")), simScale))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** One deterministic Lloyd (k-means) iteration over an IVF coarse
    * quantizer's centroids: assign every corpus vector to its nearest
    * centroid (cosine, the same top-1 TopKPerKey plan [[ivfTopK]]'s
    * inverted-file build uses — no sort, no new plan shape), then
    * replace each centroid with its cell's per-dimension mean. Cells
    * that captured nothing keep their old centroid, so the cell count
    * is stable across iterations. Dimension means round to `dimScale`
    * — the determinism contract that keeps refined centroids identical
    * across partitionings (and engines, for the oracle).
    *
    * Scale shape per iteration: one crossJoin(broadcast(centroids))
    * scored pass (linear in corpus), one (cell, dim)-keyed
    * partially-aggregated shuffle for the means, one broadcast-sized
    * reassembly. Training is bounded sampled data in practice; chain
    * `iters` calls for k-means-n.
    */
  def lloydStep(
      corpus: DataFrame, centroids: DataFrame,
      simScale: Int = 4, dimScale: Int = 6): DataFrame = {
    val cents = broadcast(
      centroids.select(col("id").as("cent_id"), asDouble(col("vec")).as("cvec")))
    val assignW = Window.partitionBy("vid")
      .orderBy(col("csim").desc, col("cent_id"))
    val assigned = corpus
      .select(col("id").as("vid"), asDouble(col("vec")).as("cv"))
      .crossJoin(cents)
      .withColumn("csim", round(safeCosine(col("cv"), col("cvec")), simScale))
      .withColumn("cent_rank", row_number().over(assignW))
      .filter(col("cent_rank") <= 1)
      .select(col("vid"), col("cv"), col("cent_id").as("cell"))
    val means = assigned
      .select(col("cell"), posexplode(col("cv")).as(Seq("dim", "v")))
      .groupBy("cell", "dim")
      .agg(round(avg(col("v")), dimScale).as("m"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        s => s.getField("m")).as("nvec"))
    centroids
      .select(col("id"), asDouble(col("vec")).as("ovec"))
      .join(means.select(col("cell").as("id"), col("nvec")), Seq("id"), "left")
      .select(col("id"), coalesce(col("nvec"), col("ovec")).as("vec"))
  }

  /** `iters` chained [[lloydStep]]s (k-means-n), each materialized via
    * localCheckpoint so iteration N's plan does not replay 1..N-1 —
    * the bounded-iteration loop shape every distributed k-means uses.
    * Measured on the sf0.01 fixture (IvfTrainedSpec pins it): IVF recall
    * vs brute force at nProbe=4 goes 0.617 (sampled) → 0.717 after 3
    * iterations.
    */
  def lloyd(corpus: DataFrame, centroids: DataFrame, iters: Int,
      simScale: Int = 4, dimScale: Int = 6): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    (1 to iters).foldLeft(centroids) { (c, _) =>
      lloydStep(corpus, c, simScale, dimScale).localCheckpoint(true)
    }
  }

  /** Per-vector symmetric int8 quantization: codes = round(v/scale·127)
    * with scale = max|v_i|, returned as a (step, codes) struct — 4× the
    * density of float32 storage (8× vs double) at ≤ step/2 absolute
    * error per component, the standard first rung of embedding
    * compression below which you reach for product quantization. Pure
    * array expressions, no UDF; the zero vector quantizes to step 0 +
    * zero codes.
    */
  def quantizeInt8(v: Column): Column = {
    val vd = asDouble(v)
    val scale = array_max(transform(vd, x => abs(x)))
    val safe = when(scale > 0.0, scale).otherwise(lit(1.0))
    struct(
      (scale / 127.0).as("step"),
      transform(vd, x => round(x / safe * 127.0).cast("tinyint")).as("codes"))
  }

  /** Reconstruct the approximate vector from [[quantizeInt8]] output. */
  def dequantizeInt8(q: Column): Column =
    transform(q.getField("codes"), c => c.cast("double") * q.getField("step"))

  /** Embedding-cosine near-duplicate pairs: all pairs above `minCosine`
    * within the same sign-bucket (the dedup-flavored use of the ANN
    * path). Output: id_a < id_b, sim.
    */
  def cosineNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, bits: Int = 8, simScale: Int = 4): DataFrame = {
    val v = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("bucket", signBucket(col("v"), bits))
    v.as("a").join(v.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("sim", round(safeCosine(col("a.v"), col("b.v")), simScale))
      .filter(col("sim") >= minCosine)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("sim"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup by clustering
    * embeddings, then pruning within-cluster near-duplicates — the
    * cluster step turns the quadratic all-pairs scan into
    * sum(cellSize^2), which the centroid count controls (k ~ sqrt(N)
    * makes it linear-ish; the paper uses k = 11k for LAION-440M).
    *
    * Assignment: centroids broadcast, nearest cell via a map-side
    * `min(struct)` argmin (see inline note). The pair scan is a self-join
    * keyed ON THE CELL — vectors shuffle once by cell and pairs never
    * cross cells. `capPerCell` bounds the quadratic term per cell
    * (members ranked by id; overflow vectors are kept, not scanned) so
    * a degenerate mega-cluster degrades recall, not wall time — the
    * same hot-bucket defense as MinHash banding (Dedup.scala).
    *
    * Keep rule, one pass, deterministic: a vector is DROPPED iff some
    * lower-id vector in its cell has cosine >= tau with it. No
    * transitive closure here — chain resolution is [[Clusters]]'
    * large-star/small-star job, which composes downstream when wanted.
    *
    * Output: (vec_id, cell, kept, scanned) for every input vector.
    * `scanned=false` marks rows past `capPerCell` — they were KEPT
    * WITHOUT being compared (the hot-cell wall-time defense), so the
    * caller can see exactly which rows the cap exempted instead of
    * mistaking them for verified uniques (the same honesty contract as
    * [[graft.ops.Spatial.nearestGrid]]'s `guaranteed` flag).
    */
  def semDeDup(
      df: DataFrame, idCol: String, vecCol: String, centroids: DataFrame,
      tau: Double, capPerCell: Int = 10000, simScale: Int = 4): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    require(capPerCell > 1, s"capPerCell must exceed 1, got $capPerCell")
    val cents = broadcast(
      centroids.select(col("id").as("cent_id"), asDouble(col("vec")).as("cvec")))
    // Nearest-cell assignment as a partial-aggregable min(struct)
    // argmin (the Spatial.nearestBroadcast idiom): the vec × centroid
    // pair stream collapses map-side, one row per vector reaches the
    // exchange. Struct order (-csim, cent_id) = (csim DESC, cent_id
    // ASC), the same deterministic tie-break the oracle spells with
    // row_number; the vector rides in the last field, never compared
    // (cent_id is unique). Measured vs the TopKPerKey-rewritten window
    // form on a 10×-replicated sf0.1 corpus (SCALE.md, round 7):
    // 0.78 s vs 0.90 s warm, identical assignments — both bound the
    // shuffle; the argmin also skips the heap machinery.
    val assigned = df
      .select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .crossJoin(cents)
      .withColumn("csim", round(safeCosine(col("v"), col("cvec")), simScale))
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("csim")).as("nsim"), col("cent_id").as("cell"),
        col("v").as("v"))).as("best"))
      .select(col("vec_id"), col("best.v").as("v"), col("best.cell").as("cell"))
    val cellW = Window.partitionBy("cell").orderBy(col("vec_id"))
    val ranked = assigned.withColumn("m_rank", row_number().over(cellW))
    val scanned = ranked.filter(col("m_rank") <= capPerCell)
    val dropped = scanned.as("a").join(scanned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(round(safeCosine(col("a.v"), col("b.v")), simScale) >= tau)
      .select(col("b.vec_id").as("vec_id")).distinct()
    ranked.join(dropped.as("d"), ranked("vec_id") === col("d.vec_id"), "left")
      .select(ranked("vec_id"), col("cell"),
        // 0/1 BIGINT per the safe-alphabet law (raw BOOLEANs are
        // hash-render hazards at the driver compare)
        col("d.vec_id").isNull.cast("long").as("kept"),
        (ranked("m_rank") <= capPerCell).cast("long").as("scanned"))
  }

  /** Embedding-space outlier report against a pinned coarse quantizer:
    * every vector assigns to its nearest centroid (the same
    * partial-agg `min(struct)` argmin as [[semDeDup]] — one row per
    * vector reaches the exchange), then two deterministic flags:
    * `sparse_cell` (assigned cell has < `minCell` members — isolated
    * regions of embedding space, where mislabeled/garbage vectors
    * pool) and `far_from_centroid` (rounded cosine to the OWN cell's
    * centroid below `simFloor` — the vector fits nowhere, even its
    * best cell barely holds it). Emits only flagged rows:
    * (vec_id, cell, cos_to_centroid, cell_n, sparse_cell,
    * far_from_centroid), flags as INT.
    *
    * Plan: one pass over the vec × centroid pair stream (argmin agg,
    * shuffled by vec_id), then ONE window count by cell — two bounded
    * shuffles, no second pass over the pairs. Cell counts are
    * corpus-relative by design: at 10× the data a cell needs 10× the
    * members to stop being sparse, which is the statistic's meaning.
    */
  def embedOutliers(
      df: DataFrame, idCol: String, vecCol: String, centroids: DataFrame,
      minCell: Long, simFloor: Double, simScale: Int = 4): DataFrame = {
    require(minCell >= 1, s"minCell must be >= 1, got $minCell")
    val cents = broadcast(
      centroids.select(col("id").as("cent_id"), asDouble(col("vec")).as("cvec")))
    val assigned = df
      .select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .crossJoin(cents)
      .withColumn("csim", round(safeCosine(col("v"), col("cvec")), simScale))
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("csim")).as("nsim"), col("cent_id").as("cell")))
        .as("best"))
      // + 0.0: a csim that rounded to -0.0 would negate back to -0.0
      // here — normalized per the fleet-wide signed-zero ban
      .select(col("vec_id"), col("best.cell").as("cell"),
        (-col("best.nsim") + lit(0.0)).as("cos_to_centroid"))
    val cellW = Window.partitionBy("cell")
    assigned
      .withColumn("cell_n", count(lit(1)).over(cellW))
      .withColumn("sparse_cell", (col("cell_n") < minCell).cast("int"))
      .withColumn("far_from_centroid",
        (col("cos_to_centroid") < simFloor).cast("int"))
      .filter(col("sparse_cell") === 1 || col("far_from_centroid") === 1)
      .select("vec_id", "cell", "cos_to_centroid", "cell_n",
        "sparse_cell", "far_from_centroid")
  }

  /** Per-row nearest-centroid assignment as a PURE EXPRESSION over a
    * literal centroid table — the streaming-legal form of the IVF
    * assignment: no aggregation, no join, so it composes into a
    * micro-batch pipeline ahead of ONE stateful aggregate. Centroids
    * are a design CONSTANT at scale (the KeyShift pin), so they ride
    * into the plan as a single `typedLit` array and the argmin is one
    * HOF fold per row. Tie-break identical to [[ivfTopK]]: highest
    * `simScale`-rounded cosine, then LOWEST centroid id — the fold
    * visits ids ascending and replaces only on strict improvement.
    * Zero-norm operands take [[cosineOrSentinel]]'s -1.0 (the same
    * sentinel as [[safeCosine]]) — a bare NaN never wins a strict `>`
    * compare (silent divergence from the other argmin spellings), and
    * the interpreted 0/0 division would THROW outright under the
    * sessions' ANSI default.
    */
  def nearestCellExpr(
      vec: Column, cents: Seq[(Long, Seq[Double])], simScale: Int = 4): Column = {
    require(cents.nonEmpty, "centroid table must not be empty")
    val table = typedLit(cents.sortBy(_._1))
    aggregate(table,
      struct(lit(-1L).as("id"), lit(-2.0).as("s")),
      (acc, c) => {
        val sim = round(cosineOrSentinel(vec, c.getField("_2")), simScale)
        when(sim > acc.getField("s"),
          struct(c.getField("_1").as("id"), sim.as("s"))).otherwise(acc)
      },
      acc => acc.getField("id"))
  }

  /** Per-group mean vector (class prototype / cluster centroid), in
    * long format (key, dim, centroid) — the oracle-stable shape, and
    * the shape downstream per-dimension work (PCA-ish stats, per-dim
    * clipping) wants anyway.
    *
    * Scale shape: posexplode multiplies rows by the fixed embedding
    * dim, then ONE partially-aggregated shuffle on (key, dim) — the
    * mean is computed map-side first, so the shuffle carries one
    * partial per task per (key, dim), not the exploded data.
    */
  def groupCentroids(
      df: DataFrame, keyCol: String, vecCol: String, scale: Int = 6): DataFrame =
    df.select(col(keyCol).as("key"), posexplode(asDouble(col(vecCol))).as(Seq("dim", "v")))
      .groupBy(col("key"), col("dim").cast("long").as("dim"))
      .agg(round(avg(col("v")), scale).as("centroid"))

  /** Cosine similarity between every pair of group centroids — the
    * label-confusion / domain-drift probe over [[groupCentroids]].
    * Group count is small by construction, so the pair join broadcasts.
    */
  def centroidSimilarity(
      df: DataFrame, keyCol: String, vecCol: String, simScale: Int = 6): DataFrame = {
    val vecs = groupCentroids(df, keyCol, vecCol)
      .groupBy("key")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("centroid")))),
        s => s.getField("centroid")).as("v"))
    vecs.as("a").join(broadcast(vecs.as("b")), col("a.key") < col("b.key"))
      .select(col("a.key").as("key_a"), col("b.key").as("key_b"),
        round(safeCosine(col("a.v"), col("b.v")), simScale).as("sim"))
  }
}
