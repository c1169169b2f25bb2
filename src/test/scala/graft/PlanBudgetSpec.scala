package graft

import graft.obs.Profile

/** Shuffle-budget guardrail for flagship queries: each plan's
  * ShuffleExchange count is pinned to the number its design argues for
  * (SCALE.md). A regression that adds a shuffle — a lost broadcast
  * hint, a window that stops sharing its sort, an aggregate split in
  * two — fails here long before it shows up as a slow bench at scale.
  *
  * Counted on the NON-adaptive executed plan by [[Profile.shuffles]].
  * The queries are also BUILT with AQE off: a `localCheckpoint` taken
  * while building keeps its plan's output partitioning, which AQE's
  * final plan can drop (q_ext_entity_resolution's closure rounds then
  * plan one more exchange).
  */
class PlanBudgetSpec extends SparkTestBase {

  private lazy val noAqe = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private val sfDir = "/root/testdata/sf0.001"

  /** query -> max shuffles and why that number is the design. */
  private val budgets: Seq[(String, Int, String)] = Seq(
    ("q_a1_resample", 1, "one partially-aggregated shuffle"),
    ("q_j1_time_join", 2, "two aggregated sides; the time join broadcasts"),
    ("q_j2_broadcast_lookup", 1, "lookup side broadcast; one grouped agg"),
    ("q_s5_compile_cube", 0, "glob scan + broadcast metadata join is shuffle-free"),
    ("q_pipe_compare_all", 3, "two keyed series aggs + one co-keyed grouped regression"),
    ("q_w1_topk", 2, "revenue agg + bounded-heap top-k partial/final"),
    ("q_ext_dedup_exact", 1, "one fingerprint groupBy"),
    ("q_ext_cdc_apply", 2, "latest-wins keyed window + anti-join against the base"),
    ("q_ext_oov", 2, "vocab top-k agg + per-doc partial agg; vocab join broadcasts"),
    ("q_r5b_interpolate_keyed", 3, "densify grid + one shared keyed window sort"),
    ("q_ext_url_parse", 0, "pure regex/string projection — scan to output"),
    ("q_ext_domain_stats", 1, "broadcast anti-join blocklist + one partial-agg rollup"),
    ("q_ext_dedup_incremental_near", 4,
      "new-batch band window + candidate distinct + candidate-side join exchanges; " +
        "the STORE side never shuffles (IncrementalNearDupSpec pins that separately)"),
    ("q_ext_bloom_join", 1,
      "probe pruned by might_contain at the scan; dim side broadcasts; one grouped agg"),
    ("q_ext_incr_agg", 2,
      "one partial-agg shuffle per side; the fold join reuses both hash partitionings"),
    ("q_ext_gaps", 1, "one keyed lag window"),
    ("q_ext_skew_profile", 3,
      "per-key count agg (planned twice, reused at execution) + the one-row " +
        "summary's single-partition gather; top-N is TakeOrderedAndProject, no sort shuffle"),
    ("q_ext_conversations", 1,
      "one user-keyed window shuffle; the per-(user, session) assembly agg is " +
        "clustered by a superset key and reuses the window's partitioning"),
    ("q_ext_bm25", 6,
      "data-bearing: postings tf agg, term-window df, per-query score agg; " +
        "bounded: top-k final (k rows/query), single-row corpus stats, " +
        "query-vocab distinct — query map and stats broadcast"),
    ("q_ext_dsir", 4,
      "data-bearing: (doc, bucket) count + per-doc sum; bounded: bucket-stats " +
        "agg (<= 4096 rows) + its single-row total fold, both broadcast back"),
    ("q_ext_preference_pairs", 1,
      "chosen/rejected are max/min struct aggregates — ONE map-side-combined " +
        "shuffle on the prompt key, no window, no sort"),
    ("q_ext_pagerank", 9,
      "3 setup aggs (nodes distinct, out-degree, |V|) + the 5 power iterations' " +
        "join/agg chain reusing partitionings — a 10th exchange means an " +
        "iteration stopped sharing its partitioning"),
    ("q_ext_source_overlap", 4,
      "(source, fp) distinct + fp-keyed self-join sides + pair agg; " +
        "set sizes broadcast back"),
    ("q_ext_boilerplate", 0, "pure per-row string predicates — scan to output"),
    ("q_ext_span_corrupt", 0, "per-row HOF masking — scan to output"),
    ("q_ext_bpe_decode", 0, "codegen'd encode+decode round-trip — scan to output"),
    ("q_ext_group_split", 0, "hash-of-group-key predicate — scan to output"),
    ("q_ext_shuffle_export", 1,
      "the export itself is one hash shuffle (separate write job); the gate's " +
        "read-back digest agg is the single counted exchange"),
    ("q_ext_unicode_nfc", 0, "codegen'd normalizer — scan to output"),
    ("q_ext_script_profile", 0, "replace-length counting — scan to output"),
    ("q_ext_bigram_lm", 9,
      "ONE position-sized exchange (doc grams onto the finished lookup) " +
        "+ the per-doc partial agg; the rest are gram/term-TYPE-sized: " +
        "bigram + unigram count aggs, the distinct-gram dedup, its w1/w2 " +
        "lookup joins and re-key, the one-row totals gather — NOTHING " +
        "vocabulary-sized broadcasts (asserted below; the round-8 " +
        "broadcast of ctx/cont grew linearly with the vocab)"),
    ("q_ext_seq_pairs", 1,
      "one keyed shuffle on the entity; the bounded ROWS window sorts " +
        "within partitions, no second exchange"),
    ("q_ext_rrf", 12,
      "two full scorer subtrees (bm25: postings agg + df window + score " +
        "agg; overlap: distinct + agg) + fusion agg + fused ranking — " +
        "each input list is already top-k-bounded"),
    ("q_ext_covariance", 1,
      "ONE (i,j)-keyed partial aggregate of fixed-point long sums — dim² " +
        "groups, never vectors; a second exchange means the sufficient " +
        "stats stopped folding map-side"),
    ("q_ext_embedding_drift", 2,
      "one dim-keyed moment aggregate per side; the dim-sized join " +
        "reuses both partitionings"),
    ("q_ext_calibrate", 2,
      "per-source + pooled percentile aggregates; pooled side broadcasts " +
        "onto the grid join"),
    ("q_ext_calibrate_apply", 2,
      "the same two table aggregates; map collapse and application are " +
        "broadcast joins — the DATA never shuffles"),
    ("q_ext_weighted_sample", 0,
      "TakeOrderedAndProject (per-partition heaps + k-row gather) + the " +
        "k-row rank window — no exchange at all"),
    ("q_ext_weighted_sample_grouped", 1,
      "TopKPerKey partial/final pair on the group key — one exchange of " +
        "k-per-key survivors"),
    ("q_ext_auc", 10,
      "data-bearing: score-domain agg + the chunked PrefixSum's window " +
        "and chunk-totals exchanges; the rest are chunk-directory-sized " +
        "(bounded by #chunks, not rows) + the one-row final fold"),
    ("q_ext_lift", 2,
      "one bins-row partial agg + the bins-row cumulation fold; totals " +
        "broadcast back"),
    ("q_ext_isotonic", 2,
      "the same bins-row agg; the PAV minimax runs entirely on broadcast " +
        "triangular self-joins of the bins table"),
    ("q_ext_winnowing", 2,
      "fingerprinting is map-side array algebra — only the fp-count agg " +
        "and the pair agg exchange; the fp self-join reuses the count's " +
        "partitioning"),
    ("q_ext_twa", 1,
      "one keyed window scan; integral, span and count fold in the " +
        "window's partitioning"),
    ("q_ext_cos_histogram", 1,
      "the 512-row md5 top-k sample is TakeOrderedAndProject (bounded " +
        "heaps, no sort exchange) and broadcasts both pair sides; one " +
        "bins partial agg"),
    ("q_ext_interval_join", 2,
      "per-(user, day) interval agg feeds both sides; the bin join and " +
        "overlap filter add one exchange — a third means the dedup " +
        "started reshuffling pairs"),
    ("q_ext_ref_integrity", 3,
      "child key agg + parent distinct + the co-keyed left join's " +
        "single-row fold — child rows never cross the wire raw"),
    ("q_ext_vocab_coverage", 8,
      "ONE corpus token agg; every other exchange is the chunked " +
        "PrefixSum's vocabulary-sized scan — the corpus is never " +
        "rescanned per requested size"),
    ("q_ext_mips", 1,
      "queries broadcast onto the corpus scan; ONE bounded top-k " +
        "partial/final exchange"),
    ("q_ext_interval_coalesce", 1,
      "one keyed window sort; the per-span aggregate reuses its " +
        "partitioning"),
    ("q_ext_huber", 3,
      "mean pass + reweight pass partial aggs; the key-sized mean table " +
        "broadcasts back onto the scan"),
    ("q_ext_jackknife", 2,
      "one source-keyed partial agg + its one-row total fold — LOO " +
        "means need no per-source rescan"),
    ("q_ext_new_users", 2,
      "first-seen user agg + days-sized agg; cumulation is a broadcast " +
        "triangular join"),
    ("q_ext_neg_sampling", 1,
      "bounded top-V heap (TakeOrdered) + ONE exchange; cumulation " +
        "broadcast-triangular"),
    ("q_ext_sprt", 1, "one scalar count fold — the whole test"),
    ("q_ext_iv", 2,
      "one two-cell decimal aggregate; arms fold from its output"),
    ("q_ext_langid_confusion", 2,
      "languages²-bounded cell agg + the class-total fold"),
    ("q_ext_psi", 4,
      "two bins-bounded side aggs + the all-bins join and one-row fold " +
        "— both bounded by the grid, never by rows"),
    ("q_ext_ece", 4,
      "the reliability-curve agg + bins-sized total and term folds"),
    ("q_ext_heavy_hitters", 3,
      "MG summary agg (single row), exact token counts, corpus total — " +
        "all partial-aggregated; summary and total broadcast back"),
    ("q_ext_bpe_compress", 2,
      "word-dictionary aggregate + the one-row compression fold; merge " +
        "application is a per-row expression"),
    ("q_ext_schema_merge", 0,
      "mergeSchema scan-union straight to output (generation writes are " +
        "separate jobs)"),
    ("q_ext_expectations", 2,
      "the WHOLE five-constraint suite is one Aggregate: the Expand-planned " +
        "distinct rewrite's keyed exchange + the single-row final gather — a " +
        "third exchange means a constraint stopped sharing the pass"),
    ("q_ext_hll_distinct", 2,
      "exact distinct (Expand rewrite) and the HLL register buffer ride ONE " +
        "grouped aggregate: keyed partial + final — constant-size sketch rows " +
        "cross the wire, never values"),
    ("q_ext_hll_union", 4,
      "per-shard sketch agg + the union's single-row gather + the direct " +
        "side's distinct pair; both one-row sides meet in a broadcast " +
        "cross join, no data-bearing join exchange"),
    ("q_ext_zscore_roll", 1,
      "one keyed window shuffle; sums, counts and both moments share the " +
        "single trailing-frame sort"),
    ("q_ext_mad_outliers", 3,
      "median agg + deviation-median agg + the fenced count — the per-key " +
        "medians travel back by broadcast, the data never joins key-to-key"),
    ("q_ext_climatology", 1,
      "one (key, hour) partial-agg shuffle — 24·|keys| output rows"),
    ("q_ext_seasonal_anomaly", 1,
      "the profile's single aggregate; application is a broadcast join " +
        "onto the scan, the data never shuffles to be scored"),
    ("q_ext_triangles", 5,
      "edge dedup + one degree agg + the wedge self-join and closing join " +
        "keyed on the low-ordered vertex; the one-row scalar folds meet by " +
        "broadcast — degree-ordered orientation bounds wedge fan-out at √m"),
    ("q_ext_cohen_kappa", 5,
      "ONE data-bearing shuffle (the confusion-cell count); totals, both " +
        "marginals and the pe product all fold over the bounded cell table"),
    ("q_st13_stream_distinct", 4,
      "batch exact side: windowed distinct (Expand pair); stream estimate " +
        "is read back from the memory sink; the window-key join of two " +
        "aggregated sides reuses their partitionings"),
    ("q_ext_hll_store", 3,
      "direct-sketch + exact-distinct aggregate (Expand pair) over the raw " +
        "range + the |days|-row store union's single-row gather; store " +
        "build/ingest are separate write jobs, the range QUERY never " +
        "touches raw data"),
    ("q_ext_theil_sen", 4,
      "TopKPerKey bounded-heap sample (one keyed exchange) + the k-row " +
        "self-join pair sides + the per-key percentile agg — pair work " +
        "capped at C(k,2) per key by construction"),
    ("q_ext_reliability", 2,
      "the scorer's one doc-keyed agg + the bins-sized calibration agg; " +
        "the label join is doc-keyed and reuses the score partitioning"),
    ("q_ext_entity_resolution", 2,
      "block-keyed candidate join + the entity rollup in the FINAL plan; " +
        "closure rounds run as separate localCheckpoint jobs, each one " +
        "star-join (ClustersSpec pins the round shape)"),
    ("q_ext_weighted_median", 1,
      "one keyed exchange: cumulative-weight and total-weight windows share " +
        "the single sort, the qualifying-row aggregate reuses the partitioning"),
    ("q_ext_jsd", 3,
      "one token-keyed paired-count aggregate (data-bearing) + the one-row " +
        "totals gather + the one-row divergence reduce; totals broadcast " +
        "back onto the vocab table"),
    ("q_ext_temporal_split", 11,
      "data-bearing: the per-day count aggregate + the gate report agg; " +
        "the other exchanges move the |days|-sized directory through " +
        "PrefixSum's chunk/block machinery — bounded by the date range, " +
        "not the data"),
    ("q_x8_tpch_q3", 1,
      "at the pin's SF the filtered orders side is under the broadcast " +
        "threshold, so the fact join is a BHJ and the ONE exchange is the " +
        "grouped revenue; top-10 is TakeOrderedAndProject (at cluster scale " +
        "the same plan degrades gracefully to an SMJ's two exchanges)"),
    ("q_x9_tpch_q5", 1,
      "region/nation/customer/supplier AND the date-filtered orders all " +
        "broadcast — six tables, one n_name regroup exchange"),
    ("q_ext_chunking", 0,
      "row-local array expressions — scan to output, no exchange at all"),
    ("q_ext_dedup_jaccard_pruned", 6,
      "data-bearing: postings agg, capped-index self-join sides, pair agg, " +
        "two size joins; hot-token and doc-count frames broadcast; the " +
        "posting-cap window rides the postings exchange"),
    ("q_ext_semdedup", 5,
      "centroids broadcast; ONE min(struct) argmin exchange (one row per " +
        "vector, never vec × cells), the cell-rank window, the dup " +
        "distinct and the kept-join sides — a sixth means assignment " +
        "stopped folding map-side"),
    ("q_ext_ann_ivf", 3,
      "centroids and probes broadcast; the inverted-file top-1 exchange " +
        "(bounded heap, one row per vector), the scan's cell join side, " +
        "and the final per-query top-k partial/final pair"),
    ("q_ext_editdist", 4,
      "inverted-index pair agg + two size joins ride the candidate side; " +
        "the per-doc cap window reuses a pair exchange; the hash-key " +
        "repartition before the distance map is deliberate (AQE must not " +
        "serialize the CPU-bound levenshtein pass)"),
    ("q_x3_cube", 2,
      "ONE partially-aggregated data shuffle to the (flag, status) base " +
        "cells + the CUBE lattice over ~6 rows — Expand multiplies the " +
        "cell table, never the fact table"),
    ("q_ext_dedup_containment", 2,
      "the Jaccard index's postings/pair machinery with exchange reuse: " +
        "the sizes agg and the pair agg; containment itself is row-local " +
        "integer arithmetic on the carried sizes"),
    ("q_ext_dp_counts", 1,
      "ONE key-domain-bounded count agg; the Laplace draw is per-group " +
        "scalar arithmetic, zero extra exchanges"),
    ("q_ext_token_fertility", 1,
      "one partial-agg groupBy on the constant-cardinality lang key; " +
        "both micro-ratios are row-local integer DIVs on the agg output"),
    ("q_ext_embed_outliers", 2,
      "centroids broadcast; the min(struct) argmin exchange (one row per " +
        "vector reaches the wire) + the cell-partitioned window count — " +
        "a third means assignment stopped folding map-side"),
    ("q_ext_bigram_kn", 13,
      "ONE position-sized exchange (doc grams onto the finished lookup) " +
        "+ the per-doc partial agg; the rest are type-sized: bigram agg, " +
        "ctx/cont re-keys of it, the distinct-gram dedup and its three " +
        "lookup joins, the scalar types gather — ctx/cont are " +
        "vocabulary-sized and must NEVER broadcast (asserted below)"),
    ("q_ext_neyman_alloc", 2,
      "one stratum-keyed integer-moment agg + the strata-table total's " +
        "single-row gather (broadcast back); allocation is row-local"),
    ("q_ext_dup_rate_by_source", 2,
      "ONE grouped aggregate: the Expand-rewritten exact-distinct's " +
        "keyed partial/final pair — the micro-rate is row-local DIV"),
    ("q_ext_curriculum", 0,
      "the RETURNED plan is scan + row-local phase expression against " +
        "literal thresholds; the boundary order statistics run as " +
        "separate bounded jobs (value-table agg + PrefixSum directory) " +
        "at build time — the data itself never shuffles to be phased"),
    ("q_ext_mix_mw", 2,
      "one per-source partial agg + the one-row pivot gather; the MW " +
        "round chain is a one-row named-projection ladder, zero " +
        "exchanges"),
    ("q_ext_nearest_station", 1,
      "the deliberate probe repartition is keyed on the PROBE ID, so " +
        "the per-probe argmin aggregate reuses that partitioning — one " +
        "exchange total unlocks core-count parallelism on the " +
        "haversine pair scan"),
    ("q_ext_incr_recall", 3,
      "the incremental probe's band/candidate exchanges; the exact " +
        "ground-truth cross join broadcasts the PINNED hist side " +
        "(build side asserted below), the batch side streams"))

  budgets.foreach { case (name, max, why) =>
    test(s"$name stays within $max shuffle(s): $why") {
      val n = Profile.shuffles(SparkEntry.queries(name)(noAqe, sfDir))
      assert(n <= max, s"$name plans $n shuffles (budget $max — $why); " +
        s"`graft.tools.Probe $name $sfDir spark.sql.adaptive.enabled=false plans=<dir>` " +
        "writes its plan")
    }
  }

  /** q_ext_incr_recall's ground-truth cross join must broadcast the
    * PINNED 50-doc hist side (`doc_id < 250`), never the batch side
    * that grows with the corpus — broadcasting a data-sized frame of
    * full shingle arrays is a driver/executor-memory scale-killer
    * (round-7 verdict, What's wrong #1). Pinned on the
    * BroadcastNestedLoopJoin's build side directly.
    */
  test("q_ext_incr_recall broadcasts the pinned hist side, not the growing batch") {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val plan = SparkEntry.queries("q_ext_incr_recall")(noAqe, sfDir)
      .queryExecution.executedPlan
    val bnlj = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.nonEmpty, s"expected a broadcast cross join in:\n$plan")
    bnlj.foreach { j =>
      val build = j.buildSide match {
        case BuildRight => j.right
        case BuildLeft => j.left
      }
      val s = build.toString
      assert(!s.contains(">= 250"),
        s"the GROWING batch side (doc_id >= 250) is being broadcast:\n$j")
      assert(s.contains("< 250"),
        s"broadcast build side is not the pinned hist (doc_id < 250):\n$j")
    }
  }

  /** The bigram scorers must never broadcast a VOCABULARY-keyed frame
    * (round-8 scale bug: the vocab grows linearly under the harness's
    * caesar replication and without bound on a web crawl, so a
    * broadcast of ctx/cont/unigram counts breaches any memory budget
    * at 100 TB). The only legal broadcast in either plan is the
    * one-ROW scalar totals frame — pinned on the broadcast node's
    * output schema, which is scalar aggregate columns only.
    */
  for ((q, scalarCols) <- Seq(
      "q_ext_bigram_lm" -> Set("n_total", "v_size"),
      "q_ext_bigram_kn" -> Set("n_types"))) {
    test(s"$q broadcasts only the one-row scalar totals, never the vocabulary") {
      import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
      val plan = SparkEntry.queries(q)(noAqe, sfDir).queryExecution.executedPlan
      val bcs = plan.collect { case b: BroadcastExchangeLike => b }
      assert(bcs.nonEmpty, s"expected the scalar totals broadcast in:\n$plan")
      bcs.foreach { b =>
        val cols = b.schema.fieldNames.toSet
        assert(cols.subsetOf(scalarCols),
          s"$q broadcasts a non-scalar frame (${cols.mkString(",")}) — " +
            s"a vocabulary-keyed broadcast is the 100 TB scale bug:\n$b")
      }
    }
  }

  /** The shared-plan win of [[graft.ops.PrefixSum.runningTotals]]: all N
    * value columns ride ONE chunk window, ONE chunk directory, and ONE
    * block scan, so the exchange count must not grow with N. Pinned as
    * 3-column == 1-column (the sharing invariant), not just an absolute
    * cap — a regression that re-plans the directory per column would
    * keep a generous cap green while tripling the shuffles.
    */
  test("runningTotals: exchange count is independent of the column count") {
    import org.apache.spark.sql.functions.col
    def shuffles(pairs: Seq[(String, String)]) = {
      val df = noAqe.range(1000).select(
        col("id").as("ord"), (col("id") % 7).as("v1"),
        (col("id") % 5).as("v2"), (col("id") % 3).as("v3"))
      Profile.shuffles(graft.ops.PrefixSum.runningTotals(df, "ord", pairs, chunkSpan = 100L))
    }
    val one = shuffles(Seq("v1" -> "p1"))
    val three = shuffles(Seq("v1" -> "p1", "v2" -> "p2", "v3" -> "p3"))
    assert(three === one,
      s"3-column runningTotals plans $three exchanges vs $one for 1 column " +
        "— the shared chunk/directory/block scan has stopped being shared")
  }
}
