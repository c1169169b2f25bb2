package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext._

/** Training-data-pipeline queries (dedup, similarity, text analysis,
  * multimodal) over the `documents` / `embeddings` tables, with DuckDB
  * oracles wherever the semantics are SQL-expressible. Queries with no
  * oracle entry (xxhash64-based sketches) get the driver's rows-only
  * check; their semantics are pinned by ScalaTest specs instead.
  */
object ExtQueries {

  /** Output dir for queries that materialize a layout and read it back:
    * scoped to (application, input dir) so concurrent sessions and the
    * bench's base/scaled passes never clobber each other's files
    * mid-read, while re-runs within one application reuse (overwrite)
    * the same path instead of accreting garbage.
    */
  private[graft] def scratchDir(s: SparkSession, tag: String, dir: String): String =
    s"target/$tag-${s.sparkContext.applicationId}-${(dir.hashCode & 0x7fffffff).toHexString}"

  /** Catalog-table analogue of [[scratchDir]] (identifier-safe): store
    * tables scoped per (application, input dir) so concurrent sessions
    * and the bench's base/scaled passes never drop each other's store
    * mid-probe.
    */
  private[graft] def scratchTable(s: SparkSession, tag: String, dir: String): String = {
    val h = ((s.sparkContext.applicationId + "|" + dir).hashCode & 0x7fffffff).toHexString
    s"${tag}_$h"
  }

  /** UNTIMED bench preparation for the store-backed gates, by name: each
    * gate's [[Q.prep]] builds the session store the gate's query then
    * probes, so a single timed run measures the RECURRING per-batch
    * probe, not the one-time history ingest (gate cost ≠ operator cost —
    * the q_st8 lesson; round 8's scaled leg timed
    * `q_ext_dedup_incremental_near` store-build + probe together and
    * flagged the sum as superlinear). Declared in the gate's own [[Q]] so
    * the store name/split can never drift from the query's spelling; the
    * gate itself still calls ensure (idempotent) so Verify and ad-hoc
    * runs need no prep.
    */
  lazy val prepare: Map[String, Q.Prep] = all.flatMap(q => q.prep.map(q.name -> _)).toMap

  /** The linkage fixture: customer rows + two deterministic duplicate
    * classes (near-identical and name-corrupted), phone-prefix blocked.
    * SHARED by the batch gate (`q_ext_record_linkage`) and the
    * streaming ingest gate (`q_st23_stream_linkage`) so stream==batch
    * equivalence compares the same derivation. Works on a static OR a
    * streaming frame (stateless projections/filters/unions only).
    */
  private[graft] def linkageRecords(customer: DataFrame): DataFrame = {
    val phone = concat(
      lpad(pmod(col("rid"), lit(997)).cast("string"), 4, "0"), lit("-"),
      lpad(pmod(col("rid"), lit(10000)).cast("string"), 4, "0"))
    val base = customer
      .select(col("c_custkey").as("rid"), col("c_name").as("name"),
        col("c_nationkey").cast("long").as("nation"),
        col("c_acctbal").as("bal"), col("c_mktsegment").as("seg"))
      .withColumn("phone", phone)
    val dup1 = base.filter(col("rid") % 13 === 0)
      .select((col("rid") + 50000000L).as("rid"), col("name"), col("nation"),
        (col("bal") + 0.01).as("bal"), col("seg"), col("phone"))
    val dup2 = base.filter(col("rid") % 29 === 3)
      .select((col("rid") + 90000000L).as("rid"),
        concat(lit("X"), substring(col("name"), 2, 1000)).as("name"),
        col("nation"), (col("bal") + 5.0).as("bal"), col("seg"), col("phone"))
    base.unionByName(dup1).unionByName(dup2)
      .withColumn("block", substring(col("phone"), 1, 4))
  }

  /** The linkage field weights (all SYMMETRIC in _a/_b, so cross-store
    * pair orientation never changes a score) — shared batch/stream.
    */
  private[graft] def linkageScores(pairs: DataFrame): Seq[Column] = Seq(
    when(col("name_a") === col("name_b"), 6L)
      .when(levenshtein(col("name_a"), col("name_b")) <= 2, 2L)
      .otherwise(-3L),
    when(col("phone_a") === col("phone_b"), 4L).otherwise(-2L),
    when(abs(col("bal_a") - col("bal_b")) <= 0.02, 2L).otherwise(-1L),
    when(col("seg_a") === col("seg_b"), 1L).otherwise(-1L))

  /** DuckDB replay of `k` BPE merge-learning rounds as chained CTEs:
    * d0 = the char-split (word, count) dictionary, then per round a
    * pair-count aggregate, a deterministic argmax (freq desc, then
    * lexicographic), and the sentinel-padded replace — the same greedy
    * left-to-right application semantics both engines' `replace` has.
    */
  private def bpeLearnCtes(k: Int): String = {
    val d0 =
      """d0 AS (
        |  SELECT array_to_string(string_split(w, ''), ' ') AS s, count(*) AS c
        |  FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        |        FROM documents)
        |  WHERE w <> '' GROUP BY 1)""".stripMargin
    val rounds = (1 to k).map { i =>
      s"""p$i AS (
         |  SELECT z[1] AS l, z[2] AS r, sum(c) AS f FROM (
         |    SELECT unnest(list_zip(parts, parts[2:])) AS z, c FROM (
         |      SELECT string_split(s, ' ') AS parts, c FROM d${i - 1}))
         |  WHERE z[2] IS NOT NULL GROUP BY 1, 2),
         |b$i AS (SELECT l, r, f FROM p$i ORDER BY f DESC, l, r LIMIT 1),
         |d$i AS (
         |  SELECT trim(replace(' ' || s || ' ',
         |    ' ' || (SELECT l FROM b$i) || ' ' || (SELECT r FROM b$i) || ' ',
         |    ' ' || (SELECT l FROM b$i) || (SELECT r FROM b$i) || ' ')) AS s, c
         |  FROM d${i - 1})""".stripMargin
    }
    (d0 +: rounds).mkString("WITH ", ",\n", "")
  }

  /** DuckDB replay of `iters` chained Lloyd iterations + the IVF
    * probe/scan — the iteration CTE block is unrolled per step, so the
    * 1-iteration and k-means-n oracles share one source of truth.
    */
  private def ivfTrainedOracle(iters: Int): String = {
    val steps = (0 until iters).map { k =>
      s"""r$k AS (
         |  SELECT neighbor_id, cv, cent_id AS cell,
         |         row_number() OVER (PARTITION BY neighbor_id
         |           ORDER BY round(list_cosine_similarity(cv, cvec), 4) DESC, cent_id)
         |           AS cent_rank
         |  FROM corp, cent$k),
         |asg$k AS (SELECT neighbor_id, cv, cell FROM r$k WHERE cent_rank = 1),
         |dims$k AS (
         |  SELECT cell, unnest(cv) AS v, unnest(range(len(cv))) AS dim FROM asg$k),
         |dmeans$k AS (SELECT cell, dim, round(avg(v), 6) AS m FROM dims$k GROUP BY 1, 2),
         |newc$k AS (SELECT cell, list(m ORDER BY dim) AS nv FROM dmeans$k GROUP BY 1),
         |cent${k + 1} AS (
         |  SELECT c.cent_id, COALESCE(n.nv, c.cvec) AS cvec
         |  FROM cent$k c LEFT JOIN newc$k n ON n.cell = c.cent_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH cent0 AS (
       |  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
       |  FROM embeddings WHERE vec_id % 50 = 7 AND vec_id < 1000000000),
       |corp AS (
       |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
       |  FROM embeddings),
       |""".stripMargin + steps + "," +
      s"""
       |ranked AS (
       |  SELECT neighbor_id, cv, cent_id AS cell,
       |         row_number() OVER (PARTITION BY neighbor_id
       |           ORDER BY round(list_cosine_similarity(cv, cvec), 4) DESC, cent_id)
       |           AS cent_rank
       |  FROM corp, cent$iters),
       |asg AS (SELECT neighbor_id, cv, cell FROM ranked WHERE cent_rank = 1),
       |q AS (
       |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 1000000000),
       |pr AS (
       |  SELECT query_id, qv, cent_id AS cell,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY round(list_cosine_similarity(qv, cvec), 4) DESC, cent_id)
       |           AS probe_rank
       |  FROM q, cent$iters),
       |probes AS (SELECT query_id, qv, cell FROM pr WHERE probe_rank <= 4),
       |s AS (
       |  SELECT query_id, neighbor_id,
       |         round(list_cosine_similarity(qv, cv), 4) AS sim
       |  FROM asg JOIN probes USING (cell)
       |  WHERE query_id <> neighbor_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY sim DESC, neighbor_id) AS rank FROM s)
       |SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= 3""".stripMargin
  }

  /** DuckDB replay of the PQ stack ([[graft.ext.Pq]]): per subspace a
    * sliced corpus, sampled centroids, ONE Lloyd step (the
    * ivfTrainedOracle block re-instantiated per subspace), and the
    * argmax encode; `withAdc` adds the per-query LUT + DECIMAL-exact
    * ADC sum + top-k. All constants mirror the engine call sites
    * (m=4 × 16 dims, % 50 = 7 init, % 25 = 0 queries, sims at 4 dp,
    * dims at 6 dp, LUT at 6 dp).
    */
  private def pqOracle(mSub: Int, subDim: Int, withAdc: Boolean): String = {
    def cos(a: String, b: String) = s"round(list_cosine_similarity($a, $b), 4)"
    val subs = (0 until mSub).map { m =>
      val lo = m * subDim + 1
      val hi = (m + 1) * subDim
      s"""sub$m AS (SELECT vec_id AS id, fv[$lo:$hi] AS vec FROM corpfull),
         |cent${m}_0 AS (SELECT id AS cent_id, vec AS cvec FROM sub$m WHERE id % 50 = 7),
         |r${m}_0 AS (
         |  SELECT s.id, s.vec, c.cent_id,
         |         row_number() OVER (PARTITION BY s.id
         |           ORDER BY ${cos("s.vec", "c.cvec")} DESC, c.cent_id) AS rk
         |  FROM sub$m s, cent${m}_0 c),
         |asg${m}_0 AS (SELECT id, vec, cent_id AS cell FROM r${m}_0 WHERE rk = 1),
         |dims${m}_0 AS (
         |  SELECT cell, unnest(vec) AS v, unnest(range(len(vec))) AS dim FROM asg${m}_0),
         |dm${m}_0 AS (SELECT cell, dim, round(avg(v), 6) AS mv FROM dims${m}_0 GROUP BY 1, 2),
         |nc${m}_0 AS (SELECT cell, list(mv ORDER BY dim) AS nv FROM dm${m}_0 GROUP BY 1),
         |cent${m}_1 AS (
         |  SELECT c.cent_id, COALESCE(n.nv, c.cvec) AS cvec
         |  FROM cent${m}_0 c LEFT JOIN nc${m}_0 n ON n.cell = c.cent_id),
         |enc$m AS (
         |  SELECT id AS vec_id, $m AS sub, cent_id AS code FROM (
         |    SELECT s.id, c.cent_id,
         |           row_number() OVER (PARTITION BY s.id
         |             ORDER BY ${cos("s.vec", "c.cvec")} DESC, c.cent_id) AS rk
         |    FROM sub$m s, cent${m}_1 c) WHERE rk = 1)""".stripMargin
    }
    val encUnion = (0 until mSub).map(m => s"SELECT * FROM enc$m").mkString(" UNION ALL ")
    val base =
      s"""WITH corpfull AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv FROM embeddings),
         |""".stripMargin + subs.mkString(",\n")
    if (!withAdc)
      base +
        s"\nSELECT vec_id, CAST(sub AS BIGINT) AS sub, code FROM ($encUnion)"
    else {
      val luts = (0 until mSub).map { m =>
        val lo = m * subDim + 1
        val hi = (m + 1) * subDim
        s"""q$m AS (SELECT vec_id AS query_id, fv[$lo:$hi] AS qsv
           |  FROM corpfull WHERE vec_id % 25 = 0),
           |lut$m AS (
           |  SELECT q.query_id, $m AS sub, c.cent_id AS code,
           |         CAST(round(list_inner_product(q.qsv, c.cvec), 6)
           |           AS DECIMAL(18,6)) AS l
           |  FROM q$m q, cent${m}_1 c)""".stripMargin
      }.mkString(",\n")
      val lutUnion = (0 until mSub).map(m => s"SELECT * FROM lut$m").mkString(" UNION ALL ")
      base + ",\n" + luts + ",\n" +
        s"""codes AS ($encUnion),
           |luts AS ($lutUnion),
           |est AS (
           |  SELECT l.query_id, c.vec_id AS neighbor_id, sum(l.l) AS est
           |  FROM codes c JOIN luts l ON l.sub = c.sub AND l.code = c.code
           |  GROUP BY 1, 2),
           |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |        ORDER BY est DESC, neighbor_id) AS rank FROM est)
           |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           |       round(CAST(est AS DOUBLE), 6) AS est_sim
           |FROM rk WHERE rank <= 10""".stripMargin
    }
  }

  // ---- DuckDB expression builders mirroring TextStats ------------------

  /** DuckDB: whitespace-normalized, space-padded text. */
  private val ddNorm = """regexp_replace(' ' || text || ' ', '\s+', ' ', 'g')"""

  /** DuckDB: occurrences of `w` as a token (mirror of wordOccurrences). */
  private def ddWc(w: String): String =
    s"""CAST((length($ddNorm) - length(replace($ddNorm, ' $w ', ' '))) / ${w.length + 1} AS INT)"""

  private def ddHits(lang: String): String =
    TextStats.stopwords.toMap.apply(lang).map(ddWc).mkString("(", " + ", ")")

  /** Sign of hyperplane `bit`'s component along dimension `dim` —
    * the exact constant Spark folds out of
    * `xxhash64(lit(bit), lit(dim))` in [[Similarity.hyperplaneBucket]]:
    * seed 42, ints hashed in child order ([[HyperplaneSpec]] pins the
    * agreement). Recomputed here so the DuckDB oracle can carry the
    * planes as literal `±v[d]` terms.
    */
  private[graft] def planeSign(bit: Int, dim: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val h = XXH64.hashInt(dim, XXH64.hashInt(bit, 42L))
    if ((h & 1L) == 1L) 1 else -1
  }

  /** DuckDB rendition of [[Similarity.hyperplaneBucket]] over a DOUBLE[]
    * column: per bit, the signed sum of all dims (same left-to-right
    * float order as the Spark expression), thresholded at 0.
    */
  private def ddHyperplaneBucket(v: String, bits: Int, dims: Int): String =
    (0 until bits).map { i =>
      val dot = (0 until dims).map { d =>
        val s = if (planeSign(i, d) > 0) "+" else "-"
        s"$s $v[${d + 1}]"
      }.mkString(" ")
      s"(CASE WHEN (0 $dot) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  def queries: Map[String, Q.Plan] = all.map(q => q.name -> q.plan).toMap

  /** One [[Q]] per query: the training-data-pipeline gates, each beside its DuckDB oracle. */
  private[graft] lazy val all: Seq[Q] = Seq(

    // Text analysis: token/char/punct counts, stopword count, quality.
    Q("q_ext_text_stats", (s, dir) => {
      val d = Tables.documents(s, dir)
      d.select(
        col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextStats.charCount(col("text")).cast("long").as("n_chars_m"),
        TextStats.punctCount(col("text")).cast("long").as("n_punct"),
        TextStats.wordOccurrences(col("text"), "the").cast("long").as("the_count"),
        TextStats.qualityScore(col("text")).as("quality"))
    },
      oracle = Some(
        s"""SELECT doc_id,
           |  len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
           |  length(text) AS n_chars_m,
           |  length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS n_punct,
           |  CAST(${ddWc("the")} AS BIGINT) AS the_count,
           |  round((
           |    (CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) BETWEEN 10 AND 5000
           |          THEN 1.0 ELSE 0.0 END)
           |  + (CASE WHEN (length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')))
           |            * 1.0 / greatest(length(text), 1) <= 0.1 THEN 1.0 ELSE 0.0 END)
           |  + (CASE WHEN ${TextStats.stopwords.map(l => ddHits(l._1)).mkString(" + ")} > 0
           |          THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
           |FROM documents""".stripMargin)),

    // Language ID: stopword-hit argmax heuristic.
    Q("q_ext_lang_id", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextStats.langId(col("text")).as("lang_pred")),
      oracle = Some({
        val hitDefs = TextStats.stopwords.map { case (l, _) => s"${ddHits(l)} AS h_$l" }
        val mx = TextStats.stopwords.map(l => s"h_${l._1}").mkString("greatest(", ", ", ")")
        val chain = TextStats.stopwords.map { case (l, _) =>
          s"WHEN h_$l = mx THEN '$l'"
        }.mkString(" ")
        s"""WITH h AS (
           |  SELECT doc_id, ${hitDefs.mkString(", ")} FROM documents),
           |m AS (SELECT *, $mx AS mx FROM h)
           |SELECT doc_id,
           |  CASE WHEN mx = 0 THEN 'und' $chain ELSE 'und' END AS lang_pred
           |FROM m""".stripMargin
      })),

    // Metadata QA: confusion matrix of the declared `lang` column vs
    // the n-gram langid prediction — "is the crawl's language metadata
    // trustworthy", per (declared, predicted) cell with the share of
    // the declared class. One languages²-bounded shuffle.
    Q("q_ext_langid_confusion", (s, dir) => {
      val pred = Tables.documents(s, dir).select(col("lang"),
        TextStats.langId(col("text")).as("lang_pred"))
      val cells = pred.groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("n"))
      val totals = cells.groupBy("lang").agg(sum("n").cast("long").as("t"))
      cells.join(totals, "lang")
        .select(col("lang"), col("lang_pred"), col("n"),
          round(col("n").cast("double") / col("t"), 6).as("share"))
    },
      oracle = Some({
        val hitDefs = TextStats.stopwords.map { case (l, _) => s"${ddHits(l)} AS h_$l" }
        val mx = TextStats.stopwords.map(l => s"h_${l._1}").mkString("greatest(", ", ", ")")
        val chain = TextStats.stopwords.map { case (l, _) =>
          s"WHEN h_$l = mx THEN '$l'"
        }.mkString(" ")
        s"""WITH h AS (
           |  SELECT lang, ${hitDefs.mkString(", ")} FROM documents),
           |m AS (SELECT *, $mx AS mx FROM h),
           |p AS (
           |  SELECT lang,
           |    CASE WHEN mx = 0 THEN 'und' $chain ELSE 'und' END AS lang_pred
           |  FROM m),
           |cells AS (SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY 1, 2),
           |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS t FROM cells GROUP BY 1)
           |SELECT cells.lang, lang_pred, n,
           |       round(CAST(n AS DOUBLE) / t.t, 6) AS share
           |FROM cells JOIN t ON t.lang = cells.lang""".stripMargin
      })),

    // Exact dedup: content-fingerprint groups.
    Q("q_ext_dedup_exact", (s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text"),
      oracle = Some(
        """SELECT substring(md5(text), 1, 16) AS fingerprint,
          |       min(doc_id) AS keep_id, count(*) AS n_dups
          |FROM documents GROUP BY 1""".stripMargin)),

    // Near-dup by word-set Jaccard (inverted-index self-join). The
    // deterministic doc sample bounds the quadratic candidate set on the
    // synthetic corpus, whose tiny shared vocabulary pairs every doc
    // with every other (real corpora prune via document frequency).
    Q("q_ext_dedup_jaccard", (s, dir) =>
      Dedup.wordJaccardPairs(
          Tables.documents(s, dir).filter(col("doc_id") % 10 === 0),
          "doc_id", "text", 0.8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")),
      oracle = Some(
        """WITH words AS (
          |  SELECT DISTINCT doc_id AS id,
          |         unnest(regexp_split_to_array(trim(text), '\s+')) AS w
          |  FROM documents WHERE doc_id % 10 = 0),
          |sizes AS (SELECT id, count(*) AS sz FROM words GROUP BY 1),
          |inter AS (
          |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS cnt
          |  FROM words a JOIN words b ON a.w = b.w AND a.id < b.id
          |  GROUP BY 1, 2)
          |SELECT id_a, id_b,
          |       round(cnt * 1.0 / (sa.sz + sb.sz - cnt), 6) AS jaccard
          |FROM inter
          |JOIN sizes sa ON sa.id = id_a
          |JOIN sizes sb ON sb.id = id_b
          |WHERE cnt * 1.0 / (sa.sz + sb.sz - cnt) >= 0.8""".stripMargin)),

    // The maxDocFreq stop-token guard, measured not narrated: the SAME
    // inverted-index join as q_ext_dedup_jaccard but over the FULL
    // documents table — viable only because tokens in >10% of docs are
    // dropped from the index (this corpus's 31-token vocabulary puts 30
    // tokens above that line: the unpruned full-table join would build
    // 448M candidate pairs at sf0.1; the pruned index builds 31k). The
    // pruned-index semantics are exactly the documented approximation:
    // intersection counts only index-surviving tokens, set sizes stay
    // full — hence the tiny minJaccard (max achievable ratio here is
    // 1/(sz_a+sz_b-1)); the oracle replays size, prune, and ratio.
    Q("q_ext_dedup_jaccard_pruned", (s, dir) =>
      Dedup.wordJaccardPairs(
          Tables.documents(s, dir), "doc_id", "text", minJaccard = 0.02,
          maxDocFreq = 0.1, maxPosting = 500)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")),
      // Pruned-index replay: hot tokens (df > 10% of docs) leave the
      // INDEX; sizes stay full distinct-token counts, intersections count
      // surviving tokens only — the documented maxDocFreq approximation.
      oracle = Some(
        """WITH words AS (
          |  SELECT DISTINCT doc_id AS id,
          |         unnest(regexp_split_to_array(trim(text), '\s+')) AS w
          |  FROM documents),
          |sizes AS (SELECT id, count(*) AS sz FROM words GROUP BY 1),
          |nd AS (SELECT count(DISTINCT id) AS n FROM words),
          |hot AS (SELECT w FROM words GROUP BY w
          |        HAVING count(*) > (SELECT n * 0.1 FROM nd)),
          |idx0 AS (SELECT * FROM words WHERE w NOT IN (SELECT w FROM hot)),
          |idx AS (
          |  SELECT id, w FROM (
          |    SELECT id, w, row_number() OVER (PARTITION BY w ORDER BY id) AS pr
          |    FROM idx0) WHERE pr <= 500),
          |inter AS (
          |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS cnt
          |  FROM idx a JOIN idx b ON a.w = b.w AND a.id < b.id
          |  GROUP BY 1, 2)
          |SELECT id_a, id_b,
          |       round(cnt * 1.0 / (sa.sz + sb.sz - cnt), 6) AS jaccard
          |FROM inter
          |JOIN sizes sa ON sa.id = id_a
          |JOIN sizes sb ON sb.id = id_b
          |WHERE cnt * 1.0 / (sa.sz + sb.sz - cnt) >= 0.02""".stripMargin)),

    // MinHash+LSH candidate pairs, exact-verified (no oracle: xxhash64).
    Q("q_ext_dedup_minhash", (s, dir) =>
      Dedup.minHashPairs(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, perms = 64, bands = 16, minJaccard = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),

    // The FULL corpus build as a stage funnel — clean (C4 + quality +
    // langid) → exact dedup → near-dup canonical — with doc and token
    // counts surviving each stage: the report a data-curation run
    // publishes. Every stage is an already-gated operator; this gate
    // pins that they COMPOSE (filters stack, dedups nest) with the
    // whole funnel replayed in SQL, including the recursive-CTE
    // closure of the near-dup graph.
    Q("q_pipe_corpus_build", (s, dir) => {
      val base = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
      // structural C4 rules minus terminal punctuation (the synthetic
      // corpus has none — the full rule set is gated by q_ext_c4_rules)
      val c4 = TextStats.c4Rules(col("text"))
      val keep = c4.getField("long_enough") && c4.getField("no_brace") &&
        TextStats.qualityScore(col("text")) >= 0.66 &&
        TextStats.langId(col("text")) =!= "und"
      // each stage feeds both the NEXT stage and its own funnel row:
      // persist the frontier frames so clean/exact compute once, not
      // once per downstream stage aggregate; the remaining cost is the
      // jaccard inverted-index join itself (one pass, stage 4), the
      // same deliberately-bounded %10-slice budget as q_ext_dedup_keep
      val clean = base.filter(keep).persist()
      val exact = Dedup.dropExactDuplicates(clean, "doc_id", "text")
        .persist()
      val near = Dedup.keepCanonical(exact, "doc_id",
        Dedup.wordJaccardPairs(exact, "doc_id", "text", 0.8))
      def stage(df: DataFrame, id: Int, name: String) =
        df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(TextStats.tokenCount(col("text")).cast("long")),
            lit(0L)).cast("long").as("n_tokens"))
          .select(lit(id).as("stage_id"), lit(name).as("stage"),
            col("n_docs"), col("n_tokens"))
      stage(base, 1, "raw")
        .unionByName(stage(clean, 2, "clean"))
        .unionByName(stage(exact, 3, "exact_dedup"))
        .unionByName(stage(near, 4, "near_dedup"))
    },
      oracle = Some({
        val qualitySql =
          s"""round((
             |    (CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) BETWEEN 10 AND 5000
             |          THEN 1.0 ELSE 0.0 END)
             |  + (CASE WHEN (length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')))
             |            * 1.0 / greatest(length(text), 1) <= 0.1 THEN 1.0 ELSE 0.0 END)
             |  + (CASE WHEN ${TextStats.stopwords.map(l => ddHits(l._1)).mkString(" + ")} > 0
             |          THEN 1.0 ELSE 0.0 END)) / 3.0, 6)""".stripMargin
        val hitDefs = TextStats.stopwords.map { case (l, _) => s"${ddHits(l)} AS h_$l" }
        val mx = TextStats.stopwords.map(l => s"h_${l._1}").mkString("greatest(", ", ", ")")
        s"""WITH RECURSIVE base AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
           |f AS (
           |  SELECT doc_id, text,
           |         (len(regexp_split_to_array(trim(text), '\\s+')) >= 5
           |          AND NOT contains(trim(text), '{')) AS c4k,
           |         $qualitySql AS quality,
           |         ${hitDefs.mkString(", ")}
           |  FROM base),
           |clean AS (
           |  SELECT doc_id, text FROM f
           |  WHERE c4k AND quality >= 0.66 AND $mx > 0),
           |fp AS (
           |  SELECT min(doc_id) AS doc_id FROM clean
           |  GROUP BY substring(md5(text), 1, 16)),
           |ex AS (SELECT c.doc_id, c.text FROM clean c
           |       JOIN fp ON fp.doc_id = c.doc_id),
           |words AS (
           |  SELECT DISTINCT doc_id AS id,
           |         unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
           |  FROM ex),
           |sizes AS (SELECT id, count(*) AS sz FROM words GROUP BY 1),
           |inter AS (
           |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS cnt
           |  FROM words a JOIN words b ON a.w = b.w AND a.id < b.id
           |  GROUP BY 1, 2),
           |prs AS (
           |  SELECT id_a, id_b FROM inter
           |  JOIN sizes sa ON sa.id = id_a
           |  JOIN sizes sb ON sb.id = id_b
           |  WHERE cnt * 1.0 / (sa.sz + sb.sz - cnt) >= 0.8),
           |edges AS (SELECT id_a AS a, id_b AS b FROM prs
           |          UNION SELECT id_b, id_a FROM prs),
           |reach(node, r) AS (
           |  SELECT a, a FROM edges
           |  UNION
           |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a),
           |losers AS (SELECT node FROM reach GROUP BY node
           |           HAVING min(r) <> node),
           |nr AS (SELECT doc_id, text FROM ex
           |       WHERE doc_id NOT IN (SELECT node FROM losers))
           |SELECT * FROM (
           |  SELECT CAST(1 AS INT) AS stage_id, 'raw' AS stage,
           |         count(*) AS n_docs,
           |         CAST(coalesce(sum(len(regexp_split_to_array(trim(text),
           |           '\\s+'))), 0) AS BIGINT) AS n_tokens
           |  FROM base
           |  UNION ALL
           |  SELECT 2, 'clean', count(*),
           |         CAST(coalesce(sum(len(regexp_split_to_array(trim(text),
           |           '\\s+'))), 0) AS BIGINT)
           |  FROM clean
           |  UNION ALL
           |  SELECT 3, 'exact_dedup', count(*),
           |         CAST(coalesce(sum(len(regexp_split_to_array(trim(text),
           |           '\\s+'))), 0) AS BIGINT)
           |  FROM ex
           |  UNION ALL
           |  SELECT 4, 'near_dedup', count(*),
           |         CAST(coalesce(sum(len(regexp_split_to_array(trim(text),
           |           '\\s+'))), 0) AS BIGINT)
           |  FROM nr)""".stripMargin
      })),

    // The cleaning pipeline end-to-end as ONE plan over ONE scan: C4
    // rules + quality score + repetition signal + language ID fused
    // into a keep decision, aggregated to a per-source drop-accounting
    // report (the production shape: at 100 TB each signal must ride
    // the same scan, never its own pass).
    Q("q_ext_clean_report", (s, dir) => {
      val c4 = TextStats.c4Rules(col("text")).getField("keep")
      val qualityOk = TextStats.qualityScore(col("text")) >= 0.66
      val repOk = TextStats.dupTokenFrac(col("text")) <= 0.5
      val langOk = TextStats.langId(col("text")) =!= "und"
      val keep = c4 && qualityOk && repOk && langOk
      def cnt(c: org.apache.spark.sql.Column) =
        sum(when(c, 1L).otherwise(0L))
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          cnt(keep).as("n_keep"),
          // the web-prose C4 tier excluded: the survivor count a
          // synthetic/non-web corpus actually filters by
          cnt(qualityOk && repOk && langOk).as("n_keep_soft"),
          cnt(!c4).as("n_fail_c4"),
          cnt(!qualityOk).as("n_fail_quality"),
          cnt(!repOk).as("n_fail_rep"),
          cnt(!langOk).as("n_fail_lang"))
    },
      oracle = Some({
        val anyStop = TextStats.stopwords.map(l => ddHits(l._1)).mkString("(", " + ", ")")
        s"""WITH rep AS (
           |  SELECT doc_id,
           |         round(1.0 - count(DISTINCT w) * 1.0 / count(*), 6) AS dup_frac
           |  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
           |        FROM documents)
           |  GROUP BY 1),
           |sig AS (
           |  SELECT d.source,
           |    (regexp_matches(trim(text), '[.!?"'']$$')
           |     AND len(regexp_split_to_array(trim(text), '\\s+')) >= 5
           |     AND NOT contains(trim(text), '{')
           |     AND NOT contains(lower(trim(text)), 'lorem ipsum')
           |     AND NOT contains(lower(trim(text)), 'javascript')) AS c4_keep,
           |    round((
           |      (CASE WHEN len(regexp_split_to_array(trim(text), '\\s+'))
           |            BETWEEN 10 AND 5000 THEN 1.0 ELSE 0.0 END)
           |    + (CASE WHEN (length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')))
           |            * 1.0 / greatest(length(text), 1) <= 0.1 THEN 1.0 ELSE 0.0 END)
           |    + (CASE WHEN $anyStop > 0 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) >= 0.66
           |      AS quality_ok,
           |    (r.dup_frac <= 0.5) AS rep_ok,
           |    ($anyStop > 0) AS lang_ok
           |  FROM documents d JOIN rep r USING (doc_id))
           |SELECT source, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN c4_keep AND quality_ok AND rep_ok AND lang_ok
           |           THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           |  CAST(sum(CASE WHEN quality_ok AND rep_ok AND lang_ok
           |           THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_soft,
           |  CAST(sum(CASE WHEN NOT c4_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_c4,
           |  CAST(sum(CASE WHEN NOT quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_quality,
           |  CAST(sum(CASE WHEN NOT rep_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_rep,
           |  CAST(sum(CASE WHEN NOT lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_lang
           |FROM sig GROUP BY 1""".stripMargin
      })),

    // C4-family rule-based cleaning flags per document (terminal
    // punctuation, min length, boilerplate markers) + the keep
    // conjunction — per-rule audit columns, all codegen'd predicates.
    Q("q_ext_c4_rules", (s, dir) => {
      val r = TextStats.c4Rules(col("text"))
      Tables.documents(s, dir).select(
        col("doc_id"),
        r.getField("ends_with_punct").cast("long").as("ends_with_punct"),
        r.getField("long_enough").cast("long").as("long_enough"),
        r.getField("no_brace").cast("long").as("no_brace"),
        r.getField("no_lorem").cast("long").as("no_lorem"),
        r.getField("no_js").cast("long").as("no_js"),
        r.getField("keep").cast("long").as("keep"))
    },
      oracle = Some(
        """WITH r AS (
          |  SELECT doc_id,
          |         regexp_matches(trim(text), '[.!?"'']$') AS ends_with_punct,
          |         len(regexp_split_to_array(trim(text), '\s+')) >= 5 AS long_enough,
          |         NOT contains(trim(text), '{') AS no_brace,
          |         NOT contains(lower(trim(text)), 'lorem ipsum') AS no_lorem,
          |         NOT contains(lower(trim(text)), 'javascript') AS no_js
          |  FROM documents)
          |SELECT doc_id,
          |       CAST(ends_with_punct AS BIGINT) AS ends_with_punct,
          |       CAST(long_enough AS BIGINT) AS long_enough,
          |       CAST(no_brace AS BIGINT) AS no_brace,
          |       CAST(no_lorem AS BIGINT) AS no_lorem,
          |       CAST(no_js AS BIGINT) AS no_js,
          |       CAST(ends_with_punct AND long_enough AND no_brace AND no_lorem
          |            AND no_js AS BIGINT) AS keep
          |FROM r""".stripMargin)),

    // Benchmark decontamination (the GPT-3-style n-gram overlap test):
    // each "test drop" document's count of distinct 3-grams that occur
    // anywhere in the "train" partition — nonzero = potential eval
    // contamination. Only grams shuffle, never text.
    Q("q_ext_contamination", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.ngramContamination(
        docs.filter(col("doc_id") < 400),
        docs.filter(col("doc_id") >= 400), "doc_id", "text", n = 3)
    },
      oracle = Some(
        """WITH toks AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
          |  FROM documents),
          |tg AS (
          |  SELECT DISTINCT unnest(list_transform(range(1, len(t) - 1),
          |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
          |  FROM toks WHERE doc_id < 400),
          |sg AS (
          |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t) - 1),
          |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
          |  FROM toks WHERE doc_id >= 400)
          |SELECT s.doc_id, count(*) AS n_shared_ngrams
          |FROM sg s JOIN tg ON s.g = tg.g
          |GROUP BY 1""".stripMargin)),

    // The MinHash SKETCH's accuracy contract under the gate: for fixed
    // doc pairs, the signature's Jaccard estimate (matching perms / 64)
    // must sit within ±0.3 of the exact distinct-shingle Jaccard
    // (4.8 sigma at 64 perms), and the exact Jaccard itself is
    // hash-checked — both engines compute it from the same shingle
    // sets. The sketch VALUES stay engine-specific (xxhash64), but the
    // statistical guarantee they exist for is now oracle-gated.
    Q("q_ext_minhash_est", (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
      val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", shingleN = 3, perms = 64)
      val sh = docs.select(col("doc_id"), array_distinct(Dedup.shingles(col("text"), 3)).as("sh"))
      val withSh = sigs.join(sh, sigs("id") === sh("doc_id"))
      val a = withSh.select(col("id").as("id_a"), col("sig").as("sig_a"), col("sh").as("sh_a"))
      val b = withSh.select(col("id").as("id_b"), col("sig").as("sig_b"), col("sh").as("sh_b"))
      val j = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        size(array_union(col("sh_a"), col("sh_b")))
      val est = expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END)," +
          " 0, (acc, v) -> acc + v)").cast("double") / 64.0
      a.join(b, col("id_b") === col("id_a") + 10)
        .select(col("id_a"), col("id_b"),
          round(j, 6).as("jaccard"),
          (abs(est - j) <= 0.3).cast("long").as("est_ok"))
    },
      oracle = Some(
        """WITH toks AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
          |  FROM documents WHERE doc_id % 10 = 0),
          |sh AS (
          |  SELECT doc_id,
          |         list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
          |           ELSE list_transform(range(1, len(t) - 1),
          |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS sh
          |  FROM toks)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |       round(len(list_intersect(a.sh, b.sh)) * 1.0
          |             / len(list_distinct(a.sh || b.sh)), 6) AS jaccard,
          |       CAST(1 AS BIGINT) AS est_ok
          |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 10""".stripMargin)),

    // SimHash fingerprints + banded Hamming pairs (no oracle: xxhash64).
    Q("q_ext_dedup_simhash", (s, dir) =>
      Dedup.simHashPairs(Tables.documents(s, dir), "doc_id", "text", maxHamming = 3)),

    // Incremental NEAR-dup against a persisted historical store — the
    // batch analog of q_ext_dedup_incremental for MinHash: the new
    // batch band-buckets against the bucketed (band, band_key) store,
    // O(new batch) shuffle, zero store-side Exchange
    // (IncrementalNearDupSpec pins the plan). Values are xxhash64
    // sketches -> rows-only; the statistical contract is oracle-gated
    // by q_ext_incr_recall below.
    Q("q_ext_dedup_incremental_near", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val store = scratchTable(s, "g_mh_store", dir)
      Dedup.ensureMinHashStore(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", store)
      Dedup.minHashPairsIncremental(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", store,
          minEst = 0.5)
        .select(col("id_new"), col("id_seen"),
          round(col("est_jaccard"), 6).as("est_jaccard"))
    },
      prep = Some((s, dir) =>
        Dedup.ensureMinHashStore(
          Tables.documents(s, dir).filter(col("doc_id") % 2 === 0),
          "doc_id", "text", scratchTable(s, "g_mh_store", dir)))),

    // The incremental store's recall CONTRACT, oracle-gated (the
    // q_ext_minhash_est pattern): over a history/batch split, every
    // cross-split pair whose EXACT shingle Jaccard (hash-checked — both
    // engines compute it from the same sets) reaches 0.9 must be found
    // by the incremental band probe; found_ok collapses to TRUE rows
    // the oracle pins. 16 bands x 4 rows at j=0.9 collide with
    // P ~ 1-4e-8 per pair — and the fixture + hashes are fixed, so the
    // gate is deterministic, not flaky.
    Q("q_ext_incr_recall", (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") % 5 === 0)
      val hist = docs.filter(col("doc_id") < 250)
      val batch = docs.filter(col("doc_id") >= 250)
      val store = scratchTable(s, "g_mh_recall", dir)
      Dedup.ensureMinHashStore(hist, "doc_id", "text", store)
      val found = Dedup.minHashPairsIncremental(
          batch, "doc_id", "text", store, minEst = 0.35)
        .select(col("id_seen").as("id_a"), col("id_new").as("id_b"),
          lit(true).as("f"))
      val shingleSet = array_distinct(Dedup.shingles(col("text"), 3))
      val a = hist.select(col("doc_id").as("id_a"), shingleSet.as("sh_a"))
      val b = batch.select(col("doc_id").as("id_b"), shingleSet.as("sh_b"))
      val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
      val j = inter / (size(col("sh_a")) + size(col("sh_b")) - inter)
      // Broadcast the PINNED side (hist = 50 docs, `doc_id < 250`) and
      // stream the growing batch: at 100 TB the batch side is
      // data-sized, so a.crossJoin(broadcast(b)) would ship the corpus
      // to every executor. PlanBudgetSpec pins the build side.
      b.crossJoin(broadcast(a))
        .withColumn("jaccard", round(j, 6))
        .filter(col("jaccard") >= 0.2)
        .join(found, Seq("id_a", "id_b"), "left")
        .select(col("id_a"), col("id_b"), col("jaccard"),
          (col("jaccard") < 0.9 || coalesce(col("f"), lit(false)))
            .cast("long").as("found_ok"))
    },
      oracle = Some(
        """WITH toks AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
          |  FROM documents WHERE doc_id % 5 = 0),
          |sh AS (
          |  SELECT doc_id,
          |         list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
          |           ELSE list_transform(range(1, len(t) - 1),
          |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS sh
          |  FROM toks)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |       round(len(list_intersect(a.sh, b.sh)) * 1.0
          |             / len(list_distinct(a.sh || b.sh)), 6) AS jaccard,
          |       CAST(1 AS BIGINT) AS found_ok
          |FROM sh a, sh b
          |WHERE a.doc_id < 250 AND b.doc_id >= 250
          |  AND round(len(list_intersect(a.sh, b.sh)) * 1.0
          |        / len(list_distinct(a.sh || b.sh)), 6) >= 0.2""".stripMargin),
      prep = Some((s, dir) =>
        Dedup.ensureMinHashStore(
          Tables.documents(s, dir)
            .filter(col("doc_id") % 5 === 0 && col("doc_id") < 250),
          "doc_id", "text", scratchTable(s, "g_mh_recall", dir)))),

    // BPE encode to token IDS under the pinned merge table — the
    // pipeline-terminal tokenizer step (q_ext_bpe_tokens counts pieces;
    // this emits them). Native codegen'd expression, no UDF; expected
    // id sequences are hand-derived literals in the committed fixture
    // (the q_ext_multimodal_decode pattern), which DuckDB reads back.
    Q("q_ext_bpe_encode", (s, dir) => {
      val (docsCsv, _) = graft.io.VerifyFixtures.bpeFixture()
      s.read.option("header", "true").csv(docsCsv)
        .select(col("id").cast("long").as("id"),
          array_join(graft.functions.Bpe.bpeEncode(col("text")).cast("array<string>"), " ")
            .as("ids_str"))
    },
      oracle = Some({
        val p = graft.io.VerifyFixtures.bpeExpectedPath
        s"""SELECT CAST(id AS BIGINT) AS id, ids_str
           |FROM read_csv('$p', header=true, all_varchar=true)""".stripMargin
      }),
      fixture = true),

    // Audio/video container metadata (WAV/FLAC/MP4 headers — media
    // columns are not only pictures): real byte-layout parse, expected
    // values pinned in the fixture CSV.
    Q("q_ext_multimodal_av", (s, dir) => {
      val glob = graft.io.VerifyFixtures.avFixture()
      val sp = s
      import sp.implicits._
      Multimodal.readBinaryFiles(s, glob)
        .select(
          regexp_extract(col("path"), "av_0*([0-9]+)\\.bin", 1).cast("long").as("id"),
          col("content").as("payload"))
        .as[(Long, Array[Byte])]
        .map { case (id, bytes) =>
          val m = Multimodal.avHeaderMeta(bytes).getOrElse(
            Multimodal.AvMeta("application/octet-stream", 0, 0, 0L, 0))
          (id, m.mediaType, m.sampleRate.toLong, m.channels.toLong,
            m.durationMs, m.tracks.toLong)
        }
        .toDF("id", "media_type", "sample_rate", "channels", "duration_ms", "tracks")
    },
      oracle = Some({
        val p = graft.io.VerifyFixtures.avExpectedPath
        s"""SELECT CAST(id AS BIGINT) AS id, media_type,
           |       CAST(sample_rate AS BIGINT) AS sample_rate,
           |       CAST(channels AS BIGINT) AS channels,
           |       CAST(duration_ms AS BIGINT) AS duration_ms,
           |       CAST(tracks AS BIGINT) AS tracks
           |FROM read_csv('$p', header=true)""".stripMargin
      }),
      fixture = true),

    // Content fingerprint, oracle-checked: DuckDB spells the md5-64
    // fingerprint identically (split out of q_ext_fingerprint so the
    // SQL-expressible column is hash-gated, not rows-only).
    Q("q_ext_fp_md5", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextStats.fingerprintMd5(col("text")).as("fp_md5")),
      oracle = Some(
        """SELECT doc_id, substring(md5(text), 1, 16) AS fp_md5
          |FROM documents""".stripMargin)),

    // Order-aware rolling fingerprint + simhash (no oracle: xxhash64).
    Q("q_ext_fingerprint", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextStats.fingerprintRolling(col("text")).as("fp_roll"),
        Dedup.simHash64(col("text")).as("simhash"))),

    // Brute-force exact cosine top-k (the ANN correctness baseline).
    // Query side is a FIXED set: `% 25` subsample pinned to the base
    // replica (`id < KeyShift` — a no-op at base SF). Without the pin,
    // scale replication grows BOTH crossJoin sides and pair work goes
    // quadratic (the round-4 31× scaled artifact); a fixed query set
    // probed against a growing corpus is the scale-honest semantic.
    Q("q_ext_ann_cosine", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val queries = emb.filter(col("id") % 25 === 0 &&
        col("id") < graft.io.ScaleReplicate.KeyShift)
      Similarity.bruteForceTopK(queries, emb, k = 5)
        .withColumn("rank", col("rank").cast("long"))
    },
      oracle = Some(
        """WITH q AS (
          |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          |  FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 1000000000),
          |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
          |s AS (
          |  SELECT query_id, neighbor_id,
          |         round(list_cosine_similarity(qv, cv), 4) AS sim
          |  FROM c, q WHERE query_id <> neighbor_id),
          |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
          |        ORDER BY sim DESC, neighbor_id) AS rank FROM s)
          |SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= 5""".stripMargin)),

    // Exact MIPS top-k (max inner product — the two-tower/recommender
    // objective where magnitude matters): same pinned probe set as the
    // cosine baseline; the norm-augmentation reduction to the cosine
    // index stack is spec-pinned (SimilaritySpec).
    Q("q_ext_mips", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val queries = emb.filter(col("id") % 25 === 0 &&
        col("id") < graft.io.ScaleReplicate.KeyShift)
      Similarity.mipsTopK(queries, emb, k = 5)
        .withColumn("rank", col("rank").cast("long"))
    },
      oracle = Some(
        """WITH q AS (
          |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          |  FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 1000000000),
          |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
          |      FROM embeddings),
          |s AS (
          |  SELECT query_id, neighbor_id,
          |         round(list_inner_product(qv, cv), 4) AS dot
          |  FROM c, q WHERE query_id <> neighbor_id),
          |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
          |        ORDER BY dot DESC, neighbor_id) AS rank FROM s)
          |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, dot
          |FROM r WHERE rank <= 5""".stripMargin)),

    // One-step Huber M-estimate per key: the fixed-iteration robust
    // location between the fragile mean and the two-pass weighted
    // median; bounded outlier pull at k, deterministic closed form.
    Q("q_ext_huber", (s, dir) =>
      graft.ops.WeightedStats.huberMean(Tables.events(s, dir),
        "event_type", "value", k = 50.0),
      oracle = Some(
        """WITH i AS (
          |  SELECT event_type AS k2,
          |         CAST(round(value, 6) AS DECIMAL(18,6)) AS v
          |  FROM events),
          |m AS (
          |  SELECT k2, count(*) AS n,
          |         CAST(sum(v) AS DOUBLE) / count(*) AS m0
          |  FROM i GROUP BY 1),
          |r AS (
          |  SELECT i.k2, m.n, m.m0,
          |         CAST(round(CASE WHEN abs(CAST(v AS DOUBLE) - m0) <= 50.0
          |             THEN 1.0
          |             ELSE 50.0 / abs(CAST(v AS DOUBLE) - m0) END, 9)
          |           AS DECIMAL(28,9)) AS w9,
          |         CAST(round((CASE WHEN abs(CAST(v AS DOUBLE) - m0) <= 50.0
          |             THEN 1.0
          |             ELSE 50.0 / abs(CAST(v AS DOUBLE) - m0) END)
          |             * CAST(v AS DOUBLE), 9) AS DECIMAL(28,9)) AS wv9
          |  FROM i JOIN m ON m.k2 = i.k2),
          |g AS (
          |  SELECT k2, max(n) AS n, max(m0) AS m0,
          |         CAST(sum(w9) AS DECIMAL(38,9)) AS sw,
          |         CAST(sum(wv9) AS DECIMAL(38,9)) AS swv
          |  FROM r GROUP BY 1)
          |SELECT k2 AS event_type, n, round(m0, 6) AS mean_raw,
          |       round(CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE), 6)
          |         AS huber_mean
          |FROM g""".stripMargin)),

    // Population Stability Index between the click and view value
    // distributions — THE one-number model-monitoring shift alarm;
    // Laplace add-one keeps empty bins finite identically on both
    // engines, terms are 9-dp decimal summands.
    Q("q_ext_psi", (s, dir) => {
      val e = Tables.events(s, dir)
      Drift.psi(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "view"),
        "value", lo = 0.0, hi = 500.0, bins = 10)
    },
      oracle = Some(
        """WITH av AS (
          |  SELECT round(value, 6) AS v FROM events
          |  WHERE event_type = 'click' AND value IS NOT NULL),
          |bv AS (
          |  SELECT round(value, 6) AS v FROM events
          |  WHERE event_type = 'view' AND value IS NOT NULL),
          |ab AS (
          |  SELECT CAST(least(greatest(floor((v - 0.0) / 50.0), 0), 9)
          |    AS BIGINT) AS bin, count(*) AS c
          |  FROM av GROUP BY 1),
          |bb AS (
          |  SELECT CAST(least(greatest(floor((v - 0.0) / 50.0), 0), 9)
          |    AS BIGINT) AS bin, count(*) AS c
          |  FROM bv GROUP BY 1),
          |g AS (SELECT CAST(unnest(range(10)) AS BIGINT) AS bin),
          |j AS (
          |  SELECT g.bin, coalesce(ab.c, 0) + 1 AS ca1,
          |         coalesce(bb.c, 0) + 1 AS cb1
          |  FROM g LEFT JOIN ab USING (bin) LEFT JOIN bb USING (bin)),
          |t AS (SELECT CAST(sum(ca1) AS BIGINT) AS ta,
          |             CAST(sum(cb1) AS BIGINT) AS tb FROM j),
          |terms AS (
          |  SELECT CAST(round(
          |      (CAST(ca1 AS DOUBLE) / ta - CAST(cb1 AS DOUBLE) / tb)
          |      * ln((CAST(ca1 AS DOUBLE) / ta) / (CAST(cb1 AS DOUBLE) / tb)),
          |      9) AS DECIMAL(28,9)) AS term
          |  FROM j, t)
          |SELECT (SELECT ta - 10 FROM t) AS n_a,
          |       (SELECT tb - 10 FROM t) AS n_b,
          |       count(*) AS n_bins,
          |       round(CAST(sum(term) AS DOUBLE), 6) AS psi
          |FROM terms""".stripMargin)),

    // Daily acquisition curve: first-seen day per user + cumulative
    // base via a broadcast triangular join over the days table.
    Q("q_ext_new_users", (s, dir) =>
      graft.ops.Cohorts.cumulativeNewUsers(Tables.events(s, dir),
        "user_id", "ts"),
      oracle = Some(
        """WITH fs AS (
          |  SELECT user_id, min(CAST(ts AS DATE)) AS day
          |  FROM events GROUP BY 1),
          |pd AS (SELECT day, count(*) AS n_new FROM fs GROUP BY 1)
          |SELECT a.day, a.n_new, CAST(sum(b.n_new) AS BIGINT) AS cum_users
          |FROM pd a JOIN pd b ON b.day <= a.day GROUP BY 1, 2""".stripMargin)),

    // Hard-negative mining: per query, the most similar vectors with a
    // DIFFERENT label (pseudo-label = vec_id % 8) — the contrastive-
    // training negative sampler, exclusion fused before scoring.
    Q("q_ext_hard_negatives", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          (col("vec_id") % 8).as("label"))
      // fixed query set under replication, as q_ext_ann_cosine
      val queries = emb.filter(col("id") % 25 === 0 &&
        col("id") < graft.io.ScaleReplicate.KeyShift)
      Similarity.hardNegatives(queries, emb, k = 3)
        .withColumn("rank", col("rank").cast("long"))
    },
      oracle = Some(
        """WITH q AS (
          |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
          |         vec_id % 8 AS ql
          |  FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 1000000000),
          |c AS (
          |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv,
          |         vec_id % 8 AS cl
          |  FROM embeddings),
          |s AS (
          |  SELECT query_id, neighbor_id,
          |         round(list_cosine_similarity(qv, cv), 4) AS sim
          |  FROM c, q WHERE ql <> cl),
          |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
          |        ORDER BY sim DESC, neighbor_id) AS rank FROM s)
          |SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= 3""".stripMargin)),

    // LSH sign-bucketed approximate top-k (the scale path).
    Q("q_ext_ann_lsh", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.bucketedTopK(
          emb.filter(col("id") % 25 === 0 &&
            col("id") < graft.io.ScaleReplicate.KeyShift),
          emb, k = 3, bits = 8)
        .withColumn("rank", col("rank").cast("long"))
    },
      oracle = Some({
        def bucket(v: String) = (0 until 8)
          .map(i => s"(CASE WHEN $v[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END)")
          .mkString(" + ")
        s"""WITH q AS (
           |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
           |         ${bucket("embedding")} AS bucket
           |  FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 1000000000),
           |c AS (
           |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv,
           |         ${bucket("embedding")} AS bucket
           |  FROM embeddings),
           |s AS (
           |  SELECT query_id, neighbor_id,
           |         round(list_cosine_similarity(qv, cv), 4) AS sim
           |  FROM c JOIN q USING (bucket) WHERE query_id <> neighbor_id),
           |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |        ORDER BY sim DESC, neighbor_id) AS rank FROM s)
           |SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= 3""".stripMargin
      })),

    // Random-hyperplane LSH top-k (the production quantizer; signBucket
    // stays as the teaching baseline above).
    Q("q_ext_ann_hyperplane", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.hyperplaneTopK(
          emb.filter(col("id") % 25 === 0 &&
            col("id") < graft.io.ScaleReplicate.KeyShift),
          emb, k = 3, dims = 64, bits = 8)
        .withColumn("rank", col("rank").cast("long"))
    },
      oracle = Some(
        s"""WITH q AS (
           |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           |  FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 1000000000),
           |qb AS (SELECT query_id, qv, ${ddHyperplaneBucket("qv", 8, 64)} AS bucket FROM q),
           |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
           |cb AS (SELECT neighbor_id, cv, ${ddHyperplaneBucket("cv", 8, 64)} AS bucket FROM c),
           |s AS (
           |  SELECT query_id, neighbor_id,
           |         round(list_cosine_similarity(qv, cv), 4) AS sim
           |  FROM cb JOIN qb USING (bucket) WHERE query_id <> neighbor_id),
           |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |        ORDER BY sim DESC, neighbor_id) AS rank FROM s)
           |SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= 3""".stripMargin)),

    // IVF approximate top-k: inverted file over deterministically sampled
    // centroids, 4-cell probing (the trained-index ANN shape). Queries
    // AND centroids pin to the base replica: at a real 100 TB, centroid
    // count is a design constant, not a data fraction — without the pin
    // the 10x-replicated bench grows both sets 10x and assignment work
    // 100x (r6's 14.7x scaled ratio).
    Q("q_ext_ann_ivf", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val base = col("id") < graft.io.ScaleReplicate.KeyShift
      Similarity.ivfTopK(
          queries = emb.filter(col("id") % 25 === 0 && base),
          corpus = emb,
          centroids = emb.filter(col("id") % 50 === 7 && base),
          k = 3, nProbe = 4)
        .withColumn("rank", col("rank").cast("long"))
    },
      oracle = Some(
        """WITH cent AS (
          |  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
          |  FROM embeddings WHERE vec_id % 50 = 7 AND vec_id < 1000000000),
          |corp AS (
          |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
          |  FROM embeddings),
          |ranked AS (
          |  SELECT neighbor_id, cv, cent_id AS cell,
          |         row_number() OVER (PARTITION BY neighbor_id
          |           ORDER BY round(list_cosine_similarity(cv, cvec), 4) DESC, cent_id)
          |           AS cent_rank
          |  FROM corp, cent),
          |asg AS (SELECT neighbor_id, cv, cell FROM ranked WHERE cent_rank = 1),
          |q AS (
          |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          |  FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 1000000000),
          |pr AS (
          |  SELECT query_id, qv, cent_id AS cell,
          |         row_number() OVER (PARTITION BY query_id
          |           ORDER BY round(list_cosine_similarity(qv, cvec), 4) DESC, cent_id)
          |           AS probe_rank
          |  FROM q, cent),
          |probes AS (SELECT query_id, qv, cell FROM pr WHERE probe_rank <= 4),
          |s AS (
          |  SELECT query_id, neighbor_id,
          |         round(list_cosine_similarity(qv, cv), 4) AS sim
          |  FROM asg JOIN probes USING (cell)
          |  WHERE query_id <> neighbor_id),
          |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
          |        ORDER BY sim DESC, neighbor_id) AS rank FROM s)
          |SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= 3""".stripMargin)),

    // IVF with a TRAINED coarse quantizer: one deterministic Lloyd
    // iteration refines the sampled centroids (cells move to their
    // members' mean) before the same probe/scan plan. The oracle
    // replays the identical iteration in SQL; IvfTrainedSpec pins
    // recall-vs-brute-force >= the sampled variant on this fixture.
    Q("q_ext_ann_ivf_trained", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val base = col("id") < graft.io.ScaleReplicate.KeyShift
      // bounded (pinned sample); materialized so ivfTopK's two
      // references (assign + probe) don't re-run the Lloyd step
      val trained = graft.ops.Materialize.bounded(Similarity.lloydStep(
        corpus = emb, centroids = emb.filter(col("id") % 50 === 7 && base)))
      Similarity.ivfTopK(
          queries = emb.filter(col("id") % 25 === 0 && base),
          corpus = emb,
          centroids = trained,
          k = 3, nProbe = 4)
        .withColumn("rank", col("rank").cast("long"))
    },
      // The trained variants replay the Lloyd iteration chain in SQL:
      // assign every corpus vector to its nearest centroid, move each
      // cell to its members' per-dim mean (6-dp, the determinism
      // contract), empty cells carry over — unrolled `iters` times by
      // the generator, then the same probe/scan as q_ext_ann_ivf
      // against the refined centroids.
      oracle = Some(ivfTrainedOracle(iters = 1))),

    // Three chained iterations (k-means-3): the training PAYOFF query —
    // measured recall on this fixture rises 0.617 -> 0.717 vs the
    // sampled quantizer (IvfTrainedSpec pins the
    // strict improvement). Oracle = the same iteration chain unrolled
    // in generated SQL.
    Q("q_ext_ann_ivf_trained3", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val base = col("id") < graft.io.ScaleReplicate.KeyShift
      val trained = Similarity.lloyd(
        corpus = emb, centroids = emb.filter(col("id") % 50 === 7 && base),
        iters = 3)
      Similarity.ivfTopK(
          queries = emb.filter(col("id") % 25 === 0 && base),
          corpus = emb,
          centroids = trained,
          k = 3, nProbe = 4)
        .withColumn("rank", col("rank").cast("long"))
    },
      oracle = Some(ivfTrainedOracle(iters = 3))),

    // Product quantization, training + encode: per-subspace codebooks
    // (4 × 16 dims, one bounded Lloyd step over the PINNED base-replica
    // sample — the KeyShift idiom keeps the codebook fixed-size under
    // scale replication) and each vector's 4 codes. 4 bytes/vector vs
    // 256 of float32 — the compression rung below int8 that makes a
    // billion-vector index fit a cluster. Oracle replays slicing,
    // Lloyd, and argmax assignment per subspace.
    Q("q_ext_pq_encode", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val cb = Pq.trainCodebooks(emb, "id", "vec", mSub = 4, subDim = 16,
        centFilter = col("id") % 50 === 7 &&
          col("id") < graft.io.ScaleReplicate.KeyShift,
        iters = 1)
      Pq.encode(emb, "id", "vec", cb, mSub = 4, subDim = 16)
        .select(col("vec_id"), col("sub").cast("long").as("sub"), col("code"))
    },
      // PQ: the whole stack (slice → Lloyd → encode [→ LUT → ADC top-k])
      // re-derived in SQL, per subspace.
      oracle = Some(pqOracle(mSub = 4, subDim = 16, withAdc = false))),

    // PQ asymmetric-distance top-k: exact query, candidates scored by
    // the DECIMAL-exact sum of per-subspace LUT dot products (dot
    // decomposes exactly over subspaces). Query set pinned to the base
    // replica; the ADC scan is codes ⋈ broadcast LUT — linear in
    // corpus, the 100 TB read path of a PQ index. Oracle replays
    // training, encoding, LUT, and ranking end-to-end.
    Q("q_ext_pq_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val cb = Pq.trainCodebooks(emb, "id", "vec", mSub = 4, subDim = 16,
        centFilter = col("id") % 50 === 7 &&
          col("id") < graft.io.ScaleReplicate.KeyShift,
        iters = 1)
      val codes = Pq.encode(emb, "id", "vec", cb, mSub = 4, subDim = 16)
      val queries = emb.filter(col("id") % 25 === 0 &&
        col("id") < graft.io.ScaleReplicate.KeyShift)
      Pq.adcTopK(queries, codes, cb, k = 10, mSub = 4, subDim = 16)
        .withColumn("rank", col("rank").cast("long"))
    },
      oracle = Some(pqOracle(mSub = 4, subDim = 16, withAdc = true))),

    // Overlapping token-window chunking (RAG/index prep): 40-token
    // windows, stride 30 — row-local array expressions only, zero
    // shuffle, stays inside the scan's codegen stage. Oracle re-derives
    // every window boundary and fingerprint.
    Q("q_ext_chunking", (s, dir) =>
      Chunking.chunkTokens(Tables.documents(s, dir), "doc_id", "text",
          chunkSize = 40, stride = 30)
        .select(col("doc_id"), col("chunk_ix").cast("long").as("chunk_ix"),
          col("start_tok").cast("long").as("start_tok"),
          col("n_tok").cast("long").as("n_tok"), col("chunk_fp")),
      // chunk_ix = start/stride exactly because starts are the stride's
      // multiples; slice clamps at the document end in both engines.
      oracle = Some(
        """WITH t AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
          |  FROM documents),
          |st AS (
          |  SELECT doc_id, tk, unnest(range(0, len(tk), 30)) AS start_tok
          |  FROM t)
          |SELECT doc_id, CAST(start_tok // 30 AS BIGINT) AS chunk_ix,
          |       CAST(start_tok AS BIGINT) AS start_tok,
          |       CAST(least(len(tk) - start_tok, 40) AS BIGINT) AS n_tok,
          |       substring(md5(array_to_string(
          |         tk[start_tok + 1 : start_tok + 40], ' ')), 1, 16) AS chunk_fp
          |FROM st""".stripMargin)),

    // The chunking storage budget per document (overlap factor =
    // chunked_tokens / doc tokens — what the corpus build pays).
    Q("q_ext_chunk_budget", (s, dir) =>
      Chunking.chunkBudget(Tables.documents(s, dir), "doc_id", "text",
          chunkSize = 40, stride = 30)
        .select(col("doc_id"), col("n_chunks"),
          col("chunked_tokens").cast("long").as("chunked_tokens")),
      oracle = Some(
        """WITH t AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
          |  FROM documents),
          |st AS (
          |  SELECT doc_id, tk, unnest(range(0, len(tk), 30)) AS start_tok
          |  FROM t)
          |SELECT doc_id, count(*) AS n_chunks,
          |       CAST(sum(least(len(tk) - start_tok, 40)) AS BIGINT)
          |         AS chunked_tokens
          |FROM st GROUP BY 1""".stripMargin)),

    // Token budgeting: whitespace tokens vs BPE-ish pretokenizer pieces.
    Q("q_ext_bpe_tokens", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_ws_tokens"),
        TextStats.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens")),
      oracle = Some(
        """SELECT doc_id,
          |  len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
          |  len(regexp_extract_all(text,
          |    '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s'']+|\s'))
          |    AS n_bpe_tokens
          |FROM documents""".stripMargin)),

    // int8 embedding quantization: per-vector digests (step, code sum,
    // cosine of original vs dequantized — the ANN-relevant fidelity).
    Q("q_ext_quantize", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = Similarity.quantizeInt8(col("embedding"))
      emb.select(col("vec_id"), q.as("q"),
          Similarity.asDouble(col("embedding")).as("v"))
        .select(
          col("vec_id"),
          round(col("q.step"), 9).as("step"),
          expr("aggregate(q.codes, 0L, (a, c) -> a + c)").as("code_sum"),
          // nanvl -1.0: a zero vector dequantizes to zero → 0/0 cosine;
          // DuckDB's list_cosine_similarity returns -1.0 there
          round(nanvl(graft.functions.VectorExpressions.vecCosine(
            col("v"), Similarity.dequantizeInt8(col("q"))), lit(-1.0)), 4)
            .as("cos_fidelity"))
    },
      oracle = Some(
        """WITH v AS (
          |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |s AS (
          |  SELECT vec_id, v,
          |         list_max(list_transform(v, x -> abs(x))) AS scale
          |  FROM v),
          |q AS (
          |  SELECT vec_id, v, scale / 127.0 AS step,
          |         list_transform(v, x -> CAST(round(
          |           x / (CASE WHEN scale > 0 THEN scale ELSE 1.0 END) * 127.0)
          |           AS TINYINT)) AS codes
          |  FROM s)
          |SELECT vec_id,
          |       round(step, 9) AS step,
          |       CAST(list_sum(codes) AS BIGINT) AS code_sum,
          |       round(list_cosine_similarity(v,
          |         list_transform(codes, c -> c * step)), 4) AS cos_fidelity
          |FROM q""".stripMargin)),

    // Embedding-cosine near-dup pairs within LSH buckets.
    Q("q_ext_embed_neardup", (s, dir) =>
      Similarity.cosineNearDupPairs(
        Tables.embeddings(s, dir).select(col("vec_id").as("id"), col("embedding")),
        "id", "embedding", minCosine = 0.3, bits = 8),
      oracle = Some({
        def bucket(v: String) = (0 until 8)
          .map(i => s"(CASE WHEN $v[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END)")
          .mkString(" + ")
        s"""WITH v AS (
           |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
           |         ${bucket("embedding")} AS bucket
           |  FROM embeddings)
           |SELECT a.id AS id_a, b.id AS id_b,
           |       round(list_cosine_similarity(a.v, b.v), 4) AS sim
           |FROM v a JOIN v b ON a.bucket = b.bucket AND a.id < b.id
           |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.3""".stripMargin
      })),

    // SemDeDup: cluster embeddings (IVF-style assignment against the
    // deterministic centroid sample), then drop within-cluster vectors
    // with a lower-id cosine>=tau neighbor. tau=0.3 exercises the prune
    // on the random fixture vectors (their max within-cell cosine is
    // ~0.49); production tau is ~0.95+.
    Q("q_ext_semdedup", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // centroid count is a design constant at scale — pin the sample
      // to the base replica (no-op at base SF, fixed k under the
      // bench's replication; r6's 14.1x scaled ratio was this)
      val cents = emb.filter(col("vec_id") % 50 === 7 &&
          col("vec_id") < graft.io.ScaleReplicate.KeyShift)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.semDeDup(
        emb.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", cents, tau = 0.3)
    },
      oracle = Some(
        """WITH cent AS (
          |  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
          |  FROM embeddings WHERE vec_id % 50 = 7 AND vec_id < 1000000000),
          |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
          |r AS (
          |  SELECT vec_id, vv, cent_id AS cell,
          |         row_number() OVER (PARTITION BY vec_id
          |           ORDER BY round(list_cosine_similarity(vv, cvec), 4) DESC,
          |                    cent_id) AS rk
          |  FROM v, cent),
          |asg AS (SELECT vec_id, vv, cell FROM r WHERE rk = 1),
          |mr AS (
          |  SELECT vec_id, vv, cell,
          |         row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS mrk
          |  FROM asg),
          |sc AS (SELECT vec_id, vv, cell FROM mr WHERE mrk <= 10000),
          |dup AS (
          |  SELECT DISTINCT b.vec_id
          |  FROM sc a JOIN sc b ON a.cell = b.cell AND a.vec_id < b.vec_id
          |  WHERE round(list_cosine_similarity(a.vv, b.vv), 4) >= 0.3)
          |SELECT asg.vec_id, asg.cell,
          |       CAST(dup.vec_id IS NULL AS BIGINT) AS kept,
          |       CAST(mr.mrk <= 10000 AS BIGINT) AS scanned
          |FROM asg LEFT JOIN dup ON asg.vec_id = dup.vec_id
          |JOIN mr ON mr.vec_id = asg.vec_id""".stripMargin)),

    // Segment-level (CCNet-style) dedup: a 10-word boilerplate header
    // is injected on every third doc, and the operator must find it by
    // corpus-wide document frequency and strip it — while reassembling
    // every untouched segment in order.
    Q("q_ext_line_dedup", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(lit("terms of service apply to this site contact us today "),
            col("text")))
          .otherwise(col("text")).as("text"))
      Dedup.segmentDedup(docs, "doc_id", "text", segWords = 10, maxDocFreq = 10)
        .withColumnRenamed("id", "doc_id")
    },
      oracle = Some(
        """WITH src AS (
          |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
          |    THEN 'terms of service apply to this site contact us today ' || text
          |    ELSE text END AS text
          |  FROM documents),
          |docs AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
          |  FROM src),
          |segs AS (
          |  SELECT doc_id,
          |         unnest(range(CAST(ceil(len(words) / 10.0) AS BIGINT))) AS seg_idx,
          |         words
          |  FROM docs),
          |seg2 AS (
          |  SELECT doc_id, seg_idx,
          |         array_to_string(words[(seg_idx * 10 + 1):(seg_idx * 10 + 10)],
          |                         ' ') AS seg
          |  FROM segs),
          |hot AS (
          |  SELECT seg FROM seg2 GROUP BY seg
          |  HAVING count(DISTINCT doc_id) >= 10),
          |flag AS (
          |  SELECT s.doc_id, s.seg_idx, s.seg, (h.seg IS NOT NULL) AS is_hot
          |  FROM seg2 s LEFT JOIN hot h ON s.seg = h.seg)
          |SELECT doc_id,
          |       coalesce(string_agg(CASE WHEN NOT is_hot THEN seg END,
          |                           ' ' ORDER BY seg_idx), '') AS clean_text,
          |       CAST(count(CASE WHEN NOT is_hot THEN 1 END) AS BIGINT) AS n_kept,
          |       CAST(count(CASE WHEN is_hot THEN 1 END) AS BIGINT) AS n_dropped
          |FROM flag GROUP BY doc_id""".stripMargin)),

    // Multimodal: binary payload + expression-level metadata.
    Q("q_ext_multimodal_meta", (s, dir) => {
      val media = Multimodal.asMediaTable(Tables.documents(s, dir), "doc_id", "text")
      Multimodal.binaryMeta(media, "id", "payload")
        .select(col("id").as("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
          col("first_byte").cast("long").as("first_byte"))
    },
      oracle = Some(
        """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          |       CAST(ascii(text) AS BIGINT) AS first_byte
          |FROM documents""".stripMargin)),

    // Multimodal decode, oracle-checked: real container bytes through the
    // binaryFile source -> partition-wise header parse (PNG/GIF/JPEG) with
    // the stub fallback; expected (format, dims) are pinned literals in
    // the fixture's expected_media.csv, which DuckDB reads back.
    Q("q_ext_multimodal_decode", (s, dir) => {
      val glob = graft.io.VerifyFixtures.mediaFixture()
      val sp = s
      import sp.implicits._
      val media = Multimodal.readBinaryFiles(s, glob)
        .select(
          regexp_extract(col("path"), "media_0*([0-9]+)\\.bin", 1)
            .cast("long").as("id"),
          col("content").as("payload"),
          lit("application/octet-stream").as("mediaType"))
        .as[Multimodal.MediaRow]
      Multimodal.extractFeatures(media).toDF()
        .select(col("id"), col("mediaType").as("media_type"),
          col("byteLength").cast("long").as("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
    },
      oracle = Some({
        val p = graft.io.VerifyFixtures.mediaExpectedPath
        s"""SELECT id, media_type, n_bytes, width, height
           |FROM read_csv('$p', header=true)""".stripMargin
      }),
      fixture = true),

    // The stub-decode path over the documents table stays demonstrated,
    // rows-only (Scala checksum is not SQL-expressible).
    Q("q_ext_multimodal_stub", (s, dir) => {
      val sp = s
      import sp.implicits._
      val media = Multimodal.asMediaTable(Tables.documents(s, dir), "doc_id", "text")
        .select(col("id"), col("payload"), col("meta.content_type").as("mediaType"))
        .as[Multimodal.MediaRow]
      Multimodal.extractFeatures(media).toDF()
    }),

    // Deterministic hash sampling: a pure pushed-down predicate, stable
    // under reruns/partitionings/engines — the oracle recomputes the
    // SAME membership in DuckDB.
    Q("q_ext_sample_hash", (s, dir) =>
      Sampling.hashSample(Tables.documents(s, dir), "doc_id", 0.2, "s1")
        .select(col("doc_id"), col("source")),
      // The thresholds interpolate from Sampling.rateThreshold so the
      // oracle and the operator can never disagree on the boundary.
      oracle = Some({
        val thr = Sampling.rateThreshold(0.2)
        s"""SELECT doc_id, source FROM documents
           |WHERE substring(md5('s1' || CAST(doc_id AS VARCHAR)), 1, 8) < '$thr'""".stripMargin
      })),

    // Train/val/test split assignment — per-key deterministic, so a
    // document's split never changes as the corpus grows.
    Q("q_ext_split_assign", (s, dir) =>
      Sampling.assignSplit(Tables.documents(s, dir), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "sp")
        .select(col("doc_id"), col("split")),
      oracle = Some({
        val (t80, t90) = (Sampling.rateThreshold(0.8), Sampling.rateThreshold(0.9))
        s"""SELECT doc_id,
           |  CASE WHEN h < '$t80' THEN 'train'
           |       WHEN h < '$t90' THEN 'val' ELSE 'test' END AS split
           |FROM (SELECT doc_id,
           |        substring(md5('sp' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
           |      FROM documents)""".stripMargin
      })),

    // Weighted source mixing (the corpus-recipe operator): one
    // codegen'd predicate, per-source admission rates, no shuffle.
    Q("q_ext_mix_sources", (s, dir) =>
      Sampling.mixBySource(Tables.documents(s, dir), "doc_id", "source",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1),
          "mx")
        .select(col("doc_id"), col("source")),
      oracle = Some({
        def t(r: Double) = Sampling.rateThreshold(r)
        s"""SELECT doc_id, source FROM (
           |  SELECT doc_id, source,
           |         substring(md5('mx' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
           |  FROM documents)
           |WHERE h < CASE source
           |  WHEN 'src0' THEN '${t(1.0)}' WHEN 'src1' THEN '${t(0.5)}'
           |  WHEN 'src2' THEN '${t(0.25)}' WHEN 'src3' THEN '${t(0.1)}'
           |  ELSE '' END""".stripMargin
      })),

    // Per-key deterministic sample: N docs per source, chosen by hash
    // order — "give me 5 representative docs from every source" without
    // a shuffle of anything but (key, hash). The row_number filter is
    // rewritten to the bounded-heap TopKPerKey, so no per-source sort
    // exists in the plan.
    Q("q_ext_sample_per_key", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source")
        .orderBy(Sampling.hashHex(col("doc_id"), "pk"), col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("source"), col("doc_id"), col("rn").cast("long").as("rn"))
    },
      oracle = Some(
        """SELECT source, doc_id, rn FROM (
          |  SELECT source, doc_id,
          |         row_number() OVER (PARTITION BY source
          |           ORDER BY substring(md5('pk' || CAST(doc_id AS VARCHAR)), 1, 8),
          |                    doc_id) AS rn
          |  FROM documents)
          |WHERE rn <= 5""".stripMargin)),

    // Corpus length histogram in power-of-two token buckets (the
    // sequence-length profile that sizes packing/context decisions):
    // bucket = bit-length of the whitespace token count — integer-exact
    // in both engines, no float log at bucket boundaries.
    Q("q_ext_len_histogram", (s, dir) => {
      val nTok = size(split(trim(col("text")), "\\s+")).cast("long")
      Tables.documents(s, dir)
        .select(length(bin(nTok)).cast("long").as("len_class"))
        .groupBy("len_class")
        .agg(count(lit(1)).as("n_docs"))
    },
      oracle = Some(
        """SELECT CAST(length(bin(CAST(len(regexp_split_to_array(trim(text), '\s+'))
          |         AS BIGINT))) AS BIGINT) AS len_class,
          |       count(*) AS n_docs
          |FROM documents GROUP BY 1""".stripMargin)),

    // Sequence packing: documents into 512-token bins in deterministic
    // hash order, via the distributed PrefixSum (no global window — the
    // DuckDB oracle recomputes the same integer arithmetic with one).
    Q("q_ext_pack_bins", (s, dir) => {
      val sized = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("sz"))
      Packing.assignBins(sized, "doc_id", "sz", 512L, "pb")
        .select(col("doc_id"), col("sz"), col("bin_id"), col("bin_offset"))
    },
      oracle = Some(
        """WITH s AS (
          |  SELECT doc_id,
          |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS sz,
          |         substring(md5('pb' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, sz,
          |         CAST(coalesce(sum(sz) OVER (ORDER BY h, doc_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |           AS BIGINT) AS strt
          |  FROM s)
          |SELECT doc_id, sz, strt // 512 AS bin_id, strt % 512 AS bin_offset
          |FROM c""".stripMargin)),

    // Duplicate clusters: transitive closure over the SAME jaccard
    // pairs q_ext_dedup_jaccard pins, each component labeled by its
    // smallest doc — the canonical-document assignment. The DuckDB
    // oracle recomputes the closure with a recursive CTE.
    Q("q_ext_dedup_clusters", (s, dir) => {
      val pairs = Dedup.wordJaccardPairs(
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 0),
        "doc_id", "text", 0.8)
      Clusters.connectedComponents(pairs, "id_a", "id_b")
    },
      oracle = Some(
        """WITH RECURSIVE words AS (
          |  SELECT DISTINCT doc_id AS id,
          |         unnest(regexp_split_to_array(trim(text), '\s+')) AS w
          |  FROM documents WHERE doc_id % 10 = 0),
          |sizes AS (SELECT id, count(*) AS sz FROM words GROUP BY 1),
          |inter AS (
          |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS cnt
          |  FROM words a JOIN words b ON a.w = b.w AND a.id < b.id
          |  GROUP BY 1, 2),
          |pairs AS (
          |  SELECT id_a, id_b FROM inter
          |  JOIN sizes sa ON sa.id = id_a
          |  JOIN sizes sb ON sb.id = id_b
          |  WHERE cnt * 1.0 / (sa.sz + sb.sz - cnt) >= 0.8),
          |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          |          UNION SELECT id_b, id_a FROM pairs),
          |reach(node, r) AS (
          |  SELECT a, a FROM edges
          |  UNION
          |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a)
          |SELECT node, min(r) AS cluster FROM reach GROUP BY node""".stripMargin)),

    // Context-window chunking: 32-token windows, stride 24 (8-token
    // overlap), exploded to one row per chunk with its token count.
    Q("q_ext_chunk", (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(TextStats.chunkTokens(col("text"), 32, 24))
            .as(Seq("chunk_id", "chunk")))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("chunk"),
          TextStats.tokenCount(col("chunk")).cast("long").as("n_tokens"))
    },
      oracle = Some(
        """WITH toks AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
          |  FROM documents),
          |n AS (
          |  SELECT doc_id, t,
          |         greatest(CAST(ceil((len(t) - 32) * 1.0 / 24) AS INTEGER) + 1, 1)
          |           AS n_chunks
          |  FROM toks),
          |c AS (
          |  SELECT doc_id, unnest(range(n_chunks)) AS chunk_id, t FROM n)
          |SELECT doc_id, chunk_id,
          |       array_to_string(t[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ') AS chunk,
          |       CAST(least(len(t) - chunk_id * 24, 32) AS BIGINT) AS n_tokens
          |FROM c""".stripMargin)),

    // Gopher-family repetition quality signals, all per-row HOFs (zero
    // shuffle): within-doc duplicate-token fraction and the fraction of
    // n-grams taken by the most frequent 2-/3-gram. The oracle
    // recomputes them relationally (unnest → count → max).
    Q("q_ext_repetition", (s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextStats.dupTokenFrac(col("text")).as("dup_token_frac"),
        TextStats.topNgramFrac(col("text"), 2).as("top_bigram_frac"),
        TextStats.topNgramFrac(col("text"), 3).as("top_trigram_frac"))
    },
      oracle = Some(
        """WITH toks AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
          |  FROM documents),
          |uni AS (
          |  SELECT doc_id, count(*) AS tot, count(DISTINCT w) AS dis
          |  FROM (SELECT doc_id, unnest(t) AS w FROM toks) GROUP BY 1),
          |big AS (
          |  SELECT doc_id, max(c) AS top, sum(c) AS tot FROM (
          |    SELECT doc_id, g, count(*) AS c FROM (
          |      SELECT doc_id, t[i] || ' ' || t[i+1] AS g
          |      FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks))
          |    GROUP BY 1, 2) GROUP BY 1),
          |tri AS (
          |  SELECT doc_id, max(c) AS top, sum(c) AS tot FROM (
          |    SELECT doc_id, g, count(*) AS c FROM (
          |      SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
          |      FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks))
          |    GROUP BY 1, 2) GROUP BY 1)
          |SELECT k.doc_id,
          |       CAST(len(k.t) AS BIGINT) AS n_tokens,
          |       round(1.0 - u.dis * 1.0 / u.tot, 6) AS dup_token_frac,
          |       round(coalesce(b.top * 1.0 / b.tot, 0), 6) AS top_bigram_frac,
          |       round(coalesce(t3.top * 1.0 / t3.tot, 0), 6) AS top_trigram_frac
          |FROM toks k
          |JOIN uni u USING (doc_id)
          |LEFT JOIN big b USING (doc_id)
          |LEFT JOIN tri t3 USING (doc_id)""".stripMargin)),

    // Partition-pruned layout: write the event log date-partitioned,
    // read back a 3-day window — the scan prunes directories at
    // planning time (PartitionFilters; asserted in LayoutSpec). The
    // oracle computes the same window from the raw table.
    Q("q_ext_partition_prune", (s, dir) => {
      val out = scratchDir(s, "g_events_by_day", dir)
      graft.io.Layout.writeDatePartitioned(
        Tables.events(s, dir).select(col("event_id"), col("ts"),
          col("event_type"), col("value")), "ts", out)
      graft.io.Layout.readDatePartitioned(s, out)
        .filter(col("p_date").between(lit("2024-01-05"), lit("2024-01-07")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 6).as("avg_value"))
    },
      oracle = Some(
        """SELECT event_type, count(*) AS n, round(avg(value), 6) AS avg_value
          |FROM events
          |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-07'
          |GROUP BY 1""".stripMargin)),

    // The SQL entry point end-to-end: registered tables + the engine's
    // native vec_cosine expression driven purely from SQL text (the
    // extension registers it into every session via
    // spark.sql.extensions).
    Q("q_ext_sql_api", (s, dir) => {
      Tables.embeddings(s, dir).createOrReplaceTempView("g_emb")
      s.sql("""
        SELECT a.vec_id,
               round(vec_cosine(CAST(a.embedding AS ARRAY<DOUBLE>),
                                CAST(b.embedding AS ARRAY<DOUBLE>)), 6) AS sim
        FROM g_emb a JOIN g_emb b ON b.vec_id = a.vec_id + 1
        WHERE a.vec_id % 50 = 0""")
    },
      oracle = Some(
        """SELECT a.vec_id,
          |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
          |                                    CAST(b.embedding AS DOUBLE[])), 6) AS sim
          |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
          |WHERE a.vec_id % 50 = 0""".stripMargin)),

    // Snapshot diff between two simulated corpus drops: old = docs
    // < 450, new = docs >= 50 with every doc_id % 100 == 0 edited.
    Q("q_ext_snapshot_diff", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val oldSnap = docs.filter(col("doc_id") < 450)
      val newSnap = docs.filter(col("doc_id") >= 50).withColumn("text",
        when(col("doc_id") % 100 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      graft.ops.Diff.snapshotDiff(oldSnap, newSnap, Seq("doc_id"), Seq("text"))
    },
      oracle = Some(
        """WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id < 450),
          |n AS (
          |  SELECT doc_id,
          |         CASE WHEN doc_id % 100 = 0 THEN text || ' v2' ELSE text END AS text
          |  FROM documents WHERE doc_id >= 50)
          |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
          |       CASE WHEN o.doc_id IS NULL THEN 'added'
          |            WHEN n.doc_id IS NULL THEN 'removed'
          |            WHEN o.text IS DISTINCT FROM n.text THEN 'changed'
          |       END AS change_type
          |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
          |WHERE CASE WHEN o.doc_id IS NULL THEN 'added'
          |           WHEN n.doc_id IS NULL THEN 'removed'
          |           WHEN o.text IS DISTINCT FROM n.text THEN 'changed'
          |      END IS NOT NULL""".stripMargin)),

    // Ordered conversion funnel over the event log: view -> click ->
    // purchase, each step strictly after the previous per user.
    Q("q_ext_funnel", (s, dir) =>
      graft.ops.Funnel.funnelCounts(Tables.events(s, dir),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase")),
      oracle = Some(
        """WITH s0 AS (
          |  SELECT user_id AS u, min(ts) AS t0 FROM events
          |  WHERE event_type = 'view' GROUP BY 1),
          |s1 AS (
          |  SELECT e.user_id AS u, min(e.ts) AS t1 FROM events e
          |  JOIN s0 ON s0.u = e.user_id AND e.ts > s0.t0
          |  WHERE e.event_type = 'click' GROUP BY 1),
          |s2 AS (
          |  SELECT e.user_id AS u, min(e.ts) AS t2 FROM events e
          |  JOIN s1 ON s1.u = e.user_id AND e.ts > s1.t1
          |  WHERE e.event_type = 'purchase' GROUP BY 1)
          |SELECT 0 AS step, 'view' AS event_type,
          |       (SELECT count(*) FROM s0) AS n_users
          |UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
          |UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2)""".stripMargin)),

    // Incremental dedup: the docs in the "new drop" (doc_id >= 400)
    // whose content was never seen in the "historical store" (< 400) —
    // one anti-join on 8-byte fingerprints, O(new batch) per ingest.
    Q("q_ext_dedup_incremental", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val store = Dedup.exactGroups(docs.filter(col("doc_id") < 400), "doc_id", "text")
        .select(col("fingerprint"))
      Dedup.dropSeenFingerprints(docs.filter(col("doc_id") >= 400), "text", store)
        .select(col("doc_id"))
    },
      oracle = Some(
        """SELECT doc_id FROM documents
          |WHERE doc_id >= 400
          |  AND substring(md5(text), 1, 16) NOT IN (
          |    SELECT substring(md5(text), 1, 16) FROM documents WHERE doc_id < 400)""".stripMargin)),

    // One-pass per-column data profile (the corpus-drop validation
    // report): null counts, exact distincts, stringified min/max.
    Q("q_ext_profile", (s, dir) =>
      Profile.profile(Tables.documents(s, dir), Seq("lang", "source", "n_chars")),
      oracle = Some(
        """SELECT 'lang' AS column, count(*) AS n_rows,
          |       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
          |       round(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) * 1.0
          |             / greatest(count(*), 1), 6) AS null_frac,
          |       count(DISTINCT lang) AS n_distinct,
          |       CAST(min(lang) AS VARCHAR) AS min_value,
          |       CAST(max(lang) AS VARCHAR) AS max_value
          |FROM documents
          |UNION ALL
          |SELECT 'source', count(*),
          |       CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          |       round(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) * 1.0
          |             / greatest(count(*), 1), 6),
          |       count(DISTINCT source),
          |       CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
          |FROM documents
          |UNION ALL
          |SELECT 'n_chars', count(*),
          |       CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          |       round(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) * 1.0
          |             / greatest(count(*), 1), 6),
          |       count(DISTINCT n_chars),
          |       CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
          |FROM documents""".stripMargin)),

    // The sketch-distinct profile under the gate: everything except the
    // HLL estimate is hash-checked against the exact-profile oracle;
    // the estimate itself is tolerance-gated (|approx-exact|/exact <=
    // 15% ~ 3x the default 5% rsd) — the q_a6b pattern for mergeable
    // sketches whose exact value is engine-specific.
    Q("q_ext_profile_approx", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val cols = Seq("lang", "source", "n_chars")
      val ex = Profile.profile(docs, cols)
      val ap = Profile.approxProfile(docs, cols)
        .select(col("column"), col("n_distinct").as("n_distinct_approx"))
      ex.join(broadcast(ap), "column")
        .select(col("column"), col("n_rows"), col("n_null"), col("null_frac"),
          col("min_value"), col("max_value"),
          (abs(col("n_distinct_approx") - col("n_distinct")).cast("double")
            / greatest(col("n_distinct"), lit(1L)) <= 0.15)
            .cast("long").as("approx_ok"))
    },
      oracle = Some(
        """SELECT 'lang' AS column, count(*) AS n_rows,
          |       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
          |       round(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) * 1.0
          |             / greatest(count(*), 1), 6) AS null_frac,
          |       CAST(min(lang) AS VARCHAR) AS min_value,
          |       CAST(max(lang) AS VARCHAR) AS max_value,
          |       CAST(1 AS BIGINT) AS approx_ok
          |FROM documents
          |UNION ALL
          |SELECT 'source', count(*),
          |       CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          |       round(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) * 1.0
          |             / greatest(count(*), 1), 6),
          |       CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR), TRUE
          |FROM documents
          |UNION ALL
          |SELECT 'n_chars', count(*),
          |       CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          |       round(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) * 1.0
          |             / greatest(count(*), 1), 6),
          |       CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR), TRUE
          |FROM documents""".stripMargin)),

    // Referential-integrity check: events whose user_id has no matching
    // customer row (NULL fks excluded per SQL FK semantics).
    Q("q_ext_fk_check", (s, dir) =>
      Profile.fkViolations(Tables.events(s, dir), "user_id",
        Tables.load(s, dir, "customer"), "c_custkey"),
      oracle = Some(
        """WITH o AS (
          |  SELECT count(*) AS n_orphans FROM events e
          |  WHERE e.user_id IS NOT NULL
          |    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)),
          |c AS (SELECT count(*) AS n_child FROM events)
          |SELECT c.n_child, o.n_orphans,
          |       round(o.n_orphans * 1.0 / greatest(c.n_child, 1), 6) AS orphan_frac
          |FROM c, o""".stripMargin)),

    // PII redaction: the corpus has no real PII, so the query PLANTS
    // deterministic emails/URLs/phones/IPs derived from doc_id, then
    // scrubs them — the oracle re-plants and re-scrubs with the same
    // RE2-compatible patterns, pinning regex semantics across engines.
    Q("q_ext_redact_pii", (s, dir) => {
      val dirty = concat(col("text"),
        lit(" contact user"), col("doc_id"),
        lit("@mail.example.com or http://site.example/p/"), col("doc_id"),
        lit(" tel +62 811 555 "),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" ip 10.0."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".7"))
      Tables.documents(s, dir).select(
        col("doc_id"), TextStats.redactPii(dirty).as("clean"))
    },
      oracle = Some(
        """WITH dirty AS (
          |  SELECT doc_id,
          |         text || ' contact user' || doc_id ||
          |         '@mail.example.com or http://site.example/p/' || doc_id ||
          |         ' tel +62 811 555 ' ||
          |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
          |         ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS d
          |  FROM documents)
          |SELECT doc_id,
          |       regexp_replace(regexp_replace(regexp_replace(regexp_replace(d,
          |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |         'https?://[^\s]+', '<URL>', 'g'),
          |         '\+?\d{1,3}[-. ]\d{3}[-. ]\d{3,4}[-. ]?\d{0,4}', '<PHONE>', 'g'),
          |         '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS clean
          |FROM dirty""".stripMargin)),

    // Structured-record linkage (Fellegi–Sunter shape): the corpus has
    // no dirty metadata, so the query PLANTS two duplicate classes —
    // full dups (balance nudged a cent) and partial dups (first name
    // char corrupted, balance far) — then blocks on (nation, phone
    // prefix), scores field agreements with integer weights, and
    // classifies match / possible. The oracle replants and rescores
    // identically; every weight and both thresholds are part of the
    // contract.
    Q("q_ext_record_linkage", (s, dir) => {
      val records = linkageRecords(Tables.load(s, dir, "customer"))
      val pairs = Linkage.blockedPairs(records, "rid", Seq("nation", "block"))
      Linkage.classify(pairs, linkageScores(pairs), matchMin = 10L,
        possibleMin = 1L)
    },
      oracle = Some(
        """WITH base AS (
          |  SELECT c_custkey AS rid, c_name AS name,
          |         CAST(c_nationkey AS BIGINT) AS nation,
          |         c_acctbal AS bal, c_mktsegment AS seg,
          |         lpad(CAST(c_custkey % 997 AS VARCHAR), 4, '0') || '-' ||
          |           lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS phone
          |  FROM customer),
          |dup1 AS (
          |  SELECT rid + 50000000 AS rid, name, nation, bal + 0.01 AS bal,
          |         seg, phone
          |  FROM base WHERE rid % 13 = 0),
          |dup2 AS (
          |  SELECT rid + 90000000 AS rid, 'X' || substring(name, 2) AS name,
          |         nation, bal + 5.0 AS bal, seg, phone
          |  FROM base WHERE rid % 29 = 3),
          |rec0 AS (
          |  SELECT *, substring(phone, 1, 4) AS block FROM
          |  (SELECT * FROM base UNION ALL SELECT * FROM dup1
          |   UNION ALL SELECT * FROM dup2)),
          |rec AS (
          |  SELECT * FROM (
          |    SELECT *, row_number() OVER (PARTITION BY nation, block
          |                                 ORDER BY rid) AS brn
          |    FROM rec0)
          |  WHERE brn <= 10000),
          |p AS (
          |  SELECT a.rid AS id_a, b.rid AS id_b,
          |         (CASE WHEN a.name = b.name THEN 6
          |               WHEN levenshtein(a.name, b.name) <= 2 THEN 2
          |               ELSE -3 END
          |        + CASE WHEN a.phone = b.phone THEN 4 ELSE -2 END
          |        + CASE WHEN abs(a.bal - b.bal) <= 0.02 THEN 2 ELSE -1 END
          |        + CASE WHEN a.seg = b.seg THEN 1 ELSE -1 END) AS score
          |  FROM rec a JOIN rec b
          |    ON a.nation = b.nation AND a.block = b.block AND a.rid < b.rid)
          |SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
          |       CAST(score AS BIGINT) AS score,
          |       CASE WHEN score >= 10 THEN 'match' ELSE 'possible' END
          |         AS verdict
          |FROM p WHERE score >= 1""".stripMargin)),

    // Asymmetric set-containment pairs (Broder's containment, the
    // quote/subset complement of Jaccard): a short doc wholly inside a
    // long one scores containment ~1.0 where Jaccard stays low. Same
    // sampled corpus and inverted-index join as q_ext_dedup_jaccard;
    // output is BIGINT-only (micro-unit integer floor-division), so no
    // float round sits between the engines.
    Q("q_ext_dedup_containment", (s, dir) =>
      Dedup.wordContainmentPairs(
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 0),
        "doc_id", "text", minContainment = 0.8),
      // Containment replay: same sampled inverted-index join as the
      // jaccard oracle; micro-unit integer floor-division on both sides
      // (DuckDB `//` truncates on integers, Spark DIV truncates — all
      // operands positive, so they agree by construction).
      oracle = Some(
        """WITH words AS (
          |  SELECT DISTINCT doc_id AS id,
          |         unnest(regexp_split_to_array(trim(text), '\s+')) AS w
          |  FROM documents WHERE doc_id % 10 = 0),
          |sizes AS (SELECT id, count(*) AS sz FROM words GROUP BY 1),
          |ix AS (
          |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS cnt
          |  FROM words a JOIN words b ON a.w = b.w AND a.id < b.id
          |  GROUP BY 1, 2),
          |scored AS (
          |  SELECT id_a, id_b, CAST(cnt AS BIGINT) AS inter,
          |         CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
          |         CAST((cnt * 1000000) // sa.sz AS BIGINT) AS cont_a_in_b,
          |         CAST((cnt * 1000000) // sb.sz AS BIGINT) AS cont_b_in_a
          |  FROM ix
          |  JOIN sizes sa ON sa.id = id_a
          |  JOIN sizes sb ON sb.id = id_b)
          |SELECT * FROM scored
          |WHERE greatest(cont_a_in_b, cont_b_in_a) >= 800000""".stripMargin)),

    // ε-DP noisy counts per language (Laplace mechanism, sensitivity-1
    // count query): the noise is inverse-CDF over a keyed modular-hash
    // uniform, so the oracle replays the MECHANISM exactly — see
    // Privacy.dpNoisyCounts. One count shuffle; noise is per-group
    // scalar arithmetic.
    Q("q_ext_dp_counts", (s, dir) =>
      Privacy.dpNoisyCounts(
        Tables.documents(s, dir).select(col("lang")), "lang", eps = 0.5),
      // DP-counts replay: the deterministic Laplace draw is the
      // mechanism's inverse-CDF over the SAME modular-hash uniform.
      oracle = Some(
        """WITH c AS (
          |  SELECT lang, CAST(count(*) AS BIGINT) AS true_n
          |  FROM documents GROUP BY 1),
          |n AS (
          |  SELECT lang, true_n,
          |         ((ascii(lang) * 1009 + length(lang)) * 2654435761)
          |           % 1000003 AS r
          |  FROM c),
          |u AS (
          |  SELECT lang, true_n, (r + 0.5) / 1000003.0 - 0.5 AS uu FROM n),
          |z AS (
          |  SELECT lang, true_n,
          |         (-1.0 / 0.5) * sign(uu) * ln(1 - 2 * abs(uu)) AS noise
          |  FROM u)
          |SELECT lang, true_n,
          |       CAST(round(CAST(true_n + noise AS DECIMAL(28,15)), 6)
          |            AS DOUBLE) + 0.0 AS noisy_n,
          |       CAST(abs(noise) <= ln(1000003.0) / 0.5 + 1e-9 AS INT)
          |         AS noise_bound_ok
          |FROM z""".stripMargin)),

    // Tokenizer-fertility profile per language: BPE-ish pieces per
    // whitespace word and chars per piece — the metric that decides
    // how many training tokens a corpus slice actually buys (fertility
    // near 1 = cheap latin text; high = scripts the tokenizer
    // fragments). Ratios emitted in integer micro-units via
    // floor-division with the ×1e6 pre-multiply routed through
    // DECIMAL(38,0): a 100 TB corpus has sum(chars) ≈ 1e14 and
    // 1e14 × 1e6 = 1e20 > 2^63 — under the ANSI default that BIGINT
    // multiply THROWS at the worst moment (a full-corpus job dying at
    // the last aggregate), under non-ANSI it wraps silently
    // (FertilityOverflowSpec pins the failure) — decimal keeps the
    // intermediate exact and the quotient (≈ chars/tokens × 1e6,
    // always small) lands back in BIGINT. Oracle mirrors via HUGEINT.
    // Still one partial-agg shuffle; fp-free end to end.
    Q("q_ext_token_fertility", (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("docs"),
          sum(length(col("text")).cast("long")).as("chars"),
          sum(TextStats.tokenCount(col("text")).cast("long")).as("ws_tokens"),
          sum(TextStats.bpeTokenCount(col("text")).cast("long")).as("bpe_tokens"))
        .select(col("lang"), col("docs"), col("chars"),
          col("ws_tokens"), col("bpe_tokens"),
          expr("CAST((CAST(bpe_tokens AS DECIMAL(38,0)) * 1000000)" +
            " DIV ws_tokens AS BIGINT)").as("fertility_micro"),
          expr("CAST((CAST(chars AS DECIMAL(38,0)) * 1000000)" +
            " DIV bpe_tokens AS BIGINT)").as("chars_per_token_micro")),
      // Fertility replay: the bpe regex is the q_ext_bpe_tokens spelling;
      // sums pinned to BIGINT (DuckDB sums BIGINT into HUGEINT), ratios
      // as micro-unit integer floor-division.
      oracle = Some(
        """WITH t AS (
          |  SELECT lang,
          |    len(regexp_split_to_array(trim(text), '\s+')) AS ws,
          |    len(regexp_extract_all(text,
          |      '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s'']+|\s'))
          |      AS bpe,
          |    length(text) AS ch
          |  FROM documents),
          |g AS (
          |  SELECT lang, CAST(count(*) AS BIGINT) AS docs,
          |         CAST(sum(ch) AS BIGINT) AS chars,
          |         CAST(sum(ws) AS BIGINT) AS ws_tokens,
          |         CAST(sum(bpe) AS BIGINT) AS bpe_tokens
          |  FROM t GROUP BY 1)
          |SELECT lang, docs, chars, ws_tokens, bpe_tokens,
          |       CAST((CAST(bpe_tokens AS HUGEINT) * 1000000) // ws_tokens
          |         AS BIGINT) AS fertility_micro,
          |       CAST((CAST(chars AS HUGEINT) * 1000000) // bpe_tokens
          |         AS BIGINT) AS chars_per_token_micro
          |FROM g""".stripMargin)),

    // Neyman-optimal stratified sample allocation (variance-minimizing
    // n_h ∝ N_h·S_h): the eval-set construction step after splits —
    // S_h from exact integer moments so the sqrt is bit-identical
    // across engines (see Sampling.neymanAllocation).
    Q("q_ext_neyman_alloc", (s, dir) =>
      Sampling.neymanAllocation(
        Tables.documents(s, dir), "lang", "n_chars", n = 500L),
      // Neyman replay: exact integer moments, IEEE-identical sqrt, the
      // same multiply-then-divide allocation spelling.
      oracle = Some(
        """WITH m AS (
          |  SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
          |         CAST(sum(n_chars) AS BIGINT) AS sx,
          |         CAST(sum(n_chars * n_chars) AS BIGINT) AS sx2
          |  FROM documents GROUP BY 1),
          |sdt AS (
          |  SELECT lang, n_rows,
          |         sqrt(CAST(n_rows * sx2 - sx * sx AS DOUBLE)
          |              / (CAST(n_rows AS DOUBLE) * n_rows)) AS sd
          |  FROM m),
          |w AS (SELECT lang, n_rows, sd,
          |             CAST(n_rows AS DOUBLE) * sd AS w_num FROM sdt),
          |t AS (SELECT CAST(sum(CAST(w_num AS DECIMAL(38,6))) AS DOUBLE)
          |        AS w_total FROM w)
          |SELECT lang, n_rows, round(sd, 6) + 0.0 AS stddev,
          |       CAST(floor(500.0 * w_num / w_total) AS BIGINT) AS alloc
          |FROM w, t""".stripMargin)),

    // Per-source duplicate-rate report — the curation dashboard row
    // that decides which crawl sources need aggressive dedup. Distinct
    // is folded through the FULL 128-bit md5 content fingerprint
    // (~32 bytes/row) so the shuffle never carries raw documents as
    // distinct keys — same shuffle win as a truncated hash, but the
    // collision bound is 2^-128-scale, so the "exact" rate stays exact
    // in practice (a 64-bit truncation would silently turn the metric
    // probabilistic at corpus scale); BIGINT micro-unit rate; one
    // Expand-rewritten grouped aggregate.
    Q("q_ext_dup_rate_by_source", (s, dir) =>
      Tables.documents(s, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_distinct"))
        .select(col("source"), col("n_docs"), col("n_distinct"),
          expr("((n_docs - n_distinct) * 1000000L) DIV n_docs")
            .as("dup_rate_micro")),
      oracle = Some(
        """SELECT source, count(*) AS n_docs,
          |       count(DISTINCT md5(text)) AS n_distinct,
          |       ((count(*) - count(DISTINCT md5(text)))
          |         * 1000000) // count(*) AS dup_rate_micro
          |FROM documents GROUP BY 1""".stripMargin)),

    // Curriculum phase assignment: exact difficulty-quantile buckets
    // (BPE token count as difficulty) WITHOUT a global ntile window —
    // boundaries are order statistics off the chunked PrefixSum scan,
    // phases are row-local against the broadcast thresholds. Ties land
    // in the lower phase (a pure function of the value, oracle-stable).
    Q("q_ext_curriculum", (s, dir) =>
      Curriculum.phases(Tables.documents(s, dir), "doc_id",
        TextStats.bpeTokenCount(col("text")), nPhases = 4)
        .withColumnRenamed("id", "doc_id"),
      // Curriculum replay: the same ceil-rank boundary rule over the
      // same BPE-token difficulty; DuckDB's row_number over a full sort
      // is the single-node stand-in for the engine's PrefixSum scan.
      oracle = Some(
        """WITH base AS (
          |  SELECT doc_id,
          |    CAST(len(regexp_extract_all(text,
          |      '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s'']+|\s'))
          |      AS BIGINT) AS d
          |  FROM documents),
          |nn AS (SELECT count(*) AS n FROM base),
          |tg AS (SELECT k, (k * nn.n + 3) // 4 AS t
          |       FROM range(1, 4) r(k), nn),
          |srt AS (SELECT d, row_number() OVER (ORDER BY d) AS rn FROM base),
          |thr AS (SELECT tg.k, min(srt.d) AS td
          |        FROM srt JOIN tg ON srt.rn = tg.t GROUP BY 1)
          |SELECT b.doc_id, b.d AS difficulty,
          |       CAST(1 + sum(CASE WHEN b.d > thr.td THEN 1 ELSE 0 END)
          |            AS BIGINT) AS phase
          |FROM base b, thr GROUP BY 1, 2""".stripMargin)),

    // DoReMi-shaped multiplicative-weights mixture reweighting over the
    // fixed source domain: 3 linear-form MW rounds on the per-source
    // mean-chars statistic — the update machinery a pipeline swaps its
    // proxy-loss signal into. One partial-agg shuffle; the rounds are a
    // one-row expression chain in literal index order (Mixture doc).
    Q("q_ext_mix_mw", (s, dir) =>
      Mixture.multiplicativeWeights(
        Tables.documents(s, dir), "source", col("n_chars")),
      // MW-mixture replay: generated beside the operator (Mixture
      // .oracleSql) so constants and the index-ordered update chain can
      // never drift from the engine spelling.
      oracle = Some(Mixture.oracleSql("n_chars"))),

    // Embedding-space outliers vs the pinned coarse quantizer: sparse
    // cells + far-from-own-centroid vectors — the embedding-hygiene
    // filter ahead of ANN index builds (garbage vectors pool in
    // isolated cells and poison cell statistics). Same KeyShift-pinned
    // centroid sample as the IVF family.
    Q("q_ext_embed_outliers", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val base = col("id") < graft.io.ScaleReplicate.KeyShift
      Similarity.embedOutliers(emb, "id", "vec",
        centroids = emb.filter(col("id") % 50 === 7 && base),
        minCell = 8L, simFloor = 0.35)
    },
      // Outlier replay: row_number assignment == the engine's
      // min(-sim, cent_id) argmin; flags and the count-by-cell are exact
      // integers; + 0.0 normalizes any signed zero in the rounded cosine.
      oracle = Some(
        """WITH cent AS (
          |  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
          |  FROM embeddings WHERE vec_id % 50 = 7 AND vec_id < 1000000000),
          |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |      FROM embeddings),
          |ranked AS (
          |  SELECT vec_id, cent_id AS cell,
          |         round(list_cosine_similarity(v, cvec), 4) AS sim,
          |         row_number() OVER (PARTITION BY vec_id
          |           ORDER BY round(list_cosine_similarity(v, cvec), 4) DESC,
          |                    cent_id) AS r
          |  FROM v, cent),
          |asg AS (SELECT vec_id, cell, sim + 0.0 AS cos_to_centroid
          |        FROM ranked WHERE r = 1),
          |cc AS (SELECT cell, CAST(count(*) AS BIGINT) AS cell_n
          |       FROM asg GROUP BY 1)
          |SELECT vec_id, asg.cell, cos_to_centroid, cell_n,
          |       CAST(cell_n < 8 AS INT) AS sparse_cell,
          |       CAST(cos_to_centroid < 0.35 AS INT) AS far_from_centroid
          |FROM asg JOIN cc ON asg.cell = cc.cell
          |WHERE cell_n < 8 OR cos_to_centroid < 0.35""".stripMargin)),

    // Kneser-Ney-smoothed bigram scoring (Chen & Goodman 1999) — the
    // smoothing production LM quality filters actually use; the
    // interpolated add-one spelling above is the baseline it beats.
    // Same train/score split as q_ext_bigram_lm.
    Q("q_ext_bigram_kn", (s, dir) => {
      val docs = Tables.documents(s, dir)
      LangModel.scoreBigramKneserNey(
          docs, "doc_id", "text",
          docs.filter(col("doc_id") % 10 =!= 0), discount = 0.75)
        .withColumnRenamed("id", "doc_id")
    },
      // KN replay: identical count tables and the SAME operation order
      // in the probability expression (discount 0.75 is exactly binary-
      // representable; every ratio is an integer-count ratio in double).
      oracle = Some(
        """WITH tr AS (
          |  SELECT regexp_split_to_array(trim(text), '\s+') AS t
          |  FROM documents WHERE doc_id % 10 <> 0),
          |bc AS (SELECT gram, count(*) AS c12,
          |              split_part(gram, ' ', 1) AS w1,
          |              split_part(gram, ' ', 2) AS w2
          |       FROM (
          |         SELECT unnest(list_transform(range(1, len(t)),
          |                i -> t[i] || ' ' || t[i+1])) AS gram
          |         FROM tr WHERE len(t) >= 2) GROUP BY 1),
          |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
          |               CAST(count(*) AS BIGINT) AS n_follow
          |        FROM bc GROUP BY 1),
          |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_prec
          |         FROM bc GROUP BY 1),
          |ty AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM bc),
          |dt AS (SELECT doc_id,
          |         unnest(list_transform(range(1, len(t)),
          |                i -> t[i] || ' ' || t[i+1])) AS gram
          |       FROM (SELECT doc_id,
          |               regexp_split_to_array(trim(text), '\s+') AS t
          |             FROM documents)
          |       WHERE len(t) >= 2),
          |j AS (
          |  SELECT doc_id,
          |    CASE WHEN ctx.c1 IS NULL OR cont.n_prec IS NULL THEN 1
          |         ELSE 0 END AS skipped,
          |    CASE WHEN ctx.c1 IS NULL OR cont.n_prec IS NULL THEN NULL
          |         ELSE round(ln(
          |           greatest(CAST(coalesce(bc.c12, 0) AS DOUBLE) - 0.75, 0.0)
          |             / ctx.c1
          |           + ((0.75 * ctx.n_follow) / ctx.c1)
          |             * (CAST(cont.n_prec AS DOUBLE) / ty.n_types)), 8)
          |    END AS lp
          |  FROM dt
          |  LEFT JOIN bc ON dt.gram = bc.gram
          |  LEFT JOIN ctx ON ctx.w1 = split_part(dt.gram, ' ', 1)
          |  LEFT JOIN cont ON cont.w2 = split_part(dt.gram, ' ', 2), ty)
          |SELECT doc_id, count(*) AS n_bigrams,
          |  CAST(sum(skipped) AS BIGINT) AS n_skipped,
          |  round(CAST(sum(CAST(lp AS DECIMAL(28,10))) AS DOUBLE)
          |    / nullif(count(*) - CAST(sum(skipped) AS BIGINT), 0), 6)
          |    AS avg_kn_logprob
          |FROM j GROUP BY 1""".stripMargin)),

    // Keyed pseudonymization + its audit row: salted md5 surrogate for
    // user_id, injectivity CHECKED (not assumed) and the per-entity
    // group structure compared exactly — the governance step between
    // raw logs and anything shared downstream. BIGINT-only output.
    Q("q_ext_pseudonymize", (s, dir) =>
      Privacy.pseudonymizeAudit(
        Tables.events(s, dir).select(col("user_id")), "user_id", salt = "s7"),
      oracle = Some(
        """WITH p AS (
          |  SELECT user_id,
          |         substring(md5('s7' || CAST(user_id AS VARCHAR)), 1, 16)
          |           AS pid
          |  FROM events),
          |ga AS (SELECT user_id, count(*) AS n FROM p GROUP BY 1),
          |gb AS (SELECT pid, count(*) AS n FROM p GROUP BY 1),
          |sa AS (SELECT count(*) AS groups, CAST(sum(n) AS BIGINT) AS rws,
          |              sum(CAST(n AS DECIMAL(19,0)) * n) AS sq FROM ga),
          |sb AS (SELECT count(*) AS groups, CAST(sum(n) AS BIGINT) AS rws,
          |              sum(CAST(n AS DECIMAL(19,0)) * n) AS sq FROM gb)
          |SELECT sa.rws AS n_rows, sa.groups AS n_ids,
          |       sb.groups AS n_surrogates,
          |       CAST(CASE WHEN sa.groups = sb.groups AND sa.rws = sb.rws
          |                  AND sa.sq = sb.sq THEN 1 ELSE 0 END AS BIGINT)
          |         AS structure_intact
          |FROM sa, sb""".stripMargin)),

    // Embedding covariance matrix — the distributed half of PCA: one
    // double-posexplode pass + (i,j)-keyed single-pass covar_pop
    // partial aggregate; shuffle carries dim^2 groups, never vectors.
    Q("q_ext_covariance", (s, dir) =>
      Pca.covarianceMatrix(Tables.embeddings(s, dir), "embedding"),
      oracle = Some(
        """WITH e AS (
          |  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |a AS (
          |  SELECT unnest(v) AS vi, unnest(range(len(v))) AS i, v FROM e),
          |b AS (
          |  SELECT i, vi, unnest(v) AS vj, unnest(range(len(v))) AS j FROM a),
          |f AS (SELECT i, j,
          |        CASE WHEN vi*vj >= 0 THEN CAST(floor(vi*vj*1e15 + 0.5) AS BIGINT)
          |             ELSE CAST(-floor(-(vi*vj*1e15) + 0.5) AS BIGINT) END AS pij,
          |        CASE WHEN vi >= 0 THEN CAST(floor(vi*1e15 + 0.5) AS BIGINT)
          |             ELSE CAST(-floor(-(vi*1e15) + 0.5) AS BIGINT) END AS pi_,
          |        CASE WHEN vj >= 0 THEN CAST(floor(vj*1e15 + 0.5) AS BIGINT)
          |             ELSE CAST(-floor(-(vj*1e15) + 0.5) AS BIGINT) END AS pj_
          |      FROM b),
          |g AS (SELECT i, j, pij, pi_, pj_,
          |        CASE WHEN pij >= 0 THEN pij // 16777216
          |             ELSE -((-pij + 16777215) // 16777216) END AS hij,
          |        CASE WHEN pi_ >= 0 THEN pi_ // 16777216
          |             ELSE -((-pi_ + 16777215) // 16777216) END AS hi_,
          |        CASE WHEN pj_ >= 0 THEN pj_ // 16777216
          |             ELSE -((-pj_ + 16777215) // 16777216) END AS hj_
          |      FROM f)
          |SELECT i, j,
          |  round((CAST(sum(hij) AS DOUBLE)*16777216.0
          |         + CAST(sum(pij - hij * 16777216) AS DOUBLE))/1e15/count(*)
          |    - ((CAST(sum(hi_) AS DOUBLE)*16777216.0
          |         + CAST(sum(pi_ - hi_ * 16777216) AS DOUBLE))/1e15/count(*))
          |    * ((CAST(sum(hj_) AS DOUBLE)*16777216.0
          |         + CAST(sum(pj_ - hj_ * 16777216) AS DOUBLE))/1e15/count(*)),
          |    6) + 0.0 AS cov
          |FROM g GROUP BY 1, 2""".stripMargin)),

    // Driver-environment canary: one row computing every construct the
    // oracle contract leans on, so a driver-vs-local divergence (a
    // different DuckDB version's shift semantics, a hasher that renders
    // DECIMAL/BOOLEAN cells unlike value equality) localizes itself in
    // THIS ledger row instead of smearing across the fleet as mystery
    // hash-reds (the r4/r6 q_ext_covariance hunt).
    //  - shr_neg vs floordiv_neg: arithmetic >> on a negative BIGINT vs
    //    the explicit positive-operand floor-div spelling (both -2);
    //  - dec38 / dec38_sum: DECIMAL(38,0) literal + aggregate rendering;
    //  - flag_t / flag_f: BOOLEAN rendering;
    //  - neg_zero_norm: the signed-zero normalization idiom — raw -0.0
    //    is banned fleet-wide (tools/check_oracle.py FAILs any emitter);
    //    `round(-1e-7, 6) + 0.0` must be +0.0 in BOTH engines.
    Q("q_ext_oracle_canary", (s, dir) => {
      val decSum = s.range(3)
        .agg(sum(col("id").cast("decimal(38,0)")).as("dec38_sum"))
      s.range(1).select(
          shiftright(lit(-16777217L), 24).as("shr_neg"),
          floor(lit(-16777217.0) / lit(16777216.0)).cast("long")
            .as("floordiv_neg"),
          lit(new java.math.BigDecimal(
            "12345678901234567890123456789012345678")).as("dec38"),
          lit(true).as("flag_t"),
          lit(false).as("flag_f"),
          (round(lit(-0.0000001), 6) + lit(0.0)).as("neg_zero_norm"))
        .crossJoin(broadcast(decSum))
    },
      oracle = Some(
        """SELECT CAST(CAST(-16777217 AS BIGINT) >> 24 AS BIGINT) AS shr_neg,
          |       CAST(-((16777217 + 16777215) // 16777216) AS BIGINT)
          |         AS floordiv_neg,
          |       CAST('12345678901234567890123456789012345678'
          |            AS DECIMAL(38,0)) AS dec38,
          |       (SELECT CAST(sum(CAST(i AS DECIMAL(38,0))) AS DECIMAL(38,0))
          |        FROM range(3) t(i)) AS dec38_sum,
          |       TRUE AS flag_t,
          |       FALSE AS flag_f,
          |       round(CAST(-0.0000001 AS DOUBLE), 6) + 0.0
          |         AS neg_zero_norm""".stripMargin)),

    // The eigensolve + projection CONTRACT, driver-gated as booleans
    // (eigenvectors are driver-side math; their defining properties
    // are checked, and the projected-variance check runs DISTRIBUTED
    // over the corpus: var_pop(X·q_c) must equal lambda_c).
    Q("q_ext_pca_contract", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val k = 4
      val m = Pca.collectMatrix(Pca.covarianceMatrix(emb, "embedding", scale = 9))
      val comps = Pca.topComponents(m, k)
      def dot(a: Array[Double], b: Array[Double]) =
        a.zip(b).map(t => t._1 * t._2).sum
      val vecs = comps.map(_._2)
      val ortho = (for { x <- 0 until k; y <- 0 until k if x < y }
        yield math.abs(dot(vecs(x), vecs(y)))).forall(_ <= 1e-9) &&
        vecs.forall(v => math.abs(dot(v, v) - 1.0) <= 1e-9)
      val eps = 1e-6 * math.max(comps.head._1, 1e-12)
      val sorted = comps.map(_._1).sliding(2).forall {
        case Seq(a, b) => a >= b - eps
        case _ => true
      } && comps.forall(_._1 >= -eps)
      val resid = comps.forall { case (l, q) =>
        val mq = m.map(row => dot(row, q))
        math.sqrt(mq.zip(q).map { case (a, b) => val d = a - l * b; d * d }.sum) <=
          5e-2 * math.max(comps.head._1, 1e-12)
      }
      val varRow = Pca.project(emb, "embedding", vecs, scale = 9)
        .select((0 until k).map(c =>
          var_pop(element_at(col("projected"), c + 1)).as(s"v$c")): _*)
        .head()
      val varOk = (0 until k).forall(c =>
        math.abs(varRow.getDouble(c) - comps(c)._1) <=
          1e-3 * math.max(comps.head._1, 1e-12))
      // 0/1 BIGINT per the round-7 safe-alphabet law (raw BOOLEANs are
      // hash-render hazards at the driver's compare)
      s.range(1).select(
        lit(if (ortho) 1L else 0L).as("orthonormal"),
        lit(if (sorted) 1L else 0L).as("eigvals_sorted"),
        lit(if (resid) 1L else 0L).as("eigen_residual_ok"),
        lit(if (varOk) 1L else 0L).as("projected_variance_ok"))
    },
      oracle = Some(
        """SELECT CAST(1 AS BIGINT) AS orthonormal,
          |       CAST(1 AS BIGINT) AS eigvals_sorted,
          |       CAST(1 AS BIGINT) AS eigen_residual_ok,
          |       CAST(1 AS BIGINT) AS projected_variance_ok""".stripMargin)),

    // Repeated-substring spans (Lee et al.-style exact-substring dedup,
    // rolling-gram form): positions whose 8-token gram repeats anywhere
    // in the corpus, merged to per-doc token spans. The oracle marks
    // positions by the gram STRINGS (not the engine's xxhash64), so a
    // hash-side defect cannot self-confirm.
    Q("q_ext_repeated_spans", (s, dir) =>
      Dedup.repeatedSubstringSpans(Tables.documents(s, dir), "doc_id", "text", n = 8)
        .select(col("doc_id"),
          col("start_tok").cast("long").as("start_tok"),
          col("end_tok").cast("long").as("end_tok")),
      oracle = Some(
        """WITH toks AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
          |  FROM documents),
          |p AS (
          |  SELECT doc_id, unnest(range(1, len(ts) - 8 + 2)) AS pos, ts
          |  FROM toks WHERE len(ts) >= 8),
          |g AS (
          |  SELECT doc_id, pos, array_to_string(ts[pos:pos+7], ' ') AS gram FROM p),
          |rep AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
          |m AS (SELECT g.doc_id, g.pos FROM g JOIN rep USING (gram)),
          |s AS (
          |  SELECT doc_id, pos,
          |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
          |              THEN 1 ELSE 0 END AS brk
          |  FROM m),
          |sid AS (
          |  SELECT doc_id, pos,
          |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          |  FROM s)
          |SELECT doc_id, min(pos) AS start_tok, max(pos) + 7 AS end_tok
          |FROM sid GROUP BY doc_id, sid""".stripMargin)),

    // Model-based quality filter (the learned-classifier plan shape):
    // hashed token features -> broadcast weight table -> one per-doc
    // partial agg -> sigmoid + threshold. Pinned weights keep it
    // oracle-checkable; a trained model swaps table contents only.
    Q("q_ext_quality_model", (s, dir) =>
      QualityModel.hashedLinearScore(
        Tables.documents(s, dir), "doc_id", "text", dim = 256, salt = "qm"),
      oracle = Some({
        val w = QualityModel.weightSql("bucket")
        s"""WITH toks AS (
           |  SELECT doc_id,
           |         unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
           |  FROM documents),
           |b AS (
           |  SELECT doc_id,
           |         ((strpos('0123456789abcdef', substring(md5('qm' || t), 1, 1)) - 1) * 16
           |          + strpos('0123456789abcdef', substring(md5('qm' || t), 2, 1)) - 1)
           |           % 256 AS bucket
           |  FROM toks),
           |z AS (SELECT doc_id, avg($w) AS z FROM b GROUP BY 1)
           |SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS score,
           |       CAST(round(1.0 / (1.0 + exp(-z)), 6) >= 0.5 AS BIGINT) AS keep
           |FROM z""".stripMargin
      })),

    // Web provenance: deterministic per-doc URLs (planted like
    // q_ext_redact_pii's PII) -> extraction, host, registrable domain —
    // all regex/string expressions the oracle runs verbatim.
    Q("q_ext_url_parse", (s, dir) => {
      val url = concat(lit("https://cdn"), pmod(col("doc_id"), lit(5)),
        lit("."), col("source"), lit(".example."),
        when(pmod(col("doc_id"), lit(3)) === 0, "net").otherwise("org"),
        lit("/p/"), col("doc_id"))
      val planted = concat(col("text"), lit(" see "), url, lit(" for more"))
      val first = try_element_at(Web.extractUrls(planted), lit(1))
      Tables.documents(s, dir).select(
        col("doc_id"),
        first.as("url"),
        Web.urlHost(first).as("host"),
        Web.registrableDomain(Web.urlHost(first)).as("domain"))
    },
      oracle = Some(
        """WITH u AS (
          |  SELECT doc_id,
          |         text || ' see https://cdn' || CAST(doc_id % 5 AS VARCHAR) || '.' ||
          |         source || '.example.' ||
          |         CASE WHEN doc_id % 3 = 0 THEN 'net' ELSE 'org' END ||
          |         '/p/' || CAST(doc_id AS VARCHAR) || ' for more' AS planted
          |  FROM documents),
          |e AS (
          |  SELECT doc_id,
          |         regexp_extract_all(planted, 'https?://[^\s]+')[1] AS url
          |  FROM u),
          |h AS (
          |  SELECT doc_id, url,
          |         regexp_extract(url, '^https?://([^/:?#]+)', 1) AS host
          |  FROM e),
          |p AS (SELECT doc_id, url, host, string_split(host, '.') AS parts FROM h)
          |SELECT doc_id, url, host,
          |       CASE WHEN len(parts) <= 2 THEN host
          |            ELSE parts[-2] || '.' || parts[-1] END AS domain
          |FROM p""".stripMargin)),

    // Domain blocklist filter + per-domain accounting over the parsed
    // provenance: broadcast anti-join, then one partial-agg shuffle.
    Q("q_ext_domain_stats", (s, dir) => {
      val sp = s
      import sp.implicits._
      val host = concat(lit("cdn"), pmod(col("doc_id"), lit(5)),
        lit("."), col("source"), lit(".example."),
        when(pmod(col("doc_id"), lit(3)) === 0, "net").otherwise("org"))
      val docs = Tables.documents(s, dir).select(
        col("doc_id"), col("n_chars"),
        Web.registrableDomain(host).as("domain"))
      val blocked = Seq("example.net").toDF("domain")
      Web.domainStats(Web.filterBlockedDomains(docs, "domain", blocked),
          "domain", "n_chars")
        .select(col("domain"), col("n_docs"), col("sum_chars"))
    },
      oracle = Some(
        """WITH d AS (
          |  SELECT doc_id, n_chars,
          |         'example.' || CASE WHEN doc_id % 3 = 0 THEN 'net' ELSE 'org' END
          |           AS domain
          |  FROM documents)
          |SELECT domain, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM d WHERE domain <> 'example.net'
          |GROUP BY 1""".stripMargin)),

    // Canonical text normalization + its fingerprint: the tier-1 dedup
    // key (case/punctuation/spacing-invariant). The oracle spells the
    // same pipeline in DuckDB regexes ('g' flag = Spark's replace-all).
    Q("q_ext_normalize", (s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextStats.normalizeForDedup(col("text")).as("norm"),
        TextStats.fingerprintMd5(TextStats.normalizeForDedup(col("text"))).as("norm_fp"))
    },
      oracle = Some(
        """WITH n AS (
          |  SELECT doc_id,
          |         lower(trim(regexp_replace(
          |           regexp_replace(text, '[^\p{L}\p{N}\s]', ' ', 'g'),
          |           '\s+', ' ', 'g'))) AS norm
          |  FROM documents)
          |SELECT doc_id, norm, substring(md5(norm), 1, 16) AS norm_fp FROM n""".stripMargin)),

    // Per-label embedding centroids (class prototypes), long format —
    // one partially-aggregated shuffle on (label, dim).
    Q("q_ext_centroids", (s, dir) => {
      Similarity.groupCentroids(Tables.embeddings(s, dir), "label", "embedding")
        .withColumnRenamed("key", "label")
    },
      oracle = Some(
        """WITH e AS (
          |  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
          |         unnest(range(len(embedding))) AS dim
          |  FROM embeddings)
          |SELECT label, dim, round(avg(v), 6) AS centroid
          |FROM e GROUP BY 1, 2""".stripMargin)),

    // Cosine similarity between label centroids: the label-confusion /
    // domain-drift probe. Assembled through the native vec_cosine
    // expression; DuckDB recomputes via list_cosine_similarity.
    Q("q_ext_centroid_sim", (s, dir) => {
      Similarity.centroidSimilarity(Tables.embeddings(s, dir), "label", "embedding")
        .select(col("key_a").as("label_a"), col("key_b").as("label_b"), col("sim"))
    },
      oracle = Some(
        """WITH e AS (
          |  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
          |         unnest(range(len(embedding))) AS dim
          |  FROM embeddings),
          |cent AS (SELECT label, dim, round(avg(v), 6) AS c FROM e GROUP BY 1, 2),
          |vecs AS (SELECT label, list(c ORDER BY dim) AS v FROM cent GROUP BY 1)
          |SELECT a.label AS label_a, b.label AS label_b,
          |       round(list_cosine_similarity(a.v, b.v), 6) AS sim
          |FROM vecs a JOIN vecs b ON a.label < b.label""".stripMargin)),

    // Per-document TF-IDF top terms: the keyword-extraction primitive.
    // Ranking runs through the TopKPerKey rewrite (row_number <= k).
    Q("q_ext_tfidf", (s, dir) => {
      TextStats.tfIdfTopTerms(Tables.documents(s, dir), "doc_id", "text", 3)
        .withColumnRenamed("id", "doc_id")
    },
      oracle = Some(
        """WITH terms AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
          |  FROM documents),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
          |dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
          |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
          |scored AS (
          |  SELECT doc_id, term, tf,
          |         round(tf * ln(n_docs * 1.0 / df_t), 6) AS tf_idf
          |  FROM tf JOIN dfreq USING (term), n),
          |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
          |        ORDER BY tf_idf DESC, term) AS rank FROM scored)
          |SELECT doc_id, term, tf, tf_idf, CAST(rank AS BIGINT) AS rank
          |FROM r WHERE rank <= 3""".stripMargin)),

    // BM25 top-k retrieval against a fixed keyword query set: corpus
    // text never shuffles (postings are broadcast-semi-joined to the
    // query vocabulary at the scan), ranking through TopKPerKey. The
    // oracle replays the identical Lucene-variant scoring in SQL.
    Q("q_ext_bm25", (s, dir) => {
      import s.implicits._
      val queries = Seq(
        "q1" -> "spark", "q1" -> "join", "q1" -> "window",
        "q2" -> "customer", "q2" -> "order", "q2" -> "value",
        "q3" -> "fast", "q3" -> "slow", "q3" -> "filter", "q3" -> "scan")
        .toDF("query_id", "term")
      Search.bm25TopK(Tables.documents(s, dir), "doc_id", "text", queries, 10)
    },
      oracle = Some(
        """WITH docs AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
          |  FROM documents),
          |stats AS (
          |  SELECT count(*) * 1.0 AS n_docs, avg(len(words) * 1.0) AS avgdl
          |  FROM docs),
          |qt AS (SELECT * FROM (VALUES
          |  ('q1', 'spark'), ('q1', 'join'), ('q1', 'window'),
          |  ('q2', 'customer'), ('q2', 'order'), ('q2', 'value'),
          |  ('q3', 'fast'), ('q3', 'slow'), ('q3', 'filter'), ('q3', 'scan'))
          |  AS t(query_id, term)),
          |postings AS (
          |  SELECT doc_id, len(words) * 1.0 AS dl, unnest(words) AS term
          |  FROM docs),
          |tf AS (
          |  SELECT doc_id, term, dl, count(*) AS tf FROM postings
          |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2, 3),
          |dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
          |contrib AS (
          |  SELECT t.doc_id, t.term,
          |         round(ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
          |               * (t.tf * (1.2 + 1.0))
          |               / (t.tf + 1.2 * (0.25 + (t.dl / avgdl) * 0.75)),
          |               7) AS c
          |  FROM tf t JOIN dfreq USING (term), stats),
          |scores AS (
          |  SELECT q.query_id, c.doc_id, round(sum(c.c), 4) AS score
          |  FROM contrib c JOIN qt q USING (term) GROUP BY 1, 2),
          |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
          |        ORDER BY score DESC, doc_id) AS rank FROM scores)
          |SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank, score
          |FROM r WHERE rank <= 10""".stripMargin)),

    // Corpus-level top n-grams: global frequency ranking, planned as
    // TakeOrderedAndProject (bounded top-k, no full sort shuffle).
    Q("q_ext_top_ngrams", (s, dir) => {
      Tables.documents(s, dir)
        .select(explode(TextStats.ngramArray(col("text"), 2)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram")).limit(20)
    },
      oracle = Some(
        """WITH toks AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
          |  FROM documents),
          |grams AS (
          |  SELECT t[i] || ' ' || t[i+1] AS gram
          |  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks))
          |SELECT gram, count(*) AS n FROM grams GROUP BY 1
          |ORDER BY n DESC, gram LIMIT 20""".stripMargin)),

    // The full near-dup pipeline end-to-end: detect pairs, resolve
    // clusters, keep one canonical doc per cluster. The oracle removes
    // exactly the non-min members of the recursive-CTE closure.
    Q("q_ext_dedup_keep", (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
      val pairs = Dedup.wordJaccardPairs(docs, "doc_id", "text", 0.8)
      Dedup.keepCanonical(docs, "doc_id", pairs)
        .select(col("doc_id"), length(col("text")).cast("long").as("text_len"))
    },
      oracle = Some(
        """WITH RECURSIVE words AS (
          |  SELECT DISTINCT doc_id AS id,
          |         unnest(regexp_split_to_array(trim(text), '\s+')) AS w
          |  FROM documents WHERE doc_id % 10 = 0),
          |sizes AS (SELECT id, count(*) AS sz FROM words GROUP BY 1),
          |inter AS (
          |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS cnt
          |  FROM words a JOIN words b ON a.w = b.w AND a.id < b.id
          |  GROUP BY 1, 2),
          |pairs AS (
          |  SELECT id_a, id_b FROM inter
          |  JOIN sizes sa ON sa.id = id_a
          |  JOIN sizes sb ON sb.id = id_b
          |  WHERE cnt * 1.0 / (sa.sz + sb.sz - cnt) >= 0.8),
          |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          |          UNION SELECT id_b, id_a FROM pairs),
          |reach(node, r) AS (
          |  SELECT a, a FROM edges
          |  UNION
          |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a),
          |losers AS (SELECT node FROM reach GROUP BY node HAVING min(r) <> node)
          |SELECT doc_id, length(text) AS text_len
          |FROM documents
          |WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT node FROM losers)""".stripMargin)),

    // Quality-winner dedup: same clusters, but each keeps its LONGEST
    // member (ties → min id) instead of the min-id one — what a
    // production pipeline wants when a truncated copy and the full
    // document collide. Oracle: recursive-CTE closure + per-cluster
    // argmax.
    Q("q_ext_dedup_keep_best", (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
      val pairs = Dedup.wordJaccardPairs(docs, "doc_id", "text", 0.8)
      Dedup.keepBest(docs, "doc_id", pairs, col("n_chars"))
        .select(col("doc_id"), col("n_chars"))
    },
      oracle = Some(
        """WITH RECURSIVE words AS (
          |  SELECT DISTINCT doc_id AS id,
          |         unnest(regexp_split_to_array(trim(text), '\s+')) AS w
          |  FROM documents WHERE doc_id % 10 = 0),
          |sizes AS (SELECT id, count(*) AS sz FROM words GROUP BY 1),
          |inter AS (
          |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS cnt
          |  FROM words a JOIN words b ON a.w = b.w AND a.id < b.id
          |  GROUP BY 1, 2),
          |pairs AS (
          |  SELECT id_a, id_b FROM inter
          |  JOIN sizes sa ON sa.id = id_a
          |  JOIN sizes sb ON sb.id = id_b
          |  WHERE cnt * 1.0 / (sa.sz + sb.sz - cnt) >= 0.8),
          |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          |          UNION SELECT id_b, id_a FROM pairs),
          |reach(node, r) AS (
          |  SELECT a, a FROM edges
          |  UNION
          |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a),
          |memb AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
          |d AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 10 = 0),
          |ranked AS (
          |  SELECT d.doc_id, d.n_chars,
          |         row_number() OVER (PARTITION BY m.cluster
          |                            ORDER BY d.n_chars DESC, d.doc_id) AS rk
          |  FROM d JOIN memb m ON m.node = d.doc_id)
          |SELECT doc_id, n_chars FROM d
          |WHERE doc_id NOT IN (SELECT node FROM memb)
          |UNION ALL
          |SELECT doc_id, n_chars FROM ranked WHERE rk = 1""".stripMargin)),

    // CDC changelog apply: a base snapshot plus two upsert/delete
    // batches and an insert batch, latest change per key winning —
    // incremental corpus maintenance instead of full recompute. The
    // oracle replays the same changelog with a window in DuckDB.
    Q("q_ext_cdc_apply", (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val base = docs.filter(col("doc_id") < 450)
      val b1 = docs.filter(col("doc_id") % 5 === 0)
        .withColumn("n_chars", col("n_chars") + 1000)
        .withColumn("seq", lit(1L)).withColumn("op", lit("U"))
      val b2 = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("n_chars", col("n_chars") + 2000)
        .withColumn("seq", lit(2L))
        .withColumn("op", when(col("doc_id") % 20 === 0, "D").otherwise("U"))
      // seq 0: inserts land BEFORE both update batches so every key's
      // (seq) sequence is unique — a tie would make latest-wins
      // ill-defined (and engine-dependent, as the gate demonstrated).
      val ins = docs.filter(col("doc_id") >= 450)
        .withColumn("seq", lit(0L)).withColumn("op", lit("I"))
      graft.ops.Cdc.applyChangelog(
        base, b1.unionByName(b2).unionByName(ins), Seq("doc_id"), "seq", "op")
    },
      oracle = Some(
        """WITH base AS (
          |  SELECT doc_id, source, n_chars FROM documents WHERE doc_id < 450),
          |ch AS (
          |  SELECT doc_id, source, n_chars + 1000 AS n_chars, 1 AS seq, 'U' AS op
          |  FROM documents WHERE doc_id % 5 = 0
          |  UNION ALL
          |  SELECT doc_id, source, n_chars + 2000, 2,
          |         CASE WHEN doc_id % 20 = 0 THEN 'D' ELSE 'U' END
          |  FROM documents WHERE doc_id % 10 = 0
          |  UNION ALL
          |  SELECT doc_id, source, n_chars, 0, 'I'
          |  FROM documents WHERE doc_id >= 450),
          |latest AS (
          |  SELECT doc_id, source, n_chars, op FROM (
          |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
          |    FROM ch) WHERE rn = 1)
          |SELECT b.doc_id, b.source, b.n_chars FROM base b
          |WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.doc_id = b.doc_id)
          |UNION ALL
          |SELECT doc_id, source, n_chars FROM latest WHERE op <> 'D'""".stripMargin)),

    // Per-group z-score normalization (feature standardization before
    // training): group stats via one partially-aggregated pass,
    // broadcast back under the fact rows — no window, no second scan
    // shuffle of the data.
    Q("q_ext_zscore", (s, dir) => {
      val e = Tables.events(s, dir)
      val stats = e.groupBy(col("event_type"))
        .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sd"))
      e.join(broadcast(stats), "event_type")
        .select(col("event_id"), col("event_type"),
          round((col("value") - col("mu")) / col("sd"), 6).as("z"))
    },
      oracle = Some(
        """WITH s AS (
          |  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
          |  FROM events GROUP BY 1)
          |SELECT event_id, event_type, round((value - mu) / sd, 6) AS z
          |FROM events JOIN s USING (event_type)""".stripMargin)),

    // Trailing event-time RANGE frame: per-series mean over the
    // preceding 30 minutes of VALUE TIME (not row count) — the window
    // frame shape row-based frames can't express; keyed partitioning
    // keeps the sort per-series.
    Q("q_ext_range_window", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          graft.ops.TimeOps.epochSeconds(col("ts")).as("sec"), col("value"))
        .groupBy(col("event_type"), col("sec"))
        .agg(round(avg(col("value")), 6).as("v"))
      val w = Window.partitionBy("event_type").orderBy("sec")
        .rangeBetween(-1800L, Window.currentRow)
      // gate the SUFFICIENT STATISTICS (exact decimal windowed sum +
      // count), not the mean. Two float traps, both measured at sf0.1
      // by the round-6 SF sweep: (a) avg over a sliding range frame —
      // Spark maintains the frame by adding AND REMOVING rows (one
      // float subtraction per slide) while DuckDB recomputes, so long
      // windows diverge in the 6th dp; (b) even sum/count with an exact
      // decimal sum lands on .xxxxxx5 quotients, where Spark's
      // shortest-string HALF_UP and DuckDB's scaled-binary round
      // disagree. The decimal sum has neither problem; the mean is
      // sum/n for any consumer.
      e.select(col("event_type"), col("sec"),
        sum(col("v").cast("decimal(18,6)")).over(w).cast("double")
          .as("trail30m_sum"),
        count(lit(1)).over(w).cast("long").as("n_in_range"))
    },
      oracle = Some(
        """WITH s AS (
          |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
          |         round(avg(value), 6) AS v
          |  FROM events GROUP BY 1, 2)
          |SELECT event_type, sec,
          |       CAST(sum(CAST(v AS DECIMAL(18,6))) OVER (
          |           PARTITION BY event_type ORDER BY sec
          |           RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW) AS DOUBLE)
          |         AS trail30m_sum,
          |       count(*) OVER (PARTITION BY event_type ORDER BY sec
          |         RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW) AS n_in_range
          |FROM s""".stripMargin)),

    // Quality-decile binning per source (the stratified filter
    // threshold: "keep the top 30% of each source"): ntile over a
    // keyed window on a deterministic score.
    Q("q_ext_ntile", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy(col("n_chars"), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"),
          ntile(10).over(w).cast("long").as("decile"))
    },
      oracle = Some(
        """SELECT doc_id, source, n_chars,
          |       CAST(ntile(10) OVER (PARTITION BY source
          |         ORDER BY n_chars, doc_id) AS BIGINT) AS decile
          |FROM documents""".stripMargin)),

    // Per-source token-budget selection: documents admitted in
    // deterministic hash order until each source's running token total
    // crosses the budget — the corpus recipe when quotas are token
    // counts (one keyed running-sum window per source).
    Q("q_ext_token_budget", (s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("n_tok", size(split(trim(col("text")), "\\s+")).cast("long"))
      Sampling.takeTokenBudget(docs, "doc_id", "source", "n_tok", 1000L, "tb")
        .select(col("doc_id"), col("source"), col("n_tok"))
    },
      oracle = Some(
        """WITH s AS (
          |  SELECT doc_id, source,
          |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
          |         substring(md5('tb' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
          |  FROM documents),
          |c AS (
          |  SELECT doc_id, source, n_tok,
          |         sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id) AS cum
          |  FROM s)
          |SELECT doc_id, source, n_tok FROM c WHERE cum - n_tok < 1000""".stripMargin)),

    // Conversation assembly: events -> per-(user, session) transcripts,
    // 1-day session gaps (the fixture's event density makes that the
    // gap where real sessions form: ~1.2k sessions, a third of them
    // longer than the 8-turn cap), cut flagged. The oracle rebuilds
    // the identical transcripts with string_agg ORDER BY.
    Q("q_ext_conversations", (s, dir) => {
      Assembly.conversations(
        Tables.events(s, dir), "user_id",
        graft.ops.TimeOps.epochSeconds(col("ts")), col("event_id"),
        col("event_type"), gapSec = 86400L, maxTurns = 8)
    },
      oracle = Some(
        """WITH e AS (
          |  SELECT user_id, event_id,
          |         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
          |         event_type || '#' || CAST(event_id AS VARCHAR) AS turn
          |  FROM events),
          |marked AS (
          |  SELECT *, CASE WHEN sec - lag(sec) OVER
          |      (PARTITION BY user_id ORDER BY sec, event_id) > 86400
          |    THEN 1 ELSE 0 END AS ns
          |  FROM e),
          |numbered AS (
          |  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY sec, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          |  FROM marked),
          |ranked AS (
          |  SELECT *, row_number() OVER (PARTITION BY user_id, session_id
          |    ORDER BY sec, event_id) AS rk
          |  FROM numbered)
          |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
          |       count(*) AS n_turns,
          |       min(sec) AS start_sec, max(sec) AS end_sec,
          |       string_agg(CASE WHEN rk <= 8 THEN turn END,
          |                  ' ' ORDER BY rk) AS transcript,
          |       CAST(count(*) > 8 AS BIGINT) AS truncated
          |FROM ranked GROUP BY 1, 2""".stripMargin)),

    // Temperature-scaled mixing over the (skewed) language column:
    // alpha=0.5 boosts tail languages relative to proportional
    // sampling; the oracle replays quota math and hash ranking.
    Q("q_ext_mix_temperature", (s, dir) => {
      Sampling.mixTemperature(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "doc_id", "lang", alpha = 0.5, budget = 120L, salt = "mt")
    },
      oracle = Some(
        """WITH c AS (SELECT lang, count(*) * 1.0 AS c FROM documents GROUP BY 1),
          |w AS (SELECT lang, pow(c, 0.5) AS w FROM c),
          |s AS (SELECT sum(w) AS wsum FROM w),
          |q AS (
          |  SELECT lang,
          |         greatest(CAST(1 AS BIGINT),
          |                  CAST(floor(120.0 * w / wsum) AS BIGINT)) AS n_target
          |  FROM w, s),
          |r AS (
          |  SELECT d.doc_id, d.lang, q.n_target,
          |         row_number() OVER (PARTITION BY d.lang
          |           ORDER BY substring(md5('mt' || CAST(d.doc_id AS VARCHAR)), 1, 8),
          |                    d.doc_id) AS rk
          |  FROM documents d JOIN q USING (lang))
          |SELECT doc_id, lang, n_target FROM r WHERE rk <= n_target""".stripMargin)),

    // DSIR importance scoring: target distribution = sources src0-src3;
    // every doc scored by hashed-unigram log-likelihood ratio vs the
    // raw corpus. The oracle replays the identical smoothed ratio.
    Q("q_ext_dsir", (s, dir) => {
      Sampling.dsirScores(Tables.documents(s, dir), "doc_id", "text",
          col("source").isin("src0", "src1", "src2", "src3"))
        .withColumnRenamed("id", "doc_id")
    },
      oracle = Some(
        """WITH src AS (
          |  SELECT doc_id,
          |         (source IN ('src0', 'src1', 'src2', 'src3')) AS is_target,
          |         unnest(regexp_split_to_array(trim(text), '\s+')) AS term
          |  FROM documents),
          |toks AS (
          |  SELECT doc_id, is_target, substring(md5(term), 1, 3) AS bucket
          |  FROM src),
          |perdoc AS (
          |  SELECT doc_id, bucket, count(*) AS n_db FROM toks GROUP BY 1, 2),
          |stats AS (
          |  SELECT bucket, count(*) AS cr,
          |         sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct
          |  FROM toks GROUP BY 1),
          |tot AS (
          |  SELECT sum(cr) * 1.0 AS tot_r, sum(ct) * 1.0 AS tot_t FROM stats),
          |contrib AS (
          |  SELECT doc_id,
          |         round(n_db * ln(((ct + 1.0) * (tot_r + 4096.0))
          |                         / ((cr + 1.0) * (tot_t + 4096.0))), 7) AS c
          |  FROM perdoc JOIN stats USING (bucket), tot)
          |SELECT doc_id,
          |       CAST(round(sum(CAST(c AS DECIMAL(28,7))), 4) AS DOUBLE)
          |         AS dsir_score
          |FROM contrib GROUP BY 1""".stripMargin)),

    // Hash-sharded export layout: deterministic multiplicative-hash
    // shard assignment (pure integer arithmetic, engine-portable),
    // written one file per shard and read back — the training-data
    // export shape. The oracle recomputes shard membership and the
    // per-shard digests from the raw table with the same arithmetic.
    Q("q_ext_shards", (s, dir) => {
      val out = scratchDir(s, "g_docs_sharded", dir)
      graft.io.Layout.writeSharded(
        Tables.documents(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id", 8, out)
      graft.io.Parquet.read(s, out)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    },
      oracle = Some({
        val sh = graft.io.Layout.shardIdSql("doc_id", 8)
        s"""SELECT $sh AS shard, count(*) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
           |FROM documents GROUP BY 1""".stripMargin
      })),

    // Pearson correlation / covariance per group — the feature-drift
    // aggregates (built-in single-pass co-moment aggregates, one
    // partially-aggregated shuffle).
    Q("q_ext_corr", (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_s"),
          round(covar_pop(col("l_quantity"), col("l_extendedprice")), 2).as("covar_p"),
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          count(lit(1)).as("n")),
      oracle = Some(
        """SELECT l_returnflag,
          |       round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
          |       round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_s,
          |       round(covar_pop(l_quantity, l_extendedprice), 2) AS covar_p,
          |       round(stddev_samp(l_quantity), 6) AS sd_qty,
          |       count(*) AS n
          |FROM lineitem GROUP BY 1""".stripMargin)),

    // Token-distribution Shannon entropy per document (the
    // information-density quality signal); DuckDB's entropy() aggregate
    // recomputes the same log2 definition independently.
    Q("q_ext_entropy", (s, dir) =>
      TextStats.tokenEntropy(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), round(col("token_entropy"), 6).as("token_entropy")),
      oracle = Some(
        """WITH toks AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
          |  FROM documents)
          |SELECT doc_id, round(entropy(w), 6) AS token_entropy
          |FROM toks GROUP BY 1""".stripMargin)),

    // Exact-verification tier over the jaccard candidate pairs: unit-cost
    // Levenshtein distance, computed ONLY on the bounded candidate set,
    // itself capped at each doc's top-8 partners by jaccard — a doc in a
    // duplicate class of size m costs 8 distance calls, not m (sf0.1
    // measured max degree 292; the uncapped verify tier was the bench's
    // biggest scaled line item at 35-52 s). The oracle replays the cap.
    Q("q_ext_editdist", (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
      val pairs = Dedup.capCandidatesPerDoc(
          Dedup.wordJaccardPairs(docs, "doc_id", "text", 0.8), j = 8)
        .select(col("id_a"), col("id_b"))
      Dedup.verifyByEditDistance(pairs, docs, "doc_id", "text", maxDist = 400)
        .select(col("id_a"), col("id_b"), col("edit_dist").cast("long").as("edit_dist"))
    },
      oracle = Some(
        """WITH words AS (
          |  SELECT DISTINCT doc_id AS id,
          |         unnest(regexp_split_to_array(trim(text), '\s+')) AS w
          |  FROM documents WHERE doc_id % 10 = 0),
          |sizes AS (SELECT id, count(*) AS sz FROM words GROUP BY 1),
          |inter AS (
          |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS cnt
          |  FROM words a JOIN words b ON a.w = b.w AND a.id < b.id
          |  GROUP BY 1, 2),
          |scored AS (
          |  SELECT id_a, id_b,
          |         cnt * 1.0 / (sa.sz + sb.sz - cnt) AS jacc
          |  FROM inter
          |  JOIN sizes sa ON sa.id = id_a
          |  JOIN sizes sb ON sb.id = id_b
          |  WHERE cnt * 1.0 / (sa.sz + sb.sz - cnt) >= 0.8),
          |pairs AS (
          |  SELECT id_a, id_b FROM (
          |    SELECT id_a, id_b,
          |           row_number() OVER (PARTITION BY id_b
          |             ORDER BY jacc DESC, id_a) AS cr
          |    FROM scored) WHERE cr <= 8)
          |SELECT p.id_a, p.id_b, CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
          |FROM pairs p
          |JOIN documents a ON a.doc_id = p.id_a
          |JOIN documents b ON b.doc_id = p.id_b
          |WHERE levenshtein(a.text, b.text) <= 400""".stripMargin)),

    // Z-order (Morton) value: the multi-dimensional clustering key,
    // hash-checked bit-for-bit against the same interleave respelled in
    // DuckDB integer bit ops (ZOrder.zValueSql — one source of truth).
    Q("q_ext_zorder_value", (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          (col("user_id") % 256).as("x"), (col("event_id") % 256).as("y"))
        .select(col("event_id"), col("x"), col("y"),
          graft.functions.ZOrder.zValue(col("x"), col("y"), 8).as("z")),
      oracle = Some({
        val z = graft.functions.ZOrder.zValueSql("x", "y", 8)
        s"""WITH e AS (
           |  SELECT event_id, user_id % 256 AS x, event_id % 256 AS y FROM events)
           |SELECT event_id, x, y, $z AS z FROM e""".stripMargin
      })),

    // 3-dimensional z-value (the N-ary generalization: time × user ×
    // event buckets in one clustering key), hash-checked against the
    // generated DuckDB spelling.
    Q("q_ext_zorder3_value", (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          (col("user_id") % 64).as("x"), (col("event_id") % 64).as("y"),
          ((col("event_id") / 64).cast("long") % 64).as("w"))
        .select(col("event_id"), col("x"), col("y"), col("w"),
          graft.functions.ZOrder.zValueN(
            Seq(col("x"), col("y"), col("w")), 6).as("z3")),
      oracle = Some({
        val z3 = graft.functions.ZOrder.zValueSqlN(Seq("x", "y", "w"), 6)
        s"""WITH e AS (
           |  SELECT event_id, user_id % 64 AS x, event_id % 64 AS y,
           |         (event_id // 64) % 64 AS w
           |  FROM events)
           |SELECT event_id, x, y, w, $z3 AS z3 FROM e""".stripMargin
      })),

    // Z-ordered layout end-to-end: write the event log clustered along
    // the z-curve of (user bucket, event bucket), read back through a
    // 2-D box predicate — pushed to the parquet reader, where the
    // z-sorted row groups' tight min/max boxes skip most of the file
    // (ZOrderSpec asserts the pushdown; this query gates the numbers).
    Q("q_ext_zorder_scan", (s, dir) => {
      val out = scratchDir(s, "g_events_zorder", dir)
      val e = Tables.events(s, dir).select(
        col("event_id"), col("value"),
        (col("user_id") % 256).as("x"), (col("event_id") % 256).as("y"))
      graft.io.Layout.writeZOrdered(
        e, graft.functions.ZOrder.zValue(col("x"), col("y"), 8), out, 8)
      graft.io.Parquet.read(s, out)
        .filter(col("x").between(32, 63) && col("y").between(96, 127))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"))
    },
      oracle = Some(
        """SELECT count(*) AS n,
          |       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
          |FROM (SELECT value, user_id % 256 AS x, event_id % 256 AS y FROM events)
          |WHERE x BETWEEN 32 AND 63 AND y BETWEEN 96 AND 127""".stripMargin)),

    // Corpus vocabulary: top-50 terms by occurrence, planned as
    // TakeOrderedAndProject (bounded top-k, no full sort shuffle).
    Q("q_ext_vocab", (s, dir) =>
      Vocab.buildVocab(Tables.documents(s, dir), "text", 50),
      oracle = Some(
        """WITH toks AS (
          |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
          |  FROM documents)
          |SELECT term, count(*) AS n_occ FROM toks GROUP BY 1
          |ORDER BY n_occ DESC, term LIMIT 50""".stripMargin)),

    // Per-document OOV rate against the top-30 vocabulary — the
    // tokenizer-coverage measurement (explode -> broadcast vocab join ->
    // partial-agg back to one row per doc).
    Q("q_ext_oov", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Vocab.oovStats(docs, "doc_id", "text", Vocab.buildVocab(docs, "text", 30))
    },
      oracle = Some(
        """WITH toks AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
          |  FROM documents),
          |v AS (
          |  SELECT term FROM (
          |    SELECT term, count(*) AS n FROM toks GROUP BY 1
          |    ORDER BY n DESC, term LIMIT 30))
          |SELECT t.doc_id, count(*) AS n_tokens,
          |       CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
          |       round(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) * 1.0
          |             / count(*), 6) AS oov_rate
          |FROM toks t LEFT JOIN v ON t.term = v.term
          |GROUP BY 1""".stripMargin)),

    // SCD2 history build: each purchase observation becomes a validity
    // interval per user — valid_from / valid_to / is_current via one
    // keyed lead() window.
    Q("q_ext_scd2", (s, dir) => {
      val ch = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"),
          graft.ops.TimeOps.epochSeconds(col("ts")).as("sec"))
        .agg(round(avg(col("value")), 6).as("v"))
      graft.ops.Cdc.scd2History(ch, Seq("user_id"), "sec")
        .select(col("user_id"), col("v"), col("valid_from"), col("valid_to"),
          col("is_current"))
    },
      oracle = Some(
        """WITH ch AS (
          |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
          |         round(avg(value), 6) AS v
          |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
          |SELECT user_id, v, sec AS valid_from,
          |       lead(sec) OVER (PARTITION BY user_id ORDER BY sec) AS valid_to,
          |       CAST(lead(sec) OVER (PARTITION BY user_id ORDER BY sec)
          |            IS NULL AS BIGINT) AS is_current
          |FROM ch""".stripMargin)),

    // Bloom-pruned equi-join: the probe side (lineitem) is filtered by
    // a build-side (urgent orders) Bloom blob BEFORE the join shuffle.
    // No false negatives, so the result is exactly the exact join —
    // which is precisely what the oracle (a plain SQL join) checks.
    Q("q_ext_bloom_join", (s, dir) => {
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.ops.BloomPrune.prunedEquiJoin(
          Tables.lineitem(s, dir), urgent, "l_orderkey", "o_orderkey",
          expectedItems = 1000000L)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_lines"),
          sum(col("l_extendedprice").cast("decimal(28,6)")).cast("double")
            .as("sum_price"))
    },
      // The Bloom prune is transparent by construction (no false
      // negatives), so the oracle is the EXACT join it claims to equal.
      oracle = Some(
        """SELECT l_returnflag, count(*) AS n_lines,
          |       CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
          |         AS sum_price
          |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          |WHERE o.o_orderpriority = '1-URGENT'
          |GROUP BY 1""".stripMargin)),

    // Key-skew / heavy-hitter profile over the event stream's user key —
    // the pre-flight diagnostic for salting / AQE-skew decisions.
    Q("q_ext_skew_profile", (s, dir) =>
      Profile.keySkew(Tables.events(s, dir), "user_id", 10),
      oracle = Some(
        """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
          |s AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_rows,
          |             count(*) AS n_keys FROM c)
          |SELECT user_id, cnt,
          |       round(CAST(cnt AS DOUBLE) / total_rows, 6) AS share,
          |       round(CAST(cnt * n_keys AS DOUBLE) / total_rows, 4) AS skew_factor,
          |       n_keys, total_rows
          |FROM c, s ORDER BY cnt DESC, user_id LIMIT 10""".stripMargin)),

    // Missing-interval report per event series: gaps > 1 h between
    // consecutive observations of the same type, integer-microsecond
    // arithmetic end to end so the oracle threshold can't round apart.
    Q("q_ext_gaps", (s, dir) =>
      graft.ops.Gaps.detect(
          Tables.events(s, dir), "event_type", "ts", "event_id", 3600L)
        .select(col("event_type"),
          unix_micros(col("gap_start")).as("gap_start_us"),
          unix_micros(col("gap_end")).as("gap_end_us"),
          col("gap_us"), col("gap_seconds")),
      // Integer-microsecond twin of Gaps.detect: lag ordering uses the
      // same microsecond instants Spark sees (events.ts is TIMESTAMP_NTZ
      // parquet, read as TimestampNTZType and cast in Tables.events), so
      // threshold and ordering can't drift apart.
      oracle = Some(
        """WITH e AS (
          |  SELECT event_type, event_id, epoch_us(ts) AS ts_us FROM events),
          |g AS (
          |  SELECT event_type, ts_us,
          |         lag(ts_us) OVER (PARTITION BY event_type
          |                          ORDER BY ts_us, event_id) AS prev_us
          |  FROM e)
          |SELECT event_type, prev_us AS gap_start_us, ts_us AS gap_end_us,
          |       ts_us - prev_us AS gap_us,
          |       (ts_us - prev_us) // 1000000 AS gap_seconds
          |FROM g WHERE prev_us IS NOT NULL AND ts_us - prev_us > 3600000000""".stripMargin)),

    // ORC round-trip: documents written as ORC, re-read, and digested
    // per source (counts + md5-prefix extrema). The oracle computes the
    // same digest off the PARQUET source, so any fidelity loss in the
    // ORC write/read path (encoding, string mangling, row drops) breaks
    // the hash.
    Q("q_ext_orc_roundtrip", (s, dir) => {
      val out = scratchDir(s, "g_docs_orc", dir)
      Tables.documents(s, dir)
        .select("doc_id", "source", "lang", "n_chars", "text")
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text")).cast("long")).as("sum_len"),
          min(substring(md5(col("text")), 1, 16)).as("min_fp"),
          max(substring(md5(col("text")), 1, 16)).as("max_fp"))
    },
      oracle = Some(
        """SELECT source, count(*) AS n_docs,
          |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          |       CAST(sum(length(text)) AS BIGINT) AS sum_len,
          |       min(substring(md5(text), 1, 16)) AS min_fp,
          |       max(substring(md5(text), 1, 16)) AS max_fp
          |FROM documents GROUP BY 1""".stripMargin)),

    // JSON-lines round-trip, same digest contract as the ORC gate
    // (string escaping is the fidelity risk JSON adds; the md5 extrema
    // catch any mangling). Explicit read schema — no inference pass.
    Q("q_ext_jsonl_roundtrip", (s, dir) => {
      val out = scratchDir(s, "g_docs_jsonl", dir)
      Tables.documents(s, dir)
        .select("doc_id", "source", "lang", "n_chars", "text")
        .write.mode("overwrite").json(out)
      s.read
        .schema("doc_id LONG, source STRING, lang STRING, n_chars LONG, text STRING")
        .json(out)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text")).cast("long")).as("sum_len"),
          min(substring(md5(col("text")), 1, 16)).as("min_fp"),
          max(substring(md5(col("text")), 1, 16)).as("max_fp"))
    },
      oracle = Some(
        """SELECT source, count(*) AS n_docs,
          |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
          |       CAST(sum(length(text)) AS BIGINT) AS sum_len,
          |       min(substring(md5(text), 1, 16)) AS min_fp,
          |       max(substring(md5(text), 1, 16)) AS max_fp
          |FROM documents GROUP BY 1""".stripMargin)),

    // Train/test split-leakage report: near-dup pairs that CROSS split
    // boundaries — the contamination a random split inflicts on held-out
    // evaluation when duplicates exist. Pure composition: the gated
    // jaccard detector × the gated split assigner, split labels joined
    // broadcast onto the (tiny) pair set.
    Q("q_ext_split_leakage", (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
      val pairs = Dedup.wordJaccardPairs(docs, "doc_id", "text", 0.8)
      val splits = Sampling.assignSplit(docs, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "sp")
        .select(col("doc_id"), col("split"))
      pairs
        .join(broadcast(splits.select(col("doc_id").as("id_a"),
          col("split").as("split_a"))), Seq("id_a"))
        .join(broadcast(splits.select(col("doc_id").as("id_b"),
          col("split").as("split_b"))), Seq("id_b"))
        .filter(col("split_a") =!= col("split_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(
          count(lit(1)).as("n_leaks"),
          min(col("id_a")).as("example_a"),
          round(max(col("jaccard")), 6).as("worst_jaccard"))
    },
      oracle = Some({
        val (t80, t90) = (Sampling.rateThreshold(0.8), Sampling.rateThreshold(0.9))
        s"""WITH words AS (
           |  SELECT DISTINCT doc_id AS id,
           |         unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
           |  FROM documents WHERE doc_id % 10 = 0),
           |sizes AS (SELECT id, count(*) AS sz FROM words GROUP BY 1),
           |inter AS (
           |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS cnt
           |  FROM words a JOIN words b ON a.w = b.w AND a.id < b.id
           |  GROUP BY 1, 2),
           |pairs AS (
           |  SELECT id_a, id_b,
           |         cnt * 1.0 / (sa.sz + sb.sz - cnt) AS jaccard
           |  FROM inter
           |  JOIN sizes sa ON sa.id = id_a
           |  JOIN sizes sb ON sb.id = id_b
           |  WHERE cnt * 1.0 / (sa.sz + sb.sz - cnt) >= 0.8),
           |sp AS (
           |  SELECT doc_id,
           |         CASE WHEN h < '$t80' THEN 'train'
           |              WHEN h < '$t90' THEN 'val' ELSE 'test' END AS split
           |  FROM (SELECT doc_id,
           |          substring(md5('sp' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
           |        FROM documents WHERE doc_id % 10 = 0))
           |SELECT sa.split AS split_a, sb.split AS split_b,
           |       count(*) AS n_leaks, min(id_a) AS example_a,
           |       round(max(jaccard), 6) AS worst_jaccard
           |FROM pairs
           |JOIN sp sa ON sa.doc_id = id_a
           |JOIN sp sb ON sb.doc_id = id_b
           |WHERE sa.split <> sb.split
           |GROUP BY 1, 2""".stripMargin
      })),

    // Equi-width value histogram (profile tier): one counted shuffle on
    // the bucket id; bucket arithmetic identical in both engines.
    Q("q_ext_value_histogram", (s, dir) =>
      Profile.histogram(Tables.events(s, dir), "value", 10.0),
      oracle = Some(
        """SELECT bucket, n, min_v, max_v, bucket * 10.0 AS bucket_lo FROM (
          |  SELECT CAST(floor(value / 10.0) AS BIGINT) AS bucket,
          |         count(*) AS n,
          |         round(min(value), 6) AS min_v,
          |         round(max(value), 6) AS max_v
          |  FROM events GROUP BY 1)""".stripMargin)),

    // Equi-depth histogram: 8 near-equal-count bins over the skewed
    // price column; boundaries are exact interpolated percentiles.
    Q("q_ext_eqdepth_hist", (s, dir) =>
      Profile.histogramEquiDepth(
        Tables.lineitem(s, dir), "l_extendedprice", 8),
      oracle = Some(
        """WITH bs AS (
          |  SELECT quantile_cont(l_extendedprice,
          |           [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS b
          |  FROM lineitem)
          |SELECT CAST(len(list_filter(b, x -> l_extendedprice > x)) AS BIGINT)
          |         AS bin,
          |       count(*) AS n,
          |       round(min(l_extendedprice), 6) AS min_v,
          |       round(max(l_extendedprice), 6) AS max_v
          |FROM lineitem, bs GROUP BY 1""".stripMargin)),

    // Perplexity-style quality filter (CCNet tier): add-one unigram LM
    // trained on the %10!=0 split, every doc scored by average token
    // log-prob, OOV tokens at the smoothing floor. Per-term log-probs
    // round to 8 dp BEFORE the decimal per-doc sum (engine ulp
    // discipline — see LangModel).
    Q("q_ext_perplexity", (s, dir) => {
      val docs = Tables.documents(s, dir)
      LangModel.scoreUnigram(
        docs, "doc_id", "text", docs.filter(col("doc_id") % 10 =!= 0))
    },
      oracle = Some(
        """WITH tr AS (
          |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
          |  FROM documents WHERE doc_id % 10 <> 0),
          |c AS (SELECT term, count(*) AS c FROM tr GROUP BY 1),
          |t AS (SELECT CAST(sum(c) AS BIGINT) AS n_total, count(*) AS v_size FROM c),
          |lm AS (
          |  SELECT term,
          |         round(ln(CAST(c + 1 AS DOUBLE) / (n_total + v_size)), 8) AS ln_p
          |  FROM c, t),
          |fl AS (SELECT round(ln(1.0 / (n_total + v_size)), 8) AS floor_lp FROM t),
          |dt AS (
          |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
          |  FROM documents)
          |SELECT doc_id, count(*) AS n_tokens,
          |       CAST(sum(CASE WHEN lm.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_oov,
          |       round(CAST(sum(CAST(coalesce(lm.ln_p, fl.floor_lp)
          |                          AS DECIMAL(28,10))) AS DOUBLE)
          |             / count(*), 6) AS avg_logprob
          |FROM dt LEFT JOIN lm ON dt.term = lm.term, fl
          |GROUP BY 1""".stripMargin)),

    // Approximate frequent-items CONTRACT: Misra-Gries style freqItems
    // guarantees any key with frequency above the support threshold
    // appears in the result — so the exact heaviest key (support 0.86%
    // at sf0.01, threshold 0.05%) must be inside the approximate set.
    // The exact-side check rides keySkew; the oracle pins TRUE.
    Q("q_ext_freq_items", (s, dir) => {
      val e = Tables.events(s, dir)
      val approx = e.stat.freqItems(Seq("user_id"), 0.0005)
        .select(col("user_id_freqItems").as("approx_set"))
      val top1 = Profile.keySkew(e, "user_id", 1)
        .select(col("user_id").as("top_user"))
      top1.crossJoin(broadcast(approx))
        .select(
          array_contains(col("approx_set"), col("top_user"))
            .cast("long").as("top_key_found"),
          (size(col("approx_set")) > 0).cast("long").as("has_items"))
    },
      // Contract oracle: the guarantees themselves (no SQL twin for a
      // counter sketch; the exact side is already oracle-gated via
      // q_ext_skew_profile).
      oracle = Some(
        "SELECT CAST(1 AS BIGINT) AS top_key_found, CAST(1 AS BIGINT) AS has_items")),

    // Versioned copy-on-write snapshots (lakehouse commit-log
    // primitive): v1 and v2 of the corpus committed as manifests, read
    // back BY VERSION — v1 must stay bit-stable after v2 commits. The
    // oracle replays both versions' defining subsets from the source.
    Q("q_ext_time_travel", (s, dir) => {
      val out = scratchDir(s, "g_docs_snap", dir)
      val p = new org.apache.hadoop.fs.Path(out)
      val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(p)) fsys.delete(p, true)
      val docs = Tables.documents(s, dir)
      val v1 = docs.filter(col("doc_id") < 450).select("doc_id", "source", "text")
      val v2 = docs.filter(col("doc_id") >= 50)
        .withColumn("text",
          when(col("doc_id") % 100 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .select("doc_id", "source", "text")
      graft.io.SnapshotTable.writeSnapshot(v1, out, 1, "source", 4)
      graft.io.SnapshotTable.writeSnapshot(v2, out, 2, "source", 4)
      Seq(1, 2).map { v =>
        graft.io.SnapshotTable.readSnapshot(s, out, v)
          .agg(
            count(lit(1)).as("n_docs"),
            sum(length(col("text")).cast("long")).as("sum_len"),
            min(substring(md5(col("text")), 1, 16)).as("min_fp"),
            max(substring(md5(col("text")), 1, 16)).as("max_fp"))
          .select(lit(v).cast("int").as("version"), col("n_docs"),
            col("sum_len"), col("min_fp"), col("max_fp"))
      }.reduce(_ unionByName _)
    },
      oracle = Some(
        """SELECT 1 AS version, count(*) AS n_docs,
          |       CAST(sum(length(text)) AS BIGINT) AS sum_len,
          |       min(substring(md5(text), 1, 16)) AS min_fp,
          |       max(substring(md5(text), 1, 16)) AS max_fp
          |FROM documents WHERE doc_id < 450
          |UNION ALL
          |SELECT 2, count(*),
          |       CAST(sum(length(CASE WHEN doc_id % 100 = 0
          |                            THEN text || ' v2' ELSE text END)) AS BIGINT),
          |       min(substring(md5(CASE WHEN doc_id % 100 = 0
          |                              THEN text || ' v2' ELSE text END), 1, 16)),
          |       max(substring(md5(CASE WHEN doc_id % 100 = 0
          |                              THEN text || ' v2' ELSE text END), 1, 16))
          |FROM documents WHERE doc_id >= 50""".stripMargin)),

    // Right-to-erasure propagation over the snapshot store: v2 = v1
    // minus the tombstoned keys, copy-on-write (time travel to v1
    // keeps working until retention expires it). The audit row is
    // computed from the two snapshots THEMSELVES: deleted_remaining
    // must be 0 and the decimal key-sum identity pins that nothing
    // except the tombstoned rows changed.
    Q("q_ext_erasure", (s, dir) => {
      val out = scratchDir(s, "g_docs_erasure", dir)
      val p = new org.apache.hadoop.fs.Path(out)
      val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(p)) fsys.delete(p, true)
      val docs = Tables.documents(s, dir).select("doc_id", "source", "n_chars")
      graft.io.SnapshotTable.writeSnapshot(docs, out, 1, "doc_id", 4)
      val tomb = docs.filter(col("doc_id") % 37 === 0).select("doc_id")
      Privacy.eraseKeys(s, out, 1, 2, "doc_id", tomb, 4)
      Privacy.erasureAudit(s, out, 1, 2, "doc_id", tomb)
    },
      oracle = Some(
        """WITH d AS (SELECT doc_id FROM documents),
          |t AS (SELECT doc_id FROM d WHERE doc_id % 37 = 0)
          |SELECT (SELECT count(*) FROM d) AS n_before,
          |       (SELECT count(*) FROM d) - (SELECT count(*) FROM t)
          |         AS n_after,
          |       (SELECT count(*) FROM t) AS n_tombstoned,
          |       CAST(0 AS BIGINT) AS deleted_remaining,
          |       CAST(1 AS BIGINT) AS survivors_intact""".stripMargin)),

    // Retention expiry (VACUUM): physically delete versions below the
    // retention floor — the second half of right-to-erasure (erase
    // removed the rows; expiry removes the pre-erasure FILES). The
    // gate checks the deleted version is really gone from disk and
    // the survivor still reads exactly.
    Q("q_ext_retention_expiry", (s, dir) => {
      val out = scratchDir(s, "g_docs_retention", dir)
      val p = new org.apache.hadoop.fs.Path(out)
      val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(p)) fsys.delete(p, true)
      val docs = Tables.documents(s, dir).select("doc_id", "source", "n_chars")
      graft.io.SnapshotTable.writeSnapshot(docs, out, 1, "doc_id", 4)
      graft.io.SnapshotTable.writeSnapshot(
        docs.filter(col("doc_id") % 3 =!= 0), out, 2, "doc_id", 4)
      val nExpired = graft.io.SnapshotTable.expireVersions(s, out, keepFrom = 2)
      val v1Gone =
        !fsys.exists(new org.apache.hadoop.fs.Path(out, "v1")) &&
          !fsys.exists(new org.apache.hadoop.fs.Path(out, "manifest-v00001.json"))
      // BIGINT-only output row: DECIMAL(38,0) and BOOLEAN cells render
      // differently under some hash compares than under value equality
      // (driver-red in r6 while value-exact locally) — emit nothing
      // whose textual/hash rendering is engine-discretionary
      graft.io.SnapshotTable.readSnapshot(s, out, 2)
        .agg(count(lit(1)).as("v2_rows"),
          sum(col("doc_id")).as("v2_key_sum"))
        .select(lit(nExpired.toLong).as("n_expired"), col("v2_rows"),
          col("v2_key_sum"), lit(if (v1Gone) 1L else 0L).as("v1_gone"))
    },
      oracle = Some(
        """SELECT CAST(1 AS BIGINT) AS n_expired,
          |       (SELECT count(*) FROM documents WHERE doc_id % 3 <> 0)
          |         AS v2_rows,
          |       (SELECT CAST(sum(doc_id) AS BIGINT) FROM documents
          |        WHERE doc_id % 3 <> 0) AS v2_key_sum,
          |       CAST(1 AS BIGINT) AS v1_gone""".stripMargin)),

    // Cross-table referential integrity: lineitems pointing at orders
    // deliberately removed from the parent side — the FK-orphan audit
    // a corpus-metadata star schema runs on every ingest.
    Q("q_ext_ref_integrity", (s, dir) =>
      Expectations.refIntegrity(
        Tables.lineitem(s, dir), "l_orderkey",
        Tables.orders(s, dir).filter(col("o_orderkey") % 7 =!= 0),
        "o_orderkey"),
      oracle = Some(
        """WITH par AS (
          |  SELECT o_orderkey FROM orders WHERE o_orderkey % 7 <> 0),
          |ch AS (SELECT l_orderkey AS fk FROM lineitem),
          |fkk AS (SELECT DISTINCT fk FROM ch),
          |orr AS (
          |  SELECT count(*) AS n_orphan_rows FROM ch
          |  WHERE fk NOT IN (SELECT o_orderkey FROM par)),
          |ork AS (
          |  SELECT count(*) AS n_orphan_keys FROM fkk
          |  WHERE fk NOT IN (SELECT o_orderkey FROM par))
          |SELECT (SELECT count(*) FROM ch) AS n_child,
          |       (SELECT count(*) FROM fkk) AS n_fk_keys,
          |       orr.n_orphan_rows, ork.n_orphan_keys,
          |       round(CAST(orr.n_orphan_rows AS DOUBLE)
          |         / greatest((SELECT count(*) FROM ch), 1), 6) AS orphan_rate
          |FROM orr, ork""".stripMargin)),

    // Goodness-of-fit of the hash split against its declared 80/10/10
    // recipe — the χ² QA check run after assignment; terms are
    // 9-dp-rounded decimal summands so the statistic is engine-exact.
    Q("q_ext_split_gof", (s, dir) =>
      graft.ops.StatTests.gofChiSquare(
        Sampling.assignSplit(Tables.documents(s, dir), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "sp"),
        "split",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)),
      oracle = Some({
        val (t80, t90) = (Sampling.rateThreshold(0.8), Sampling.rateThreshold(0.9))
        s"""WITH sp AS (
           |  SELECT CASE WHEN h < '$t80' THEN 'train'
           |              WHEN h < '$t90' THEN 'val' ELSE 'test' END AS cat
           |  FROM (SELECT substring(md5('sp' || CAST(doc_id AS VARCHAR)), 1, 8)
           |          AS h
           |        FROM documents)),
           |obs AS (SELECT cat, count(*) AS o FROM sp GROUP BY 1),
           |ex AS (SELECT * FROM (VALUES ('train', 0.8), ('val', 0.1),
           |        ('test', 0.1)) t(cat, p)),
           |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
           |terms AS (
           |  SELECT CAST(round(
           |      (CAST(coalesce(o, 0) AS DOUBLE) - p * nn.n)
           |      * (CAST(coalesce(o, 0) AS DOUBLE) - p * nn.n)
           |      / (p * nn.n), 9) AS DECIMAL(28,9)) AS term
           |  FROM ex LEFT JOIN obs USING (cat), nn)
           |SELECT (SELECT n FROM nn) AS n, CAST(3 AS BIGINT) AS k,
           |       round(CAST(sum(term) AS DOUBLE), 6) AS chi2,
           |       CAST(2 AS BIGINT) AS df
           |FROM terms""".stripMargin
      })),

    // File-level data skipping off the manifest's per-file min/max:
    // the range layout makes date stats tight, the pruned read opens
    // only intersecting FILES (above parquet row-group skipping). The
    // aggregate must equal the full-scan oracle; `prune_effective`
    // pins that skipping actually happened (files_read strictly
    // between 0 and files_total).
    Q("q_ext_manifest_prune", (s, dir) => {
      val out = scratchDir(s, "g_events_snap", dir)
      val p = new org.apache.hadoop.fs.Path(out)
      val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(p)) fsys.delete(p, true)
      val e = Tables.events(s, dir)
        .withColumn("d", date_format(col("ts"), "yyyy-MM-dd"))
      graft.io.SnapshotTable.writeSnapshot(e, out, 1, "d", 16)
      val (pruned, nRead, nTotal) =
        graft.io.SnapshotTable.prunedRead(s, out, 1, "2024-01-05", "2024-01-07")
      pruned.filter(col("d").between("2024-01-05", "2024-01-07"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 6).as("avg_value"))
        .withColumn("prune_effective",
          lit(if (nRead < nTotal && nRead > 0) 1L else 0L))
    },
      oracle = Some(
        """SELECT event_type, count(*) AS n, round(avg(value), 6) AS avg_value,
          |       CAST(1 AS BIGINT) AS prune_effective
          |FROM events
          |WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-05' AND '2024-01-07'
          |GROUP BY 1""".stripMargin)),

    // Trapezoidal integration of each irregular event series — the
    // power→energy computation of the solar domain, gap-robust where a
    // rectangle resample under-reads. Terms go decimal before summing:
    // cross-partition order can't change the answer.
    Q("q_ext_trapezoid", (s, dir) =>
      graft.ops.Integrate.trapezoid(
          Tables.events(s, dir), "event_type", "ts", "event_id", "value")
        .select(col("event_type"),
          round(col("integral"), 4).as("integral"),
          col("n_intervals")),
      oracle = Some(
        """WITH e AS (
          |  SELECT event_type, epoch_us(ts) AS us, event_id, value FROM events),
          |l AS (
          |  SELECT event_type, value AS v,
          |         lag(value) OVER (PARTITION BY event_type
          |                          ORDER BY us, event_id) AS pv,
          |         us,
          |         lag(us) OVER (PARTITION BY event_type
          |                       ORDER BY us, event_id) AS pus
          |  FROM e),
          |t AS (
          |  SELECT event_type,
          |         CASE WHEN pv IS NOT NULL
          |              THEN CAST(((v + pv) / 2.0) * ((us - pus) / 1000000.0)
          |                        AS DECIMAL(28,10)) END AS term
          |  FROM l)
          |SELECT event_type,
          |       round(CAST(coalesce(sum(term), 0) AS DOUBLE), 4) AS integral,
          |       count(term) AS n_intervals
          |FROM t GROUP BY 1""".stripMargin)),

    // Percentile winsorization: per-key p01/p99 clip bounds broadcast
    // back onto the scan (the data never shuffles for the clipping),
    // then robust per-key stats over the clipped column.
    Q("q_ext_winsorize", (s, dir) =>
      graft.ops.Winsorize.winsorize(
          Tables.events(s, dir), Seq("event_type"), "value", 0.01, 0.99)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("value") < col("lo_bound"), 1L).otherwise(0L)).as("n_lo"),
          sum(when(col("value") > col("hi_bound"), 1L).otherwise(0L)).as("n_hi"),
          sum(col("value_w").cast("decimal(28,6)")).cast("double").as("sum_w"),
          round(max(col("lo_bound")), 6).as("lo_bound"),
          round(max(col("hi_bound")), 6).as("hi_bound")),
      oracle = Some(
        """WITH b AS (
          |  SELECT event_type,
          |         round(quantile_cont(value, 0.01), 6) AS lo_bound,
          |         round(quantile_cont(value, 0.99), 6) AS hi_bound
          |  FROM events GROUP BY 1)
          |SELECT event_type, count(*) AS n,
          |       CAST(sum(CASE WHEN value < lo_bound THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_lo,
          |       CAST(sum(CASE WHEN value > hi_bound THEN 1 ELSE 0 END) AS BIGINT)
          |         AS n_hi,
          |       CAST(sum(CAST(least(greatest(value, lo_bound), hi_bound)
          |                     AS DECIMAL(28,6))) AS DOUBLE) AS sum_w,
          |       round(max(lo_bound), 6) AS lo_bound,
          |       round(max(hi_bound), 6) AS hi_bound
          |FROM events e JOIN b USING (event_type)
          |GROUP BY 1""".stripMargin)),

    // Incremental aggregate maintenance: per-key state built from
    // history, one batch folded in O(batch), derived view read out.
    // The oracle is the from-scratch aggregate over history ∪ batch —
    // the fold must be indistinguishable from a full recompute.
    Q("q_ext_incr_agg", (s, dir) => {
      val e = Tables.events(s, dir)
      val hist = e.filter(col("event_id") % 4 =!= 0)
      val batch = e.filter(col("event_id") % 4 === 0)
      val st = graft.ops.IncrAgg.state(hist, Seq("event_type"), "value")
      graft.ops.IncrAgg
        .view(graft.ops.IncrAgg.merge(st, batch, Seq("event_type"), "value"),
          Seq("event_type"))
        .select(col("event_type"), col("n"),
          col("sum").as("sum_value"), col("avg").as("avg_value"),
          col("min").as("min_value"), col("max").as("max_value"))
    },
      oracle = Some(
        """SELECT event_type, count(value) AS n,
          |       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
          |       round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
          |             / count(value), 6) AS avg_value,
          |       min(value) AS min_value, max(value) AS max_value
          |FROM events GROUP BY 1""".stripMargin)),

    // Domain PageRank over a deterministic event-derived link graph —
    // fixed-point integer arithmetic end to end, so the 5-iteration
    // power recurrence is BIT-exact across engines (Graph.pageRankSql
    // unrolls the identical integer recurrence for the oracle; no
    // epsilon anywhere).
    Q("q_ext_pagerank", (s, dir) => {
      val e = Tables.events(s, dir)
        .selectExpr("user_id % 40 AS src", "event_id % 40 AS dst")
        .filter(col("src") =!= col("dst")).distinct()
      Graph.pageRank(e, iterations = 5)
    },
      oracle = Some(
        s"""WITH edges AS (
           |  SELECT DISTINCT user_id % 40 AS src, event_id % 40 AS dst
           |  FROM events WHERE user_id % 40 <> event_id % 40),
           |${Graph.pageRankSql(5)}
           |SELECT v, r AS rank_e12 FROM it5""".stripMargin)),

    // HITS hubs/authorities on the same link graph — the directed
    // complement of PageRank (points-at-good vs pointed-at-by-good),
    // in the same bounded-iteration integer fixed-point arithmetic;
    // oracle unrolls the identical recurrence (Graph.hitsSql).
    Q("q_ext_hits", (s, dir) => {
      val e = Tables.events(s, dir)
        .selectExpr("user_id % 40 AS src", "event_id % 40 AS dst")
        .filter(col("src") =!= col("dst")).distinct()
      Graph.hits(e, iterations = 3)
    },
      oracle = Some(
        s"""WITH edges AS (
           |  SELECT DISTINCT user_id % 40 AS src, event_id % 40 AS dst
           |  FROM events WHERE user_id % 40 <> event_id % 40),
           |${Graph.hitsSql(3)}
           |SELECT a3.v, a3.s AS auth_e12, h3.s AS hub_e12
           |FROM a3 JOIN h3 ON h3.v = a3.v""".stripMargin)),

    // Interval-interval overlap join: per-(user, day) activity spans,
    // two bounded user slices, every overlapping cross-user pair via
    // the binned equi-join (pair kept only in its overlap-start bin —
    // no distinct pass). The oracle is the brute-force overlap join.
    Q("q_ext_interval_join", (s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"),
        graft.ops.TimeOps.epochSeconds(col("ts")).as("es"))
      val iv = e.groupBy(col("user_id"),
          floor(col("es") / 86400L).as("day"))
        .agg(min("es").as("lo"), max("es").as("hi"))
      val a = iv.filter(col("user_id") % 97 === 0)
        .select(col("user_id").as("user_a"), col("lo").as("lo_a"),
          col("hi").as("hi_a"))
      val b = iv.filter(col("user_id") % 89 === 0)
        .select(col("user_id").as("user_b"), col("lo").as("lo_b"),
          col("hi").as("hi_b"))
      graft.ops.RangeJoin.intervalOverlapJoin(a, "lo_a", "hi_a",
          b, "lo_b", "hi_b", binSeconds = 21600L)
        .filter(col("user_a") =!= col("user_b"))
        .select(col("user_a"), col("user_b"), col("lo_a"), col("hi_a"),
          col("lo_b"), col("hi_b"),
          greatest(col("lo_a"), col("lo_b")).as("ov_start"),
          least(col("hi_a"), col("hi_b")).as("ov_end"),
          (least(col("hi_a"), col("hi_b")) -
            greatest(col("lo_a"), col("lo_b"))).as("ov_secs"))
    },
      oracle = Some(
        """WITH e AS (
          |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es
          |  FROM events),
          |iv AS (
          |  SELECT user_id, es // 86400 AS day,
          |         min(es) AS lo, max(es) AS hi
          |  FROM e GROUP BY 1, 2),
          |a AS (SELECT user_id AS user_a, lo AS lo_a, hi AS hi_a
          |      FROM iv WHERE user_id % 97 = 0),
          |b AS (SELECT user_id AS user_b, lo AS lo_b, hi AS hi_b
          |      FROM iv WHERE user_id % 89 = 0)
          |SELECT user_a, user_b, lo_a, hi_a, lo_b, hi_b,
          |       greatest(lo_a, lo_b) AS ov_start,
          |       least(hi_a, hi_b) AS ov_end,
          |       least(hi_a, hi_b) - greatest(lo_a, lo_b) AS ov_secs
          |FROM a JOIN b ON lo_a <= hi_b AND lo_b <= hi_a
          |  AND user_a <> user_b""".stripMargin)),

    // Interval coalesce: per-user 30-min event envelopes merged into
    // availability spans — the sweep as ONE keyed window (running max
    // hi decides span starts), per-span agg reuses the partitioning.
    Q("q_ext_interval_coalesce", (s, dir) => {
      val e = Tables.events(s, dir).filter(col("user_id") % 13 === 0)
        .select(col("user_id"),
          graft.ops.TimeOps.epochSeconds(col("ts")).as("lo"))
        .withColumn("hi", col("lo") + 1800L)
      graft.ops.RangeJoin.coalesceIntervals(e, Seq("user_id"), "lo", "hi")
    },
      oracle = Some(
        """WITH e AS (
          |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS lo,
          |         CAST(floor(epoch(ts)) AS BIGINT) + 1800 AS hi
          |  FROM events WHERE user_id % 13 = 0),
          |x AS (
          |  SELECT user_id, lo, hi,
          |         max(hi) OVER (PARTITION BY user_id ORDER BY lo, hi
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
          |  FROM e),
          |y AS (SELECT *, CASE WHEN pm IS NULL OR lo > pm THEN 1 ELSE 0 END
          |        AS nw
          |      FROM x),
          |z AS (
          |  SELECT *, CAST(sum(nw) OVER (PARTITION BY user_id
          |    ORDER BY lo, hi ROWS UNBOUNDED PRECEDING) AS BIGINT) AS g
          |  FROM y)
          |SELECT user_id, min(lo) AS span_lo, max(hi) AS span_hi,
          |       count(*) AS n_merged
          |FROM z GROUP BY user_id, g""".stripMargin)),

    // Leave-one-source-out jackknife of mean doc length — "which
    // source is pulling the corpus metric" from ONE source-keyed
    // aggregate (LOO means fold out of sufficient statistics).
    Q("q_ext_jackknife", (s, dir) =>
      Valuation.sourceJackknife(Tables.documents(s, dir), "source",
        "n_chars"),
      oracle = Some(
        """WITH i AS (
          |  SELECT source,
          |         CAST(round(n_chars, 6) AS DECIMAL(18,6)) AS m
          |  FROM documents),
          |per AS (
          |  SELECT source, count(*) AS n,
          |         CAST(sum(m) AS DECIMAL(38,6)) AS s
          |  FROM i GROUP BY 1),
          |tot AS (
          |  SELECT CAST(sum(n) AS BIGINT) AS nt,
          |         CAST(sum(s) AS DECIMAL(38,6)) AS st
          |  FROM per)
          |SELECT source, n,
          |       round(CAST(s AS DOUBLE) / n, 6) AS mean_source,
          |       round(CAST(st AS DOUBLE) / nt, 6) AS mean_overall,
          |       CASE WHEN nt > n
          |            THEN round(CAST(st - s AS DOUBLE) / (nt - n), 6)
          |       END AS mean_without,
          |       CASE WHEN nt > n
          |            THEN round(CAST(st - s AS DOUBLE) / (nt - n)
          |              - CAST(st AS DOUBLE) / nt, 6)
          |       END AS delta
          |FROM per, tot""".stripMargin)),

    // Winnowing (MOSS) fingerprint pairs: LOCAL substring overlap —
    // the plagiarized-paragraph detector set-based MinHash can't be;
    // guaranteed hit for shared runs of ≥ w+k−1 tokens, map-side
    // array algebra per doc, hot-fingerprint cap before the join.
    Q("q_ext_winnowing", (s, dir) =>
      Dedup.winnowingPairs(Tables.documents(s, dir),
        "doc_id", "text", k = 3, window = 3, minShared = 2L, capDf = 80L),
      oracle = Some(
        """WITH d AS (
          |  SELECT doc_id,
          |         list_filter(string_split_regex(lower(text), '[^a-z]+'),
          |           x -> x <> '') AS ws
          |  FROM documents),
          |g AS (
          |  SELECT doc_id,
          |         list_transform(range(1, len(ws) - 3 + 2),
          |           i -> substring(md5(array_to_string(ws[i:i+2], ' ')), 1, 8))
          |           AS h
          |  FROM d WHERE len(ws) >= 3),
          |w AS (
          |  SELECT doc_id,
          |         list_distinct(list_transform(
          |           range(1, greatest(len(h) - 3 + 1, 1) + 1),
          |           j -> list_min(h[j:j+2]))) AS fps
          |  FROM g),
          |f AS (SELECT doc_id, unnest(fps) AS fp FROM w),
          |cnt AS (SELECT fp, count(*) AS c FROM f GROUP BY 1),
          |ok AS (SELECT f.doc_id, f.fp FROM f JOIN cnt USING (fp)
          |       WHERE c <= 80),
          |p AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
          |  FROM ok a JOIN ok b ON a.fp = b.fp AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2)
          |SELECT id_a, id_b, n_shared FROM p WHERE n_shared >= 2""".stripMargin)),

    // Per-key time-weighted average over the irregular event series —
    // what "average power" means off-grid (plain avg over-weights
    // densely-sampled periods); integral and span ride ONE keyed
    // window scan.
    Q("q_ext_twa", (s, dir) =>
      graft.ops.Integrate.timeWeightedMean(Tables.events(s, dir),
        "event_type", "ts", "event_id", "value"),
      oracle = Some(
        """WITH e AS (
          |  SELECT event_type, epoch_us(ts) AS us, event_id, value FROM events),
          |l AS (
          |  SELECT event_type, value AS v,
          |         lag(value) OVER (PARTITION BY event_type
          |                          ORDER BY us, event_id) AS pv,
          |         us,
          |         lag(us) OVER (PARTITION BY event_type
          |                       ORDER BY us, event_id) AS pus
          |  FROM e),
          |t AS (
          |  SELECT event_type, us,
          |         CASE WHEN pv IS NOT NULL
          |              THEN CAST(((v + pv) / 2.0) * ((us - pus) / 1000000.0)
          |                        AS DECIMAL(28,10)) END AS term
          |  FROM l),
          |g AS (
          |  SELECT event_type,
          |         CAST(coalesce(sum(term), 0) AS DOUBLE) AS integral,
          |         count(*) AS n_samples,
          |         min(us) AS us0, max(us) AS us1
          |  FROM t GROUP BY 1)
          |SELECT event_type, n_samples,
          |       round((us1 - us0) / 1000000.0, 6) AS span_seconds,
          |       CASE WHEN us1 > us0
          |            THEN round(integral / ((us1 - us0) / 1000000.0), 6)
          |       END AS twa
          |FROM g""".stripMargin)),

    // k-core of a sparse link graph: bounded peel rounds (degree agg +
    // two semi-joins per round, no driver frontier); oracle unrolls
    // the identical rounds.
    Q("q_ext_kcore", (s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("event_id") % 13 === 0)
        .selectExpr("user_id % 200 AS src", "event_id % 200 AS dst")
        .filter(col("src") =!= col("dst")).distinct()
      Graph.kCore(e, k = 5, rounds = 8)
    },
      oracle = Some(
        s"""WITH edges AS (
           |  SELECT DISTINCT user_id % 200 AS src, event_id % 200 AS dst
           |  FROM events
           |  WHERE event_id % 13 = 0 AND user_id % 200 <> event_id % 200),
           |${Graph.kCoreSql(5, 8)}
           |SELECT a AS v, CAST(count(*) AS BIGINT) AS core_deg
           |FROM e8 GROUP BY 1 HAVING count(*) >= 5""".stripMargin)),

    // Embedding-geometry probe: pairwise-cosine histogram over an md5
    // sample — the anisotropy/collapse check behind every ANN and
    // SemDeDup threshold (Drift watches moments; this watches shape).
    // The sample is an ABSOLUTE 512-row budget (md5 top-k, oracle
    // replays the draw), so pair work is constant at any corpus size —
    // the round-8 fixed-RATE spelling was (0.3·n)², quadratic.
    Q("q_ext_cos_histogram", (s, dir) =>
      Drift.cosineHistogram(Tables.embeddings(s, dir), "vec_id",
        "embedding", maxSample = 512, bins = 20),
      oracle = Some({
        s"""WITH sm AS (
           |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings
           |  ORDER BY md5('geo' || CAST(vec_id AS VARCHAR)), vec_id
           |  LIMIT 512),
           |p AS (
           |  SELECT round(list_cosine_similarity(a.v, b.v), 6) AS cos
           |  FROM sm a JOIN sm b ON a.id < b.id),
           |bb AS (
           |  SELECT CAST(least(greatest(floor((cos + 1.0) / 2.0 * 20), 0), 19)
           |           AS BIGINT) AS bin,
           |         CAST(cos AS DECIMAL(18,6)) AS c
           |  FROM p)
           |SELECT bin, count(*) AS n_pairs,
           |       round(CAST(sum(c) AS DOUBLE) / count(*), 6) AS mean_cos
           |FROM bb GROUP BY 1""".stripMargin
      })),

    // Newman modularity of a partition of the link graph (community =
    // v mod 4 — the quality number for ANY community assignment, e.g.
    // the dedup-cluster closure's output).
    Q("q_ext_modularity", (s, dir) => {
      val e = Tables.events(s, dir)
        .selectExpr("user_id % 40 AS src", "event_id % 40 AS dst")
        .filter(col("src") =!= col("dst")).distinct()
      val mem = e.select(col("src").as("v"))
        .union(e.select(col("dst").as("v"))).distinct()
        .withColumn("community", col("v") % 4)
      Graph.modularity(e, mem)
    },
      oracle = Some(
        """WITH edges AS (
          |  SELECT DISTINCT user_id % 40 AS src, event_id % 40 AS dst
          |  FROM events WHERE user_id % 40 <> event_id % 40),
          |nodes AS (SELECT src AS v FROM edges UNION SELECT dst FROM edges),
          |mem AS (SELECT v, v % 4 AS c FROM nodes),
          |m AS (SELECT count(*) AS m FROM edges),
          |t AS (
          |  SELECT ma.c AS ca, mb.c AS cb
          |  FROM edges e JOIN mem ma ON ma.v = e.src
          |  JOIN mem mb ON mb.v = e.dst),
          |ein AS (SELECT ca AS community, count(*) AS e_in FROM t
          |        WHERE ca = cb GROUP BY 1),
          |deg AS (
          |  SELECT v, count(*) AS d FROM (
          |    SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges)
          |  GROUP BY 1),
          |dt AS (
          |  SELECT mem.c AS community, CAST(sum(d) AS BIGINT) AS d_tot,
          |         count(*) AS n_vertices
          |  FROM deg JOIN mem USING (v) GROUP BY 1)
          |SELECT dt.community, dt.n_vertices,
          |       CAST(coalesce(ein.e_in, 0) AS BIGINT) AS e_in, dt.d_tot,
          |       round(CAST(coalesce(ein.e_in, 0) AS DOUBLE) / m.m
          |         - (CAST(d_tot AS DOUBLE) / (2.0 * m.m))
          |           * (CAST(d_tot AS DOUBLE) / (2.0 * m.m)), 9)
          |         AS contribution
          |FROM dt LEFT JOIN ein USING (community), m""".stripMargin)),

    // Multi-source BFS hop levels on the link graph — reachability /
    // blast-radius in bounded min-relaxation rounds (no driver-side
    // frontier); oracle replays it as a bounded recursive CTE.
    Q("q_ext_bfs", (s, dir) => {
      import s.implicits._
      val e = Tables.events(s, dir)
        .selectExpr("user_id % 40 AS src", "event_id % 40 AS dst")
        .filter(col("src") =!= col("dst")).distinct()
      Graph.bfsLevels(e, Seq(0L, 7L).toDF("v"), maxHops = 4)
    },
      oracle = Some(
        """WITH RECURSIVE edges AS (
          |  SELECT DISTINCT user_id % 40 AS src, event_id % 40 AS dst
          |  FROM events WHERE user_id % 40 <> event_id % 40),
          |walk(v, level) AS (
          |  SELECT CAST(v AS BIGINT), CAST(level AS BIGINT)
          |  FROM (VALUES (0, 0), (7, 0)) t(v, level)
          |  UNION
          |  SELECT e.dst, w.level + 1
          |  FROM walk w JOIN edges e ON e.src = w.v
          |  WHERE w.level < 4)
          |SELECT v, CAST(min(level) AS BIGINT) AS level
          |FROM walk GROUP BY 1""".stripMargin)),

    // word2vec negative-sampling table: unigram^0.75 probabilities +
    // the cumulative distribution a sampler binary-searches; bounded
    // top-V heap + a broadcast triangular cumulation, never a window.
    Q("q_ext_neg_sampling", (s, dir) =>
      Vocab.negativeSamplingTable(Tables.documents(s, dir), "text",
        topV = 200),
      oracle = Some(
        """WITH toks AS (
          |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
          |  FROM documents),
          |c AS (SELECT term, count(*) AS n_occ FROM toks GROUP BY 1),
          |r AS (SELECT term, n_occ FROM c ORDER BY n_occ DESC, term
          |      LIMIT 200),
          |w AS (
          |  SELECT term, n_occ,
          |         CAST(round(pow(n_occ, 0.75), 9) AS DECIMAL(28,9)) AS w
          |  FROM r),
          |t AS (SELECT CAST(sum(w) AS DECIMAL(38,9)) AS tot FROM w),
          |cum AS (
          |  SELECT a.term, a.n_occ, a.w, CAST(sum(b.w) AS DECIMAL(38,9)) AS cw
          |  FROM w a JOIN w b
          |    ON (b.n_occ > a.n_occ OR (b.n_occ = a.n_occ AND b.term <= a.term))
          |  GROUP BY 1, 2, 3)
          |SELECT term, n_occ,
          |       round(CAST(w AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS p,
          |       round(CAST(cw AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS cum_p
          |FROM cum, t""".stripMargin)),

    // Vocabulary coverage curve: token mass covered by top-k vocabs —
    // the tokenizer-budget report, one corpus pass + one chunked
    // PrefixSum scan over the vocabulary (rank and cumulative mass
    // from the same scan; no unpartitioned window, no per-size rescan).
    Q("q_ext_vocab_coverage", (s, dir) =>
      Vocab.coverageCurve(Tables.documents(s, dir), "text",
        Seq(100, 1000, 5000)),
      oracle = Some(
        """WITH toks AS (
          |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
          |  FROM documents),
          |c AS (SELECT term, count(*) AS n_occ FROM toks GROUP BY 1),
          |r AS (
          |  SELECT term, n_occ,
          |         row_number() OVER (ORDER BY n_occ DESC, term) AS rank,
          |         sum(n_occ) OVER (ORDER BY n_occ DESC, term
          |           ROWS UNBOUNDED PRECEDING) AS cum
          |  FROM c),
          |t AS (SELECT CAST(sum(n_occ) AS BIGINT) AS total,
          |             count(*) AS n_types
          |      FROM c),
          |s AS (SELECT CAST(unnest([100, 1000, 5000]) AS BIGINT)
          |        AS vocab_size)
          |SELECT s.vocab_size, CAST(r.rank AS BIGINT) AS k_actual,
          |       t.n_types, CAST(r.cum AS BIGINT) AS covered, t.total,
          |       round(CAST(r.cum AS DOUBLE) / t.total, 6) AS coverage
          |FROM s, t, r WHERE r.rank = least(s.vocab_size, t.n_types)""".stripMargin)),

    // Directed association rules (confidence + lift over independence)
    // from the a-priori frequent pairs — the actionable form of the
    // co-occurrence counts; singleton-df table broadcast by the same
    // support bound that makes the frequent set small.
    Q("q_ext_assoc_rules", (s, dir) =>
      Itemsets.associationRules(Tables.documents(s, dir), "doc_id", "text",
        minSupport = 100L),
      oracle = Some(
        """WITH toks AS (
          |  SELECT DISTINCT doc_id AS id,
          |         unnest(string_split_regex(lower(text), '[^a-z]+')) AS t
          |  FROM documents),
          |tt AS (SELECT id, t FROM toks WHERE t <> ''),
          |dfs AS (SELECT t, count(*) AS df FROM tt GROUP BY 1
          |        HAVING count(*) >= 100),
          |ft AS (SELECT tt.id, tt.t FROM tt JOIN dfs ON dfs.t = tt.t),
          |p AS (
          |  SELECT x.t AS t1, y.t AS t2, count(*) AS pair_df
          |  FROM ft x JOIN ft y ON y.id = x.id AND x.t < y.t
          |  GROUP BY 1, 2 HAVING count(*) >= 100),
          |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
          |d AS (SELECT t1 AS antecedent, t2 AS consequent, pair_df FROM p
          |      UNION ALL
          |      SELECT t2, t1, pair_df FROM p)
          |SELECT antecedent, consequent, pair_df,
          |       a.df AS df_a, c.df AS df_c,
          |       round(CAST(pair_df AS DOUBLE) / a.df, 6) AS confidence,
          |       round(CAST(pair_df AS DOUBLE) * n_docs
          |         / (CAST(a.df AS DOUBLE) * c.df), 6) AS lift
          |FROM d JOIN dfs a ON a.t = d.antecedent
          |JOIN dfs c ON c.t = d.consequent, nd""".stripMargin)),

    // In/out degrees of the same link graph — the cheap companion
    // report (full outer merge keeps source-only and sink-only nodes).
    Q("q_ext_graph_degrees", (s, dir) => {
      val e = Tables.events(s, dir)
        .selectExpr("user_id % 40 AS src", "event_id % 40 AS dst")
        .filter(col("src") =!= col("dst")).distinct()
      Graph.degrees(e)
    },
      oracle = Some(
        """WITH edges AS (
          |  SELECT DISTINCT user_id % 40 AS src, event_id % 40 AS dst
          |  FROM events WHERE user_id % 40 <> event_id % 40),
          |o AS (SELECT src AS v, count(*) AS out_deg FROM edges GROUP BY 1),
          |i AS (SELECT dst AS v, count(*) AS in_deg FROM edges GROUP BY 1)
          |SELECT coalesce(o.v, i.v) AS v,
          |       coalesce(out_deg, 0) AS out_deg,
          |       coalesce(in_deg, 0) AS in_deg
          |FROM o FULL OUTER JOIN i ON o.v = i.v""".stripMargin)),

    // Preference-pair assembly (DPO shaping): best/worst scored
    // response per prompt in ONE map-side-combined aggregate; prompts
    // with zero margin dropped. The oracle rebuilds the identical
    // pairs with two ranked windows.
    Q("q_ext_preference_pairs", (s, dir) =>
      Assembly.preferencePairs(
          Tables.events(s, dir), "user_id", "event_id", "event_type", "value")
        .withColumn("margin",
          round(col("chosen_score") - col("rejected_score"), 6)),
      oracle = Some(
        """WITH ranked AS (
          |  SELECT user_id, event_id, event_type, value,
          |    count(*) OVER (PARTITION BY user_id) AS n_candidates,
          |    row_number() OVER (PARTITION BY user_id
          |                       ORDER BY value DESC, event_id DESC) AS rk_top,
          |    row_number() OVER (PARTITION BY user_id
          |                       ORDER BY value ASC, event_id ASC) AS rk_bot
          |  FROM events),
          |top AS (SELECT user_id, n_candidates, event_id AS chosen_id,
          |               event_type AS chosen, value AS chosen_score
          |        FROM ranked WHERE rk_top = 1),
          |bot AS (SELECT user_id, event_id AS rejected_id,
          |               event_type AS rejected, value AS rejected_score
          |        FROM ranked WHERE rk_bot = 1)
          |SELECT t.user_id AS prompt_id, t.n_candidates,
          |       chosen_id, chosen, chosen_score,
          |       rejected_id, rejected, rejected_score,
          |       round(chosen_score - rejected_score, 6) AS margin
          |FROM top t JOIN bot b ON t.user_id = b.user_id
          |WHERE chosen_score > rejected_score""".stripMargin)),

    // Line-level boilerplate strip (jusText-lite): documents augmented
    // with known nav/footer lines, then audited — the oracle replays
    // the identical predicate inside DuckDB's list_filter.
    Q("q_ext_boilerplate", (s, dir) => {
      val aug = array_join(array(
        col("text"),
        lit("Home | About | Contact"),
        concat(lit("Copyright 2024 "), col("source")),
        when(col("doc_id") % 2 === 0, lit("Subscribe | Newsletter | RSS"))
          .otherwise(lit("This sentence definitely has more than five words.")),
        concat(lit("doc "), col("doc_id"))), "\n")
      Tables.documents(s, dir)
        .select(col("doc_id"), TextStats.boilerplateAudit(aug).as("a"))
        .select(col("doc_id"),
          col("a")("n_lines").cast("long").as("n_lines"),
          col("a")("n_boiler").cast("long").as("n_boiler"),
          col("a")("clean_text").as("clean_text"))
    },
      oracle = Some(
        """WITH aug AS (
          |  SELECT doc_id, concat_ws(chr(10), text,
          |    'Home | About | Contact',
          |    'Copyright 2024 ' || source,
          |    CASE WHEN doc_id % 2 = 0 THEN 'Subscribe | Newsletter | RSS'
          |         ELSE 'This sentence definitely has more than five words.' END,
          |    'doc ' || doc_id) AS t
          |  FROM documents)
          |SELECT doc_id,
          |  len(str_split(t, chr(10))) AS n_lines,
          |  len(list_filter(str_split(t, chr(10)), x ->
          |    len(regexp_split_to_array(trim(x), '\s+')) < 5
          |    OR length(trim(x)) - length(replace(trim(x), '|', '')) >= 2
          |    OR contains(lower(trim(x)), 'copyright')
          |    OR contains(lower(trim(x)), 'all rights reserved')
          |    OR contains(lower(trim(x)), 'privacy policy')
          |    OR contains(lower(trim(x)), 'terms of')
          |    OR contains(lower(trim(x)), 'cookie'))) AS n_boiler,
          |  array_to_string(list_filter(str_split(t, chr(10)), x -> NOT (
          |    len(regexp_split_to_array(trim(x), '\s+')) < 5
          |    OR length(trim(x)) - length(replace(trim(x), '|', '')) >= 2
          |    OR contains(lower(trim(x)), 'copyright')
          |    OR contains(lower(trim(x)), 'all rights reserved')
          |    OR contains(lower(trim(x)), 'privacy policy')
          |    OR contains(lower(trim(x)), 'terms of')
          |    OR contains(lower(trim(x)), 'cookie'))), chr(10)) AS clean_text
          |FROM aug""".stripMargin)),

    // Source-overlap matrix over a corpus with a deliberately
    // duplicated slice (the raw fixture has no cross-source dups):
    // every doc labeled s(id%3), every 5th doc ALSO labeled with the
    // next pseudo-source — guaranteed pairwise overlap whose Jaccard /
    // containment the oracle recomputes from the same fingerprints.
    Q("q_ext_source_overlap", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val base = docs.select(
        concat(lit("s"), col("doc_id") % 3).as("src"), col("text"))
      val dup = docs.filter(col("doc_id") % 5 === 0).select(
        concat(lit("s"), (col("doc_id") + 1) % 3).as("src"), col("text"))
      Dedup.sourceOverlap(base.unionAll(dup), "text", "src")
    },
      oracle = Some(
        """WITH corpus AS (
          |  SELECT 's' || (doc_id % 3) AS src, text FROM documents
          |  UNION ALL
          |  SELECT 's' || ((doc_id + 1) % 3) AS src, text FROM documents
          |  WHERE doc_id % 5 = 0),
          |sets AS (
          |  SELECT DISTINCT src AS source,
          |    substring(md5(lower(trim(regexp_replace(
          |      regexp_replace(text, '[^\p{L}\p{N}\s]', ' ', 'g'),
          |      '\s+', ' ', 'g')))), 1, 16) AS fp
          |  FROM corpus),
          |sizes AS (SELECT source, count(*) AS n_fp FROM sets GROUP BY 1),
          |inter AS (
          |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
          |  FROM sets a JOIN sets b ON a.fp = b.fp AND a.source < b.source
          |  GROUP BY 1, 2)
          |SELECT source_a, source_b, sa.n_fp AS n_a, sb.n_fp AS n_b, n_common,
          |  round(n_common * 1.0 / (sa.n_fp + sb.n_fp - n_common), 6) AS jaccard,
          |  round(n_common * 1.0 / least(sa.n_fp, sb.n_fp), 6) AS containment
          |FROM inter
          |JOIN sizes sa ON sa.source = source_a
          |JOIN sizes sb ON sb.source = source_b""".stripMargin)),

    // Compression-ratio quality signal: no SQL engine exposes deflate,
    // so the gate is (a) per-doc CONTRACTS the oracle pins as constant
    // booleans — doubling a text within the 32KB window must compress
    // better than 2x, the length is bounded by raw+overhead, and pure
    // repetition must land below prose — plus (b) the pinned-fixture
    // query below.
    Q("q_ext_compress_contract", (s, dir) => {
      val d1 = TextStats.deflateLength(col("text"))
      val d2 = TextStats.deflateLength(concat(col("text"), col("text")))
      val rep = concat_ws(" ", array_repeat(lit("spark"), 60))
      Tables.documents(s, dir).select(
        col("doc_id"),
        (d2 < d1 * 2).cast("long").as("doubling_compresses"),
        (d1 > 0 && d1 <= octet_length(col("text")) + 64).cast("long").as("bounded"),
        (TextStats.compressionRatio(rep) < TextStats.compressionRatio(col("text")))
          .cast("long").as("repetition_lower"))
    },
      oracle = Some(
        """SELECT doc_id, CAST(1 AS BIGINT) AS doubling_compresses,
          |       CAST(1 AS BIGINT) AS bounded,
          |       CAST(1 AS BIGINT) AS repetition_lower
          |FROM documents""".stripMargin)),

    // Deflate lengths of four constructed strings vs values pinned at
    // build time (the q_ext_multimodal_decode pattern): JDK zlib at a
    // fixed level is deterministic, so drift means the operator — or
    // the platform — changed.
    Q("q_ext_compress_pinned", (s, dir) => {
      import s.implicits._
      Seq(
        ("a100", "a" * 100),
        ("ab50", "ab" * 50),
        ("pangram", "the quick brown fox jumps over the lazy dog"),
        ("digits", "0123456789"))
        .toDF("name", "str")
        .select(col("name"),
          TextStats.deflateLength(col("str")).cast("long").as("deflate_len"))
    },
      // Values measured from the committed operator (JDK zlib, level 6,
      // raw stream); see CompressSpec which pins the same numbers.
      oracle = Some(
        """SELECT name, CAST(deflate_len AS BIGINT) AS deflate_len FROM (VALUES
          |  ('a100', 6), ('ab50', 7), ('pangram', 44), ('digits', 12))
          |AS t(name, deflate_len)""".stripMargin)),

    // Deterministic global training shuffle: hash-sharded, hash-ordered
    // export written and read back; the oracle recomputes each shard's
    // membership AND its (hash, id) order digest from the raw table
    // with the same portable arithmetic. (The order digest collects
    // ids per shard — gate-sized work; the export itself never does.)
    Q("q_ext_shuffle_export", (s, dir) => {
      val out = scratchDir(s, "g_docs_shuffled", dir)
      graft.io.Layout.writeShuffled(
        Tables.documents(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id", "ep0", 8, out)
      graft.io.Parquet.read(s, out)
        .withColumn("h", Sampling.hashHex(col("doc_id"), "ep0"))
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(
          count(lit(1)).as("n_docs"),
          min(col("h")).as("min_h"),
          max(col("h")).as("max_h"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("h"), col("doc_id")))),
            x => x("doc_id").cast("string")), ",")).as("order_digest"))
    },
      oracle = Some(
        s"""WITH h AS (
           |  SELECT doc_id,
           |    ${graft.io.Layout.shardIdSql("doc_id", 8)} AS shard,
           |    substring(md5('ep0' || CAST(doc_id AS VARCHAR)), 1, 8) AS hh
           |  FROM documents)
           |SELECT shard, count(*) AS n_docs, min(hh) AS min_h, max(hh) AS max_h,
           |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY hh, doc_id))
           |    AS order_digest
           |FROM h GROUP BY 1""".stripMargin)),

    // BPE decode under the same pinned vocab as the encoder. The mini
    // tokenizer has no whitespace tokens, so the oracle-gated
    // round-trip contract is decode(encode(text)) == text minus
    // spaces (the corpus is [a-z ]-only: no UNK ids involved).
    Q("q_ext_bpe_decode", (s, dir) => {
      val decoded = graft.functions.Bpe.bpeDecode(
        graft.functions.Bpe.bpeEncode(col("text")))
      Tables.documents(s, dir).select(
        col("doc_id"),
        (decoded === replace(col("text"), lit(" "), lit("")))
          .cast("long").as("round_trip"),
        length(decoded).cast("long").as("n_chars_decoded"))
    },
      oracle = Some(
        """SELECT doc_id, CAST(1 AS BIGINT) AS round_trip,
          |       length(replace(text, ' ', '')) AS n_chars_decoded
          |FROM documents""".stripMargin)),

    // T5-style span corruption: grid-aligned 3-token blocks, ~20% of
    // blocks masked by a salted (id, block) hash — the oracle rebuilds
    // input/target/counts with the identical arithmetic over DuckDB
    // lists.
    Q("q_ext_span_corrupt", (s, dir) =>
      Assembly.spanCorrupt(Tables.documents(s, dir), "doc_id", "text",
        spanLen = 3, rateHex = "33333333", salt = "sc"),
      oracle = Some(
        """WITH b AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks,
          |         greatest(CAST(ceil(len(regexp_split_to_array(trim(text), '\s+')) / 3.0)
          |                       AS INT), 1) AS nb
          |  FROM documents)
          |SELECT doc_id,
          |  array_to_string(list_transform(range(0, nb), i ->
          |    CASE WHEN substring(md5('sc' || doc_id || '-' || i), 1, 8) < '33333333'
          |         THEN '<extra_id_' || i || '>'
          |         ELSE array_to_string(toks[i*3+1 : i*3+3], ' ') END), ' ')
          |    AS input_text,
          |  coalesce(array_to_string(list_filter(list_transform(range(0, nb), i ->
          |    CASE WHEN substring(md5('sc' || doc_id || '-' || i), 1, 8) < '33333333'
          |         THEN '<extra_id_' || i || '> ' ||
          |              array_to_string(toks[i*3+1 : i*3+3], ' ')
          |         ELSE NULL END), x -> x IS NOT NULL), ' '), '') AS target_text,
          |  len(list_filter(range(0, nb), i ->
          |    substring(md5('sc' || doc_id || '-' || i), 1, 8) < '33333333'))
          |    AS n_masked,
          |  CAST(nb AS BIGINT) AS n_blocks
          |FROM b""".stripMargin)),

    // Leakage-safe split: hash the GROUP key (source), not the row id,
    // so every doc of a correlated group lands in ONE split — the
    // constructive fix for what q_ext_split_leakage measures.
    Q("q_ext_group_split", (s, dir) =>
      Sampling.assignSplit(Tables.documents(s, dir), "source",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "gs")
        .select(col("doc_id"), col("source"), col("split")),
      oracle = Some({
        val (t80, t90) = (Sampling.rateThreshold(0.8), Sampling.rateThreshold(0.9))
        s"""SELECT doc_id, source,
           |  CASE WHEN h < '$t80' THEN 'train'
           |       WHEN h < '$t90' THEN 'val' ELSE 'test' END AS split
           |FROM (SELECT doc_id, source,
           |        substring(md5('gs' || source), 1, 8) AS h
           |      FROM documents)""".stripMargin
      })),

    // Unicode NFC normalization: docs augmented with DECOMPOSED
    // sequences (e + combining acute, u + combining diaeresis); the
    // JDK normalizer and DuckDB's nfc_normalize implement the same
    // Unicode standard, so text, lengths, and the changed flag gate
    // hash-exact. NFKC (DuckDB has no nfkc) gates as a pinned
    // ligature/fullwidth folding contract.
    Q("q_ext_unicode_nfc", (s, dir) => {
      val aug = concat(col("text"), lit(" cafe\u0301 u\u0308ber"))
      val nfc = TextStats.nfcNormalize(aug)
      Tables.documents(s, dir).select(
        col("doc_id"),
        nfc.as("nfc_text"),
        length(aug).cast("long").as("n_before"),
        length(nfc).cast("long").as("n_after"),
        (nfc =!= aug).cast("long").as("changed"),
        (TextStats.nfkcNormalize(lit("\ufb01 \uff11\uff12\uff13")) === lit("fi 123"))
          .cast("long").as("nfkc_folds"))
    },
      oracle = Some(
        """WITH a AS (
          |  SELECT doc_id,
          |         text || ' cafe' || chr(769) || ' u' || chr(776) || 'ber' AS t
          |  FROM documents)
          |SELECT doc_id, nfc_normalize(t) AS nfc_text,
          |  length(t) AS n_before, length(nfc_normalize(t)) AS n_after,
          |  CAST(nfc_normalize(t) <> t AS BIGINT) AS changed,
          |  CAST(1 AS BIGINT) AS nfkc_folds
          |FROM a""".stripMargin)),

    // Interpolated-bigram LM scoring (the word-order-aware upgrade of
    // q_ext_perplexity's unigram model): train on 90% of docs, score
    // all; bigram table joins on the gram key (shuffle — never
    // broadcast at corpus scale), unigram context/fallback broadcasts.
    Q("q_ext_bigram_lm", (s, dir) => {
      val docs = Tables.documents(s, dir)
      LangModel.scoreBigramInterpolated(
          docs, "doc_id", "text",
          docs.filter(col("doc_id") % 10 =!= 0), lambda = 0.7)
        .withColumnRenamed("id", "doc_id")
    },
      oracle = Some(
        """WITH tr AS (
          |  SELECT regexp_split_to_array(trim(text), '\s+') AS t
          |  FROM documents WHERE doc_id % 10 <> 0),
          |cu AS (SELECT term, count(*) AS c
          |       FROM (SELECT unnest(t) AS term FROM tr) GROUP BY 1),
          |tt AS (SELECT CAST(sum(c) AS BIGINT) AS n_total, count(*) AS v_size FROM cu),
          |bc AS (SELECT gram, count(*) AS c12 FROM (
          |         SELECT unnest(list_transform(range(1, len(t)),
          |                i -> t[i] || ' ' || t[i+1])) AS gram
          |         FROM tr WHERE len(t) >= 2) GROUP BY 1),
          |dt AS (SELECT doc_id,
          |         unnest(list_transform(range(1, len(t)),
          |                i -> t[i] || ' ' || t[i+1])) AS gram
          |       FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
          |             FROM documents)
          |       WHERE len(t) >= 2),
          |j AS (
          |  SELECT doc_id,
          |    round(ln(0.7 * ((coalesce(bc.c12, 0) + 1) * 1.0
          |                    / (coalesce(c1.c, 0) + tt.v_size))
          |           + (1.0 - 0.7) * ((coalesce(c2.c, 0) + 1) * 1.0
          |                    / (tt.n_total + tt.v_size))), 8) AS lp,
          |    CASE WHEN bc.gram IS NULL THEN 1 ELSE 0 END AS unseen
          |  FROM dt
          |  LEFT JOIN bc ON dt.gram = bc.gram
          |  LEFT JOIN cu c1 ON c1.term = split_part(dt.gram, ' ', 1)
          |  LEFT JOIN cu c2 ON c2.term = split_part(dt.gram, ' ', 2), tt)
          |SELECT doc_id, count(*) AS n_bigrams,
          |  CAST(sum(unseen) AS BIGINT) AS n_unseen_bigrams,
          |  round(CAST(sum(CAST(lp AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6)
          |    AS avg_interp_logprob
          |FROM j GROUP BY 1""".stripMargin)),

    // Duplicate-cluster SIZE histogram — the dedup planning report
    // (how much mass sits in big clusters decides canonical-keep
    // strategy); composes the alternating-star closure with two
    // partial aggs.
    Q("q_ext_cluster_sizes", (s, dir) => {
      val pairs = Dedup.wordJaccardPairs(
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 0),
        "doc_id", "text", 0.8)
      Clusters.connectedComponents(pairs, "id_a", "id_b")
        .groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
    },
      oracle = Some(
        """WITH RECURSIVE words AS (
          |  SELECT DISTINCT doc_id AS id,
          |         unnest(regexp_split_to_array(trim(text), '\s+')) AS w
          |  FROM documents WHERE doc_id % 10 = 0),
          |sizes AS (SELECT id, count(*) AS sz FROM words GROUP BY 1),
          |inter AS (
          |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS cnt
          |  FROM words a JOIN words b ON a.w = b.w AND a.id < b.id
          |  GROUP BY 1, 2),
          |pairs AS (
          |  SELECT id_a, id_b FROM inter
          |  JOIN sizes sa ON sa.id = id_a
          |  JOIN sizes sb ON sb.id = id_b
          |  WHERE cnt * 1.0 / (sa.sz + sb.sz - cnt) >= 0.8),
          |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          |          UNION SELECT id_b, id_a FROM pairs),
          |reach(node, r) AS (
          |  SELECT a, a FROM edges
          |  UNION
          |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a),
          |memb AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
          |cs AS (SELECT cluster, count(*) AS sz FROM memb GROUP BY 1)
          |SELECT sz AS cluster_size, count(*) AS n_clusters
          |FROM cs GROUP BY 1""".stripMargin)),

    // Per-script character profile (the writing-system router a
    // multilingual crawl applies before language ID): counts from
    // replace-length arithmetic over Unicode script classes; the
    // oracle respells Java's \p{IsHan} as RE2's \p{Han}.
    Q("q_ext_script_profile", (s, dir) => {
      val aug = concat(col("text"), lit(" " + Cjk + " " + Cyr + " 123"))
      Tables.documents(s, dir)
        .select(col("doc_id"), TextStats.scriptProfile(aug).as("p"))
        .select(col("doc_id"), col("p.n_latin"), col("p.n_han"),
          col("p.n_cyrillic"), col("p.n_digit"), col("p.n_space"),
          col("p.n_other"), col("p.dominant_script"))
    },
      oracle = Some(
        ("""WITH a AS (SELECT doc_id, text || ' """ + Cjk + " " + Cyr +
          """ 123' AS t FROM documents),
            |c AS (SELECT doc_id, t,
            |  length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g')) AS n_latin,
            |  length(t) - length(regexp_replace(t, '\p{Han}', '', 'g')) AS n_han,
            |  length(t) - length(regexp_replace(t, '\p{Cyrillic}', '', 'g')) AS n_cyrillic,
            |  length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS n_digit,
            |  length(t) - length(regexp_replace(t, '\s', '', 'g')) AS n_space
            |  FROM a)
            |SELECT doc_id, n_latin, n_han, n_cyrillic, n_digit, n_space,
            |  length(t) - n_latin - n_han - n_cyrillic - n_digit - n_space AS n_other,
            |  CASE WHEN greatest(n_latin, n_han, n_cyrillic) = 0 THEN 'none'
            |       WHEN n_latin = greatest(n_latin, n_han, n_cyrillic) THEN 'latin'
            |       WHEN n_han = greatest(n_latin, n_han, n_cyrillic) THEN 'han'
            |       ELSE 'cyrillic' END AS dominant_script
            |FROM c""").stripMargin)),

    // Bradley-Terry strength fit over pairwise preferences (the
    // reward-modeling aggregation): per-user item comparisons on
    // decimal-exact mean value -> two MM iterations. The vote log is
    // reduced to pair counts in one pass; iterations touch only the
    // item-sized strengths table (broadcast).
    Q("q_ext_bradley_terry", (s, dir) => {
      val cmp = Ranking.pairwiseComparisons(
        Tables.events(s, dir), "user_id", "event_type", "value")
      Ranking.bradleyTerry(cmp, "winner", "loser", iterations = 2)
    },
      oracle = Some(
        """WITH per AS (
          |  SELECT user_id AS g, event_type AS item,
          |         sum(CAST(round(value, 6) AS DECIMAL(28,10))) AS s,
          |         count(*) AS c
          |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
          |cmp AS (
          |  SELECT CASE WHEN ma > mb THEN item_a ELSE item_b END AS winner,
          |         CASE WHEN ma > mb THEN item_b ELSE item_a END AS loser
          |  FROM (SELECT a.item AS item_a, b.item AS item_b,
          |          round(CAST(a.s AS DOUBLE) / a.c, 9) AS ma,
          |          round(CAST(b.s AS DOUBLE) / b.c, 9) AS mb
          |        FROM per a JOIN per b ON a.g = b.g AND a.item < b.item)
          |  WHERE ma <> mb),
          |directed AS (SELECT winner AS i, loser AS j, count(*) AS w
          |             FROM cmp GROUP BY 1, 2),
          |nij AS (SELECT i, j, sum(w) AS n_ij FROM (
          |          SELECT i, j, w FROM directed
          |          UNION ALL SELECT j, i, w FROM directed) GROUP BY 1, 2),
          |wins AS (SELECT i, j, sum(wij) AS wins_ij FROM (
          |          SELECT i, j, w AS wij FROM directed
          |          UNION ALL SELECT j, i, 0 FROM directed) GROUP BY 1, 2),
          |pairs AS (SELECT w.i, w.j, w.wins_ij, n.n_ij
          |          FROM wins w JOIN nij n ON w.i = n.i AND w.j = n.j),
          |s0 AS (SELECT i AS item, CAST(sum(wins_ij) AS BIGINT) AS n_wins,
          |              CAST(sum(n_ij) AS BIGINT) AS n_comparisons, 1.0 AS p
          |       FROM pairs GROUP BY 1),
          |d1 AS (SELECT p.i AS item,
          |         CAST(sum(CAST(round(p.n_ij / (si.p + sj.p), 12)
          |                       AS DECIMAL(28,14))) AS DOUBLE) AS denom
          |       FROM pairs p JOIN s0 si ON si.item = p.i
          |                    JOIN s0 sj ON sj.item = p.j GROUP BY 1),
          |s1 AS (SELECT s0.item, n_wins, n_comparisons,
          |              round(n_wins / denom, 9) AS p
          |       FROM s0 JOIN d1 ON s0.item = d1.item),
          |d2 AS (SELECT p.i AS item,
          |         CAST(sum(CAST(round(p.n_ij / (si.p + sj.p), 12)
          |                       AS DECIMAL(28,14))) AS DOUBLE) AS denom
          |       FROM pairs p JOIN s1 si ON si.item = p.i
          |                    JOIN s1 sj ON sj.item = p.j GROUP BY 1),
          |s2 AS (SELECT s1.item, n_wins, n_comparisons,
          |              round(n_wins / denom, 9) AS p
          |       FROM s1 JOIN d2 ON s1.item = d2.item)
          |SELECT item, n_wins, n_comparisons, round(p, 6) AS strength
          |FROM s2""".stripMargin)),

    // Hybrid retrieval by reciprocal-rank fusion: BM25 top-10 fused
    // with coordination-level (term-overlap) top-10 — two incomparable
    // scorers merged rank-wise, the standard hybrid-search shape.
    Q("q_ext_rrf", (s, dir) => {
      import s.implicits._
      val queries = Seq(
        "q1" -> "spark", "q1" -> "join", "q1" -> "window",
        "q2" -> "customer", "q2" -> "order", "q2" -> "value",
        "q3" -> "fast", "q3" -> "slow", "q3" -> "filter", "q3" -> "scan")
        .toDF("query_id", "term")
      val docs = Tables.documents(s, dir)
      Search.rrfFuse(Seq(
        Search.bm25TopK(docs, "doc_id", "text", queries, 10)
          .drop("score"),
        Search.termOverlapTopK(docs, "doc_id", "text", queries, 10)
          .drop("n_matched")), k = 10)
    },
      oracle = Some(
        """WITH docs AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
          |  FROM documents),
          |stats AS (
          |  SELECT count(*) * 1.0 AS n_docs, avg(len(words) * 1.0) AS avgdl
          |  FROM docs),
          |qt AS (SELECT * FROM (VALUES
          |  ('q1', 'spark'), ('q1', 'join'), ('q1', 'window'),
          |  ('q2', 'customer'), ('q2', 'order'), ('q2', 'value'),
          |  ('q3', 'fast'), ('q3', 'slow'), ('q3', 'filter'), ('q3', 'scan'))
          |  AS t(query_id, term)),
          |postings AS (
          |  SELECT doc_id, len(words) * 1.0 AS dl, unnest(words) AS term
          |  FROM docs),
          |tf AS (
          |  SELECT doc_id, term, dl, count(*) AS tf FROM postings
          |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2, 3),
          |dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
          |contrib AS (
          |  SELECT t.doc_id, t.term,
          |         round(ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
          |               * (t.tf * (1.2 + 1.0))
          |               / (t.tf + 1.2 * (0.25 + (t.dl / avgdl) * 0.75)),
          |               7) AS c
          |  FROM tf t JOIN dfreq USING (term), stats),
          |bm25 AS (
          |  SELECT q.query_id, c.doc_id, round(sum(c.c), 4) AS score
          |  FROM contrib c JOIN qt q USING (term) GROUP BY 1, 2),
          |bm25r AS (
          |  SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
          |    ORDER BY score DESC, doc_id) AS rank FROM bm25),
          |ov AS (
          |  SELECT qt.query_id, p.doc_id, count(*) AS n_matched
          |  FROM (SELECT DISTINCT doc_id, term FROM postings
          |        WHERE term IN (SELECT DISTINCT term FROM qt)) p
          |  JOIN qt ON p.term = qt.term GROUP BY 1, 2),
          |ovr AS (
          |  SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
          |    ORDER BY n_matched DESC, doc_id) AS rank FROM ov),
          |fused AS (
          |  SELECT query_id, doc_id, count(*) AS n_lists,
          |    round(CAST(sum(CAST(round(1.0 / (60 + rank), 10)
          |          AS DECIMAL(28,12))) AS DOUBLE), 8) AS rrf_score
          |  FROM (SELECT * FROM bm25r WHERE rank <= 10
          |        UNION ALL SELECT * FROM ovr WHERE rank <= 10)
          |  GROUP BY 1, 2)
          |SELECT query_id, doc_id,
          |  row_number() OVER (PARTITION BY query_id
          |    ORDER BY rrf_score DESC, doc_id) AS rank,
          |  rrf_score, n_lists
          |FROM fused
          |QUALIFY rank <= 10""".stripMargin)),

    // Sliding context->target training examples from event sequences
    // (the next-item example generator): 3 preceding labels per target,
    // full windows only.
    Q("q_ext_seq_pairs", (s, dir) =>
      Assembly.nextEventExamples(
        Tables.events(s, dir), "user_id", "ts", "event_id", "event_type",
        contextLen = 3),
      oracle = Some(
        """WITH w AS (
          |  SELECT user_id AS entity_id, event_id AS target_id,
          |         event_type AS target,
          |         list(event_type) OVER (PARTITION BY user_id
          |           ORDER BY ts, event_id
          |           ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS ctx
          |  FROM events)
          |SELECT entity_id, target_id, array_to_string(ctx, ' ') AS context,
          |       target
          |FROM w WHERE len(ctx) = 3""".stripMargin)),

    // Wide->long melt of per-row metrics (Dataset.unpivot): the
    // relational reshape feeding per-metric aggregation/plotting.
    Q("q_ext_unpivot", (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 50 === 0)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "value"),
      oracle = Some(
        """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
          |       l_quantity AS value
          |FROM lineitem WHERE l_orderkey % 50 = 0
          |UNION ALL
          |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
          |FROM lineitem WHERE l_orderkey % 50 = 0
          |UNION ALL
          |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
          |FROM lineitem WHERE l_orderkey % 50 = 0
          |UNION ALL
          |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
          |FROM lineitem WHERE l_orderkey % 50 = 0""".stripMargin)),

    // Good-Turing coverage: unseen-vocabulary mass + adjusted hapax
    // count from the frequency spectrum — one token agg to one row.
    Q("q_ext_good_turing", (s, dir) =>
      Vocab.goodTuring(Tables.documents(s, dir), "text"),
      oracle = Some(
        """WITH tc AS (
          |  SELECT term, count(*) AS c FROM (
          |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
          |    FROM documents) GROUP BY 1),
          |sp AS (
          |  SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
          |         count(*) AS vocab_size,
          |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |           AS n_hapax,
          |         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
          |           AS n_dis
          |  FROM tc)
          |SELECT n_tokens, vocab_size, n_hapax, n_dis,
          |  CASE WHEN n_tokens > 0
          |       THEN round(CAST(n_hapax AS DOUBLE) / n_tokens, 6)
          |       ELSE 0.0 END AS p_unseen,
          |  CASE WHEN n_hapax > 0
          |       THEN round(2.0 * n_dis / n_hapax, 6)
          |       ELSE 0.0 END AS r1_star
          |FROM sp""".stripMargin)),

    // Per-source exact-k deterministic sample (hash order statistic,
    // not a rate): every source contributes exactly min(k, size).
    Q("q_ext_stratified_k", (s, dir) =>
      Sampling.stratifiedK(Tables.documents(s, dir), "source", "doc_id",
          k = 10, salt = "ek")
        .select(col("doc_id"), col("source")),
      oracle = Some(
        """SELECT doc_id, source FROM (
          |  SELECT doc_id, source,
          |    row_number() OVER (PARTITION BY source
          |      ORDER BY substring(md5('ek' || CAST(doc_id AS VARCHAR)), 1, 8),
          |               doc_id) AS rk
          |  FROM documents)
          |WHERE rk <= 10""".stripMargin)),

    // Per-doc n-gram novelty vs a frozen reference corpus (docs
    // 0 mod 10): md5-folded shingles, only fixed-width keys shuffle.
    Q("q_ext_novelty", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.ngramNovelty(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 8)
        .withColumnRenamed("id", "doc_id")
    },
      oracle = Some(
        """WITH cand AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
          |  FROM documents WHERE doc_id % 10 <> 0),
          |ref AS (
          |  SELECT regexp_split_to_array(trim(text), '\s+') AS t
          |  FROM documents WHERE doc_id % 10 = 0),
          |refk AS (
          |  SELECT DISTINCT substring(md5(gram), 1, 16) AS gk FROM (
          |    SELECT unnest(list_transform(range(1, len(t) - 8 + 2),
          |           i -> array_to_string(t[i:i+7], ' '))) AS gram
          |    FROM ref WHERE len(t) >= 8)),
          |candk AS (
          |  SELECT DISTINCT doc_id, substring(md5(gram), 1, 16) AS gk FROM (
          |    SELECT doc_id,
          |           unnest(list_transform(range(1, len(t) - 8 + 2),
          |           i -> array_to_string(t[i:i+7], ' '))) AS gram
          |    FROM cand WHERE len(t) >= 8))
          |SELECT c.doc_id, count(*) AS n_shingles,
          |  CAST(sum(CASE WHEN r.gk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_novel,
          |  round(CAST(sum(CASE WHEN r.gk IS NULL THEN 1 ELSE 0 END)
          |        AS DOUBLE) / count(*), 6) AS novelty
          |FROM candk c LEFT JOIN refk r ON c.gk = r.gk
          |GROUP BY 1""".stripMargin)),

    // Water-filling mixture allocation: level L with sum min(t_s, L) =
    // budget via block-parallel prefix sums (no global window, no
    // driver loop); small sources kept whole, giants capped.
    Q("q_ext_water_fill", (s, dir) => {
      val per = Tables.documents(s, dir)
        .groupBy(col("source")).agg(sum(col("n_chars")).as("tokens"))
      Sampling.waterFill(per, "source", "tokens", budget = 140000L)
    },
      oracle = Some(
        """WITH per AS (
          |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS tokens
          |  FROM documents GROUP BY 1),
          |o AS (
          |  SELECT source, tokens,
          |    CAST(coalesce(sum(tokens) OVER (ORDER BY tokens, source
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS BIGINT) AS p,
          |    row_number() OVER (ORDER BY tokens, source) - 1 AS k,
          |    count(*) OVER () AS n
          |  FROM per),
          |f AS (SELECT *, (p + (n - k) * tokens) <= 140000 AS sat FROM o),
          |s AS (SELECT
          |        CAST(sum(CASE WHEN sat THEN tokens ELSE 0 END) AS BIGINT)
          |          AS psat,
          |        CAST(sum(CASE WHEN sat THEN 1 ELSE 0 END) AS BIGINT)
          |          AS ksat,
          |        max(n) AS n2
          |      FROM f),
          |lvl AS (SELECT CASE WHEN ksat = n2 THEN 9223372036854775807
          |          ELSE CAST(floor(CAST(140000 - psat AS DOUBLE)
          |                          / (n2 - ksat)) AS BIGINT) END AS level
          |        FROM s)
          |SELECT source, tokens,
          |  least(tokens, level) AS allocated,
          |  round(CASE WHEN tokens = 0 THEN 0.0
          |        ELSE CAST(least(tokens, level) AS DOUBLE) / tokens END, 6)
          |    AS rate
          |FROM f, lvl""".stripMargin)),

    // BPE tokenizer TRAINING (merge learning): corpus → (word, count)
    // dictionary once, then k bounded rounds of pair-count aggregate +
    // 1-row driver argmax — the Lloyd/PageRank iteration shape applied
    // to tokenizer induction. Oracle replays the k rounds as chained
    // CTEs.
    Q("q_ext_bpe_learn", (s, dir) =>
      BpeLearn.learnMerges(Tables.documents(s, dir), "text", k = 4),
      oracle = Some(
        (bpeLearnCtes(4) + "\nSELECT * FROM (\n" +
          (1 to 4).map(i =>
            s"""SELECT CAST($i AS BIGINT) AS rank, l AS "left", r AS "right",
               |       CAST(f AS BIGINT) AS freq FROM b$i""".stripMargin)
            .mkString("\nUNION ALL\n") + "\n)"))),

    // ... and the compression those merges buy: corpus token count
    // before/after replaying the learned table (the training-eval
    // contract; same dictionary pass, merges applied in rank order).
    Q("q_ext_bpe_compress", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = BpeLearn.learnMerges(docs, "text", k = 4)
        .orderBy(col("rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      BpeLearn.compression(docs, "text", merges)
    },
      oracle = Some(
        (bpeLearnCtes(4) +
          """
            |SELECT CAST(sum(c) AS BIGINT) AS n_words,
            |       CAST(sum(len(string_split(s, ' ')) * c) AS BIGINT) AS tokens_after,
            |       CAST(sum(length(replace(s, ' ', '')) * c) AS BIGINT) AS tokens_before
            |FROM d4""".stripMargin))),

    // Schema-evolution read: two parquet generations with divergent
    // columns (an old writer without `source`, a new writer without
    // `n_chars`) merged back into one frame via mergeSchema — the lake
    // reality that column sets drift across ingest generations. The
    // oracle reconstructs the same union from the base table.
    Q("q_ext_schema_merge", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val out = scratchDir(s, "g_schema_gen", dir)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$out/gen0")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"))
        .write.mode("overwrite").parquet(s"$out/gen1")
      s.read.option("mergeSchema", "true")
        .parquet(s"$out/gen0", s"$out/gen1")
    },
      oracle = Some(
        """SELECT doc_id, n_chars, CAST(NULL AS VARCHAR) AS source
          |FROM documents WHERE doc_id % 2 = 0
          |UNION ALL
          |SELECT doc_id, CAST(NULL AS BIGINT) AS n_chars, source
          |FROM documents WHERE doc_id % 2 = 1""".stripMargin)),

    // Exact weighted sample without replacement (Efraimidis–Spirakis
    // exponential keys over the deterministic hash uniform): k smallest
    // −ln(u)/w win — sort-limit plans as TakeOrderedAndProject, no
    // global sort shuffle.
    Q("q_ext_weighted_sample", (s, dir) =>
      Sampling.weightedSample(Tables.documents(s, dir), "doc_id", "n_chars",
        k = 50, salt = "ws"),
      oracle = Some(
        """WITH s AS (
          |  SELECT doc_id, n_chars,
          |    -ln((CAST(('0x' || substring(md5('ws' || CAST(doc_id AS VARCHAR)), 1, 8))
          |           AS BIGINT) + 0.5) / 4294967296.0)
          |      / CAST(n_chars AS DOUBLE) AS es
          |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
          |SELECT CAST(row_number() OVER (ORDER BY es, doc_id) AS BIGINT) AS rank,
          |       doc_id, n_chars
          |FROM s ORDER BY es, doc_id LIMIT 50""".stripMargin)),

    // Per-(user, day) admission quota — the crawl-politeness /
    // per-domain ingest cap: first 3 events per key-day in arrival
    // order, lowered to TopKPerKey bounded heaps. (Day buckets: the
    // fixture's per-user-hour density never reaches the cap, so an
    // hourly gate would admit everything and prove nothing.)
    Q("q_ext_crawl_quota", (s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("day_start", graft.ops.TimeOps.bucketStartEpoch(col("ts"), 86400))
      Sampling.admitQuota(e,
          keys = Seq(col("user_id"), col("day_start")),
          orderBy = Seq(col("ts"), col("event_id")), quota = 3)
        .select(col("event_id"), col("user_id"), col("day_start"), col("rank"))
    },
      oracle = Some(
        """WITH b AS (
          |  SELECT event_id, user_id,
          |         CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS day_start,
          |         epoch_us(ts) AS us
          |  FROM events),
          |r AS (SELECT event_id, user_id, day_start,
          |        CAST(row_number() OVER (PARTITION BY user_id, day_start
          |               ORDER BY us, event_id) AS BIGINT) AS rank
          |      FROM b)
          |SELECT event_id, user_id, day_start, rank FROM r WHERE rank <= 3""".stripMargin)),

    // Point-in-time join: each purchase picks the 'view' dimension
    // version valid at its own time from the SCD2 history — the
    // backfill-correct dimension lookup (facts before a key's first
    // version survive null-padded). Changes pre-deduped per (key, seq)
    // so interval boundaries are deterministic at any scale.
    Q("q_ext_pit_join", (s, dir) => {
      val e = Tables.events(s, dir)
      val changes = e.filter(col("event_type") === "view")
        .groupBy(col("user_id"), unix_micros(col("ts")).as("seq"))
        .agg(max(col("value")).as("value"))
      val hist = graft.ops.Cdc.scd2History(changes, Seq("user_id"), "seq")
      val facts = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"))
      graft.ops.Cdc.pitJoin(facts, hist, Seq("user_id"), "t")
        .select(col("event_id"), col("user_id"), col("t"),
          round(col("value"), 6).as("dim_value"), col("valid_from"))
    },
      oracle = Some(
        """WITH ch AS (
          |  SELECT user_id, epoch_us(ts) AS seq, max(value) AS value
          |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
          |h AS (
          |  SELECT user_id, seq AS valid_from,
          |         lead(seq) OVER (PARTITION BY user_id ORDER BY seq) AS valid_to,
          |         value
          |  FROM ch),
          |f AS (
          |  SELECT event_id, user_id, epoch_us(ts) AS t
          |  FROM events WHERE event_type = 'purchase')
          |SELECT f.event_id, f.user_id, f.t,
          |       round(h.value, 6) AS dim_value, h.valid_from
          |FROM f LEFT JOIN h ON h.user_id = f.user_id
          |  AND f.t >= h.valid_from AND (h.valid_to IS NULL OR f.t < h.valid_to)""".stripMargin)),

    // Leakage-safe TEMPORAL split (train past / eval future) at an
    // exact integer day boundary — no interpolated-quantile cutoffs,
    // no timestamp ulp at the comparison. Gate reports the per-split
    // profile.
    Q("q_ext_temporal_split", (s, dir) =>
      TemporalSplit.temporalSplit(Tables.events(s, dir), "ts", 4L, 5L)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_rows"),
          min(to_date(col("ts"))).cast("string").as("first_day"),
          max(to_date(col("ts"))).cast("string").as("last_day")),
      oracle = Some(
        """WITH d AS (SELECT CAST(ts AS DATE) AS day FROM events),
          |pd AS (SELECT day, count(*) AS c FROM d GROUP BY 1),
          |cm AS (SELECT day, sum(c) OVER (ORDER BY day) AS cum FROM pd),
          |n AS (SELECT count(*) AS n FROM d),
          |cut AS (SELECT min(day) AS cut FROM cm, n WHERE cum * 5 >= n.n * 4)
          |SELECT CASE WHEN CAST(ts AS DATE) <= cut THEN 'train' ELSE 'eval' END
          |         AS split,
          |       count(*) AS n_rows,
          |       CAST(min(CAST(ts AS DATE)) AS VARCHAR) AS first_day,
          |       CAST(max(CAST(ts AS DATE)) AS VARCHAR) AS last_day
          |FROM events, cut GROUP BY 1""".stripMargin)),

    // Embedding drift monitor: per-dimension moment comparison between
    // the base snapshot and the ingested batch (same split as the
    // incremental IVF gate) — the retrain trigger for every frozen
    // embedding structure. Engine-exact via the split fixed-point sums.
    Q("q_ext_embedding_drift", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Drift.embeddingDrift(
        emb.filter(col("vec_id") % 3 =!= 0),
        emb.filter(col("vec_id") % 3 === 0), "embedding")
    },
      oracle = Some(
        """WITH eb AS (
          |  SELECT unnest(CAST(embedding AS DOUBLE[])) AS x,
          |         unnest(range(len(embedding))) AS dim
          |  FROM embeddings WHERE vec_id % 3 <> 0),
          |ec AS (
          |  SELECT unnest(CAST(embedding AS DOUBLE[])) AS x,
          |         unnest(range(len(embedding))) AS dim
          |  FROM embeddings WHERE vec_id % 3 = 0),
          |fb AS (SELECT dim,
          |    CASE WHEN x >= 0 THEN CAST(floor(x*1e15 + 0.5) AS BIGINT)
          |         ELSE CAST(-floor(-(x*1e15) + 0.5) AS BIGINT) END AS p1,
          |    CAST(floor(x*x*1e15 + 0.5) AS BIGINT) AS p2
          |  FROM eb),
          |fc AS (SELECT dim,
          |    CASE WHEN x >= 0 THEN CAST(floor(x*1e15 + 0.5) AS BIGINT)
          |         ELSE CAST(-floor(-(x*1e15) + 0.5) AS BIGINT) END AS p1,
          |    CAST(floor(x*x*1e15 + 0.5) AS BIGINT) AS p2
          |  FROM ec),
          |gb AS (SELECT dim, p1, p2,
          |    CASE WHEN p1 >= 0 THEN p1 // 16777216
          |         ELSE -((-p1 + 16777215) // 16777216) END AS h1,
          |    CASE WHEN p2 >= 0 THEN p2 // 16777216
          |         ELSE -((-p2 + 16777215) // 16777216) END AS h2
          |  FROM fb),
          |gc AS (SELECT dim, p1, p2,
          |    CASE WHEN p1 >= 0 THEN p1 // 16777216
          |         ELSE -((-p1 + 16777215) // 16777216) END AS h1,
          |    CASE WHEN p2 >= 0 THEN p2 // 16777216
          |         ELSE -((-p2 + 16777215) // 16777216) END AS h2
          |  FROM fc),
          |sb AS (SELECT dim,
          |    (CAST(sum(h1) AS DOUBLE)*16777216.0
          |      + CAST(sum(p1 - h1 * 16777216) AS DOUBLE))/1e15/count(*) AS m,
          |    (CAST(sum(h2) AS DOUBLE)*16777216.0
          |      + CAST(sum(p2 - h2 * 16777216) AS DOUBLE))/1e15/count(*)
          |      - ((CAST(sum(h1) AS DOUBLE)*16777216.0
          |          + CAST(sum(p1 - h1 * 16777216) AS DOUBLE))/1e15/count(*))
          |      * ((CAST(sum(h1) AS DOUBLE)*16777216.0
          |          + CAST(sum(p1 - h1 * 16777216) AS DOUBLE))/1e15/count(*)) AS va
          |  FROM gb GROUP BY 1),
          |sc AS (SELECT dim,
          |    (CAST(sum(h1) AS DOUBLE)*16777216.0
          |      + CAST(sum(p1 - h1 * 16777216) AS DOUBLE))/1e15/count(*) AS m,
          |    (CAST(sum(h2) AS DOUBLE)*16777216.0
          |      + CAST(sum(p2 - h2 * 16777216) AS DOUBLE))/1e15/count(*)
          |      - ((CAST(sum(h1) AS DOUBLE)*16777216.0
          |          + CAST(sum(p1 - h1 * 16777216) AS DOUBLE))/1e15/count(*))
          |      * ((CAST(sum(h1) AS DOUBLE)*16777216.0
          |          + CAST(sum(p1 - h1 * 16777216) AS DOUBLE))/1e15/count(*)) AS va
          |  FROM gc GROUP BY 1)
          |SELECT sb.dim,
          |       round(sb.m, 6) AS mean_base, round(sc.m, 6) AS mean_batch,
          |       round(sb.va, 6) AS var_base, round(sc.va, 6) AS var_batch,
          |       round(abs(sc.m - sb.m), 6) AS mean_shift
          |FROM sb JOIN sc ON sb.dim = sc.dim""".stripMargin)),

    // Misra–Gries heavy hitters: the constant-memory mergeable
    // frequent-items summary vs the exact path's one-row-per-distinct
    // shuffle. The gate pins the order-independent THEOREM (presence +
    // undercount bound for every item above N/k), never the summary's
    // merge-order-dependent tail.
    Q("q_ext_heavy_hitters", (s, dir) => {
      val words = Tables.documents(s, dir)
        .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
        .filter(col("w") =!= "")
      HeavyHitters.heavyHitterContract(words, "w", k = 40)
    },
      oracle = Some(
        """WITH w AS (
          |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
          |  FROM documents),
          |t AS (SELECT w FROM w WHERE w <> ''),
          |n AS (SELECT count(*) AS n_total FROM t),
          |e AS (SELECT w AS item, count(*) AS exact_n FROM t GROUP BY 1)
          |SELECT item, exact_n, CAST(1 AS BIGINT) AS present, CAST(1 AS BIGINT) AS within_bound
          |FROM e, n WHERE exact_n * 40 > n_total""".stripMargin)),

    // Incremental IVF maintenance: build the persisted index (frozen
    // trained centroids + cell-bucketed postings) from the base corpus,
    // then ingest a new batch O(batch) against the persisted centroids
    // — the embedding twin of the incremental MinHash store. Gate
    // digests the final postings per cell; the oracle replays the
    // Lloyd step on the base and assigns base+batch to the same
    // frozen centroids.
    Q("q_ext_ivf_incremental", (s, dir) => {
      val store = scratchTable(s, "g_ivf_store", dir)
      Seq(s"${store}_postings", s"${store}_centroids")
        .foreach(tb => s.sql(s"DROP TABLE IF EXISTS `$tb`"))
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val base = emb.filter(col("id") % 3 =!= 0)
      val batch = emb.filter(col("id") % 3 === 0)
      val cents = graft.ops.Materialize.bounded(Similarity.lloydStep(base,
        base.filter(col("id") % 50 === 7 &&
          col("id") < graft.io.ScaleReplicate.KeyShift)))
      IvfStore.build(base, cents, store)
      IvfStore.ingest(batch, store)
      s.table(s"${store}_postings")
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("id_sum"))
    },
      oracle = Some(
        """WITH cent0 AS (
          |  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
          |  FROM embeddings WHERE vec_id % 50 = 7 AND vec_id % 3 <> 0
          |    AND vec_id < 1000000000),
          |corp AS (
          |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
          |  FROM embeddings WHERE vec_id % 3 <> 0),
          |r0 AS (
          |  SELECT neighbor_id, cv, cent_id AS cell,
          |         row_number() OVER (PARTITION BY neighbor_id
          |           ORDER BY round(list_cosine_similarity(cv, cvec), 4) DESC, cent_id)
          |           AS cent_rank
          |  FROM corp, cent0),
          |asg0 AS (SELECT neighbor_id, cv, cell FROM r0 WHERE cent_rank = 1),
          |dims0 AS (
          |  SELECT cell, unnest(cv) AS v, unnest(range(len(cv))) AS dim FROM asg0),
          |dmeans0 AS (SELECT cell, dim, round(avg(v), 6) AS m FROM dims0 GROUP BY 1, 2),
          |newc0 AS (SELECT cell, list(m ORDER BY dim) AS nv FROM dmeans0 GROUP BY 1),
          |cent1 AS (
          |  SELECT c.cent_id, COALESCE(n.nv, c.cvec) AS cvec
          |  FROM cent0 c LEFT JOIN newc0 n ON n.cell = c.cent_id),
          |allv AS (
          |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
          |ra AS (
          |  SELECT id, cent_id AS cell,
          |         row_number() OVER (PARTITION BY id
          |           ORDER BY round(list_cosine_similarity(cv, cvec), 4) DESC, cent_id)
          |           AS rr
          |  FROM allv, cent1)
          |SELECT cell, count(*) AS n, CAST(sum(id) AS BIGINT) AS id_sum
          |FROM ra WHERE rr = 1 GROUP BY 1""".stripMargin)),

    // ... and per group: k weighted winners within every source — the
    // row_number window spelling the TopKPerKey rewrite turns into
    // bounded per-group heaps (no full per-group sort).
    Q("q_ext_weighted_sample_grouped", (s, dir) =>
      Sampling.weightedSamplePerKey(Tables.documents(s, dir), "source",
        "doc_id", "n_chars", k = 5, salt = "wsg"),
      oracle = Some(
        """WITH s AS (
          |  SELECT source, doc_id, n_chars,
          |    -ln((CAST(('0x' || substring(md5('wsg' || CAST(doc_id AS VARCHAR)), 1, 8))
          |           AS BIGINT) + 0.5) / 4294967296.0)
          |      / CAST(n_chars AS DOUBLE) AS es
          |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
          |r AS (SELECT source, doc_id, n_chars,
          |        CAST(row_number() OVER (PARTITION BY source
          |               ORDER BY es, doc_id) AS BIGINT) AS rank
          |      FROM s)
          |SELECT source, rank, doc_id, n_chars FROM r WHERE rank <= 5""".stripMargin)),

    // Cross-source score calibration TABLE: per-source vs pooled
    // quantiles at a fixed probe grid — the step that makes quality
    // scores comparable across corpus sources before one global
    // threshold (event_type plays the source role here).
    Q("q_ext_calibrate", (s, dir) =>
      Calibrate.quantileTable(Tables.events(s, dir), "event_type", "value",
        Seq(0.1, 0.25, 0.5, 0.75, 0.9)),
      oracle = Some(
        """WITH perq AS (
          |  SELECT event_type AS source,
          |         quantile_cont(value, [0.1, 0.25, 0.5, 0.75, 0.9]) AS qs
          |  FROM events GROUP BY 1),
          |per AS (SELECT source, unnest(qs) AS sv, unnest(range(5)) AS i FROM perq),
          |poolq AS (
          |  SELECT quantile_cont(value, [0.1, 0.25, 0.5, 0.75, 0.9]) AS qs
          |  FROM events),
          |pool AS (SELECT unnest(qs) AS rv, unnest(range(5)) AS i FROM poolq),
          |grid AS (SELECT unnest(CAST([0.1, 0.25, 0.5, 0.75, 0.9] AS DOUBLE[])) AS q,
          |                unnest(range(5)) AS i)
          |SELECT per.source, grid.q,
          |       round(per.sv, 6) AS src_val,
          |       round(pool.rv, 6) AS ref_val,
          |       round(round(pool.rv, 6) - round(per.sv, 6), 6) AS delta
          |FROM per JOIN pool USING (i) JOIN grid USING (i)""".stripMargin)),

    // ... and its per-row APPLICATION: piecewise-linear map through the
    // broadcast table on a deterministic row subset — data never
    // shuffles; the oracle replays the interpolation in SQL.
    Q("q_ext_calibrate_apply", (s, dir) => {
      val e = Tables.events(s, dir)
      val tbl = Calibrate.quantileTable(e, "event_type", "value",
        Seq(0.1, 0.25, 0.5, 0.75, 0.9))
      Calibrate.applyQuantileMap(
          e.filter(col("event_id") % 97 === 0), tbl, "event_type", "value")
        .select(col("event_id"), col("event_type"),
          round(col("value"), 6).as("value_r"), col("value_cal"))
    },
      oracle = Some(
        """WITH perq AS (
          |  SELECT event_type AS source,
          |         quantile_cont(value, [0.1, 0.25, 0.5, 0.75, 0.9]) AS qs
          |  FROM events GROUP BY 1),
          |per AS (SELECT source, unnest(qs) AS sv, unnest(range(5)) AS i FROM perq),
          |poolq AS (
          |  SELECT quantile_cont(value, [0.1, 0.25, 0.5, 0.75, 0.9]) AS qs
          |  FROM events),
          |pool AS (SELECT unnest(qs) AS rv, unnest(range(5)) AS i FROM poolq),
          |t AS (SELECT per.source, round(per.sv, 6) AS src_val,
          |             round(pool.rv, 6) AS ref_val
          |      FROM per JOIN pool USING (i)),
          |s AS (SELECT event_id, event_type, CAST(value AS DOUBLE) AS v
          |      FROM events WHERE event_id % 97 = 0),
          |b AS (
          |  SELECT s.event_id, s.event_type, s.v,
          |         max(t.src_val) FILTER (WHERE t.src_val <= s.v) AS lo_src,
          |         max_by(t.ref_val, t.src_val) FILTER (WHERE t.src_val <= s.v)
          |           AS lo_ref,
          |         min(t.src_val) FILTER (WHERE t.src_val > s.v) AS up_src,
          |         min_by(t.ref_val, t.src_val) FILTER (WHERE t.src_val > s.v)
          |           AS up_ref
          |  FROM s JOIN t ON t.source = s.event_type
          |  GROUP BY 1, 2, 3)
          |SELECT event_id, event_type, round(v, 6) AS value_r,
          |       round(CASE WHEN lo_src IS NULL THEN up_ref
          |                  WHEN up_src IS NULL THEN lo_ref
          |                  ELSE lo_ref + (v - lo_src) * (up_ref - lo_ref)
          |                       / (up_src - lo_src)
          |             END, 6) AS value_cal
          |FROM b""".stripMargin)),

    // Batch-admission data-quality gate: the whole five-constraint
    // suite is ONE scan + one single-row partial-agg shuffle, whatever
    // the constraint count (see Expectations object doc). Every
    // observed metric is an integer-count ratio — the same long/long
    // double division in both engines.
    Q("q_ext_expectations", (s, dir) =>
      Expectations.suite(Tables.documents(s, dir), Seq(
        Expectations.NotNull("text", 1.0),
        Expectations.Unique("doc_id"),
        Expectations.InSet("lang", Seq("en", "de", "fr", "es"), 0.8),
        Expectations.Between("n_chars", 1.0, 500.0, 0.95),
        Expectations.Matches("source", "^src[0-9]+$", 1.0))),
      oracle = Some(
        """WITH a AS (
          |  SELECT count(*) AS n,
          |         count(text) AS nn_text,
          |         count(doc_id) AS nn_doc,
          |         count(DISTINCT doc_id) AS nd_doc,
          |         count(lang) AS nn_lang,
          |         sum(CASE WHEN lang IN ('en','de','fr','es')
          |             THEN 1 ELSE 0 END) AS in_lang,
          |         count(n_chars) AS nn_chars,
          |         sum(CASE WHEN n_chars IS NOT NULL
          |                   AND n_chars >= 1.0 AND n_chars <= 500.0
          |             THEN 1 ELSE 0 END) AS in_chars,
          |         count(source) AS nn_src,
          |         sum(CASE WHEN regexp_matches(source, '^src[0-9]+$')
          |             THEN 1 ELSE 0 END) AS m_src
          |  FROM documents)
          |SELECT 'not_null' AS "constraint", 'text' AS col_name,
          |       round(nn_text / greatest(n, 1), 6) AS observed,
          |       CAST(1.0 AS DOUBLE) AS threshold,
          |       CAST(nn_text / greatest(n, 1) >= 1.0 AS BIGINT) AS passed
          |FROM a
          |UNION ALL
          |SELECT 'unique', 'doc_id',
          |       round(nd_doc / greatest(nn_doc, 1), 6),
          |       CAST(1.0 AS DOUBLE),
          |       CAST(nd_doc / greatest(nn_doc, 1) >= 1.0 AS BIGINT) FROM a
          |UNION ALL
          |SELECT 'in_set', 'lang',
          |       round(in_lang / greatest(nn_lang, 1), 6),
          |       CAST(0.8 AS DOUBLE),
          |       CAST(in_lang / greatest(nn_lang, 1) >= 0.8 AS BIGINT) FROM a
          |UNION ALL
          |SELECT 'between', 'n_chars',
          |       round(in_chars / greatest(nn_chars, 1), 6),
          |       CAST(0.95 AS DOUBLE),
          |       CAST(in_chars / greatest(nn_chars, 1) >= 0.95 AS BIGINT) FROM a
          |UNION ALL
          |SELECT 'matches', 'source',
          |       round(m_src / greatest(nn_src, 1), 6),
          |       CAST(1.0 AS DOUBLE),
          |       CAST(m_src / greatest(nn_src, 1) >= 1.0 AS BIGINT) FROM a""".stripMargin)),

    // HLL distinct-count sketch per group: constant-register summary
    // vs the exact Expand+shuffle distinct — the open-vocabulary
    // cardinality path. Exact count hash-checked; ±5% (≈3σ at lgK=12)
    // accuracy contract oracle-asserted.
    Q("q_ext_hll_distinct", (s, dir) =>
      Cardinality.hllDistinctContract(docWords(s, dir), "source", "w"),
      oracle = Some(
        """WITH w AS (
          |  SELECT source, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
          |  FROM documents)
          |SELECT source, count(DISTINCT w) AS n_exact,
          |       CAST(1 AS BIGINT) AS est_ok
          |FROM w WHERE w <> '' GROUP BY 1""".stripMargin)),

    // ... and the MERGEABILITY theorem: union of per-shard sketches
    // estimates exactly what the direct sketch over everything does —
    // the property that lets per-day sketch stores answer range
    // distinct queries without rescans.
    Q("q_ext_hll_union", (s, dir) =>
      Cardinality.hllUnionContract(docWords(s, dir), "w", "doc_id"),
      oracle = Some(
        """WITH w AS (
          |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
          |  FROM documents)
          |SELECT count(DISTINCT w) AS n_exact,
          |       CAST(1 AS BIGINT) AS union_agrees, CAST(1 AS BIGINT) AS est_ok
          |FROM w WHERE w <> ''""".stripMargin)),

    // Count-min frequency bounds for the exact top-20 tokens: a CMS
    // never undercounts, and overcounts by at most eps*N — the
    // one-sided guarantee that makes it safe for threshold admission.
    Q("q_ext_cms_bounds", (s, dir) =>
      Cardinality.cmsBoundsContract(docWords(s, dir), "w", k = 20),
      oracle = Some(
        """WITH w AS (
          |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
          |  FROM documents),
          |c AS (SELECT w AS item, count(*) AS n_exact
          |      FROM w WHERE w <> '' GROUP BY 1)
          |SELECT item, n_exact, CAST(1 AS BIGINT) AS lower_ok, CAST(1 AS BIGINT) AS upper_ok
          |FROM c ORDER BY n_exact DESC, item LIMIT 20""".stripMargin)),

    // Trailing-window z-score anomaly flags: one keyed window shuffle;
    // decimal window sums make the moments engine-exact, then both
    // engines run the identical double algebra (Anomaly doc).
    Q("q_ext_zscore_roll", (s, dir) =>
      graft.ops.Anomaly.rollingZScore(Tables.events(s, dir),
        "event_type", "ts", "event_id", "value", nPrev = 20),
      oracle = Some(
        """WITH e AS (
          |  SELECT event_type, ts, event_id,
          |         CAST(value AS DOUBLE) AS v,
          |         CAST(round(value, 6) AS DECIMAL(18,6)) AS vr
          |  FROM events),
          |w AS (
          |  SELECT event_type, event_id, v,
          |         count(vr) OVER win AS n_prev,
          |         CAST(sum(vr) OVER win AS DOUBLE) AS s1,
          |         CAST(sum(CAST(vr * vr AS DECIMAL(38,12))) OVER win AS DOUBLE)
          |           AS s2
          |  FROM e
          |  WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
          |                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
          |SELECT event_type, event_id, n_prev,
          |       round(v, 6) AS value_r,
          |       CASE WHEN n_prev = 20 THEN round(s1 / n_prev, 6) END AS win_mean,
          |       CASE WHEN n_prev = 20
          |             AND (s2 - s1 * s1 / n_prev) / (n_prev - 1) > 0
          |            THEN round((v - s1 / n_prev)
          |              / sqrt((s2 - s1 * s1 / n_prev) / (n_prev - 1)), 6)
          |       END AS z,
          |       CAST(CASE WHEN n_prev = 20
          |             AND (s2 - s1 * s1 / n_prev) / (n_prev - 1) > 0
          |            THEN abs((v - s1 / n_prev)
          |              / sqrt((s2 - s1 * s1 / n_prev) / (n_prev - 1)))
          |              > CAST(3.0 AS DOUBLE)
          |       END AS BIGINT) AS is_anomaly
          |FROM w""".stripMargin)),

    // Robust per-key outlier fence: median ± 3·1.4826·MAD — the
    // contamination-immune alternative to plain z (outliers cannot
    // inflate their own threshold). Exact percentiles at gate scale;
    // approx_percentile is the documented corpus-scale swap.
    Q("q_ext_mad_outliers", (s, dir) =>
      graft.ops.Anomaly.madOutliers(Tables.events(s, dir),
        "event_type", "value"),
      oracle = Some(
        """WITH m AS (
          |  SELECT event_type, quantile_cont(CAST(value AS DOUBLE), 0.5) AS med
          |  FROM events GROUP BY 1),
          |md AS (
          |  SELECT e.event_type,
          |         quantile_cont(abs(CAST(e.value AS DOUBLE) - m.med), 0.5) AS mad
          |  FROM events e JOIN m USING (event_type) GROUP BY 1),
          |f AS (
          |  SELECT e.event_type, CAST(e.value AS DOUBLE) AS v, m.med, md.mad
          |  FROM events e JOIN m USING (event_type) JOIN md USING (event_type))
          |SELECT event_type,
          |       round(any_value(med), 6) AS med_r,
          |       round(any_value(mad), 6) AS mad_r,
          |       count(*) AS n_rows,
          |       CAST(sum(CASE WHEN abs(v - med) >
          |             CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * mad
          |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
          |FROM f GROUP BY 1""".stripMargin)),

    // Diurnal climatology profile: (key, hour) means from decimal-exact
    // sums — one partial-agg shuffle of 24·|keys| rows.
    Q("q_ext_climatology", (s, dir) =>
      graft.ops.Climatology.profile(Tables.events(s, dir),
        "event_type", "ts", "value"),
      oracle = Some(
        """SELECT event_type, CAST(hour(ts) AS INT) AS hour, count(*) AS n,
          |       round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6)))
          |               AS DOUBLE) / count(*), 6) AS clim_mean
          |FROM events GROUP BY 1, 2""".stripMargin)),

    // ... and its application: broadcast profile onto the scan, anomaly
    // and guarded seasonal ratio per row — the data never shuffles.
    Q("q_ext_seasonal_anomaly", (s, dir) =>
      graft.ops.Climatology.anomaly(Tables.events(s, dir),
          "event_type", "ts", "event_id", "value")
        .filter(col("event_id") % 9 === 0),
      oracle = Some(
        """WITH p AS (
          |  SELECT event_type, CAST(hour(ts) AS INT) AS hour, count(*) AS n,
          |         round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6)))
          |                 AS DOUBLE) / count(*), 6) AS clim_mean
          |  FROM events GROUP BY 1, 2),
          |e AS (
          |  SELECT event_type, event_id, CAST(hour(ts) AS INT) AS hour,
          |         round(CAST(value AS DOUBLE), 6) AS value_r
          |  FROM events WHERE event_id % 9 = 0)
          |SELECT e.event_type, e.event_id, e.hour, e.value_r, p.clim_mean,
          |       round(e.value_r - p.clim_mean, 6) AS anomaly,
          |       CASE WHEN p.clim_mean <> 0
          |            THEN round(e.value_r / p.clim_mean, 6) END AS seasonal_ratio
          |FROM e JOIN p USING (event_type, hour)""".stripMargin)),

    // Triangle census via degree-ordered orientation: wedge fan-out is
    // bounded by out-degree ≤ O(√m), so the hub that kills the naive
    // pair join contributes √m wedges, not degree² (Graph doc).
    Q("q_ext_triangles", (s, dir) =>
      Graph.triangleStats(Tables.events(s, dir)
        .selectExpr("user_id % 200 AS src", "event_id % 200 AS dst")),
      oracle = Some(
        """WITH e AS (
          |  SELECT DISTINCT least(user_id % 200, event_id % 200) AS a,
          |                  greatest(user_id % 200, event_id % 200) AS b
          |  FROM events WHERE user_id % 200 <> event_id % 200),
          |deg AS (
          |  SELECT v, count(*) AS d
          |  FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
          |  GROUP BY 1),
          |t AS (
          |  SELECT count(*) AS n_triangles
          |  FROM e e1
          |  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
          |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
          |s AS (
          |  SELECT (SELECT count(*) FROM e) AS n_edges,
          |         (SELECT count(*) FROM deg) AS n_vertices,
          |         (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg)
          |           AS n_wedges)
          |SELECT n_vertices, n_edges, n_wedges, n_triangles,
          |       CASE WHEN n_wedges > 0
          |            THEN round(CAST(3 AS DOUBLE) * n_triangles / n_wedges, 6)
          |       END AS clustering
          |FROM s, t""".stripMargin)),

    // Persisted per-day HLL sketch STORE: ingest reduces each day to
    // one register blob; a date-range distinct query unions |days|
    // blobs and never rescans raw data. Gate: build 20 days, ingest 10
    // more O(batch), then a 15-day range estimate must AGREE with the
    // direct sketch over the raw range within the sketch's own error
    // (exact in the sparse regime — see Cardinality.hllUnionContract
    // doc for the measured dense-mode divergence) and sit within ±5%
    // of the exact distinct.
    Q("q_ext_hll_store", (s, dir) => {
      val store = scratchTable(s, "g_hll_daily", dir)
      s.sql(s"DROP TABLE IF EXISTS `$store`")
      val e = Tables.events(s, dir)
      SketchStore.build(
        e.filter(to_date(col("ts")) <= lit("2024-01-20")), "ts", "user_id", store)
      SketchStore.ingest(
        e.filter(to_date(col("ts")) > lit("2024-01-20")), "ts", "user_id", store)
      val range = SketchStore.rangeDistinct(s, store, "2024-01-08", "2024-01-22")
      val raw = e.filter(to_date(col("ts")).between("2024-01-08", "2024-01-22"))
      val direct = raw.agg(
        hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
          .as("est_direct"),
        countDistinct(col("user_id")).as("n_exact"))
      direct.crossJoin(range).select(
        col("n_exact"), col("n_store_rows").as("n_days"),
        (abs(col("est_distinct") - col("est_direct")).cast("double") <=
          greatest(lit(0.07) * col("n_exact"), lit(2.0)))
          .cast("long").as("union_agrees"),
        (abs(col("est_distinct") - col("n_exact")) <=
          lit(0.05) * col("n_exact")).cast("long").as("est_ok"))
    },
      oracle = Some(
        """SELECT (SELECT count(DISTINCT user_id) FROM events
          |        WHERE CAST(ts AS DATE)
          |              BETWEEN DATE '2024-01-08' AND DATE '2024-01-22')
          |         AS n_exact,
          |       (SELECT count(DISTINCT CAST(ts AS DATE)) FROM events
          |        WHERE CAST(ts AS DATE)
          |              BETWEEN DATE '2024-01-08' AND DATE '2024-01-22')
          |         AS n_days,
          |       CAST(1 AS BIGINT) AS union_agrees,
          |       CAST(1 AS BIGINT) AS est_ok""".stripMargin)),

    // Persisted per-day histogram STORE — the quantile twin of the HLL
    // store: ingest reduces each day to ≤bins count rows; a date-range
    // p50/p90/p99 merges |days|·bins integers and never rescans raw
    // data. Unlike a t-digest the merge is exact integer addition on a
    // fixed grid, so the ESTIMATE itself replays bit-for-bit in the
    // oracle (hash-exact gate), with the documented one-bin-width
    // error bound pinned by `within_bin` against the exact order
    // statistic (computed via the chunked PrefixSum scan, no window).
    Q("q_ext_quantile_store", (s, dir) => {
      val store = scratchTable(s, "g_hist_daily", dir)
      s.sql(s"DROP TABLE IF EXISTS `$store`")
      val lo = 0.0; val hi = 500.0; val bins = 250
      val e = Tables.events(s, dir)
      HistogramStore.build(
        e.filter(to_date(col("ts")) <= lit("2024-01-20")),
        "ts", "value", store, lo, hi, bins)
      HistogramStore.ingest(
        e.filter(to_date(col("ts")) > lit("2024-01-20")),
        "ts", "value", store, lo, hi, bins)
      val est = HistogramStore.rangeQuantiles(s, store,
        "2024-01-08", "2024-01-22", Seq(50, 90, 99), lo, hi, bins)
      val raw = e
        .filter(to_date(col("ts")).between("2024-01-08", "2024-01-22"))
        .filter(col("value").isNotNull)
      val pv = raw.groupBy(round(col("value"), 6).as("v"))
        .agg(count(lit(1)).as("c"))
      val scanned = graft.ops.PrefixSum.runningTotal(pv, "v", "c", "p", 64L)
        .withColumn("cum", col("p") + col("c"))
      val targets = est.select(col("q_pct"), col("n"))
        .withColumn("t",
          floor((col("q_pct").cast("long") * col("n") + 99L) / 100L)
            .cast("long"))
      val exact = scanned
        .join(broadcast(targets), col("cum") >= col("t") && col("p") < col("t"))
        .select(col("q_pct"), round(col("v"), 6).as("exact"))
      est.join(exact, "q_pct")
        .select(col("q_pct"), col("n"), col("est"), col("exact"),
          (abs(col("est") - col("exact")) <= lit((hi - lo) / bins))
            .cast("long").as("within_bin"))
    },
      oracle = Some(
        """WITH raw AS (
          |  SELECT round(value, 6) AS v FROM events
          |  WHERE value IS NOT NULL
          |    AND CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-22'),
          |b AS (
          |  SELECT CAST(least(greatest(floor((v - 0.0) / 2.0), 0), 249)
          |    AS BIGINT) AS bin
          |  FROM raw),
          |agg AS (SELECT bin, count(*) AS cnt FROM b GROUP BY 1),
          |cum AS (
          |  SELECT a.bin, a.cnt, CAST(sum(b2.cnt) AS BIGINT) AS cum
          |  FROM agg a JOIN agg b2 ON b2.bin <= a.bin GROUP BY 1, 2),
          |nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM agg),
          |q AS (SELECT CAST(unnest([50, 90, 99]) AS INT) AS q_pct),
          |tg AS (
          |  SELECT q_pct, nn.n,
          |         (CAST(q_pct AS BIGINT) * nn.n + 99) // 100 AS t
          |  FROM q, nn),
          |estv AS (
          |  SELECT tg.q_pct, tg.n,
          |         round(0.0 + 2.0 * c.bin
          |           + 2.0 * CAST(tg.t - (c.cum - c.cnt) AS DOUBLE) / c.cnt,
          |           6) AS est
          |  FROM cum c JOIN tg ON c.cum >= tg.t AND c.cum - c.cnt < tg.t),
          |rk AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM raw),
          |ex AS (
          |  SELECT tg.q_pct, round(rk.v, 6) AS exact
          |  FROM rk JOIN tg ON rk.rn = tg.t)
          |SELECT e.q_pct, e.n, e.est, x.exact,
          |       CAST(abs(e.est - x.exact) <= 2.0 AS BIGINT) AS within_bin
          |FROM estv e JOIN ex x USING (q_pct)""".stripMargin)),

    // A-priori frequent token pairs: monotonicity prunes candidates to
    // frequent singletons BEFORE the pair join, so fan-out per doc is
    // C(frequent tokens, 2), not C(length, 2) (Itemsets doc).
    Q("q_ext_frequent_pairs", (s, dir) =>
      Itemsets.frequentPairs(Tables.documents(s, dir), "doc_id", "text",
        minSupport = 100L),
      oracle = Some(
        """WITH toks AS (
          |  SELECT DISTINCT doc_id AS id,
          |         unnest(string_split_regex(lower(text), '[^a-z]+')) AS t
          |  FROM documents),
          |tt AS (SELECT id, t FROM toks WHERE t <> ''),
          |freq AS (SELECT t FROM tt GROUP BY t HAVING count(*) >= 100),
          |ft AS (SELECT tt.id, tt.t FROM tt JOIN freq ON freq.t = tt.t),
          |p AS (
          |  SELECT x.t AS t1, y.t AS t2, count(*) AS pair_df
          |  FROM ft x JOIN ft y ON y.id = x.id AND x.t < y.t
          |  GROUP BY 1, 2)
          |SELECT t1, t2, pair_df FROM p WHERE pair_df >= 100""".stripMargin)),

    // EXACT median per key WITHOUT value buffering: iterative bucket
    // refinement (counting passes + one bounded resolve sort) — the
    // order-statistic path that still works when a key holds 10^10
    // rows and `percentile`'s buffer cannot. resolveCap forced low so
    // the gate actually exercises the refinement rounds.
    Q("q_ext_exact_median", (s, dir) =>
      graft.ops.ExactSelect.medianExact(Tables.events(s, dir),
        "event_type", "value", buckets = 16, resolveCap = 64L),
      oracle = Some(
        """WITH r AS (
          |  SELECT event_type, CAST(value AS DOUBLE) AS v,
          |         row_number() OVER (PARTITION BY event_type ORDER BY value)
          |           AS rn,
          |         count(*) OVER (PARTITION BY event_type) AS n
          |  FROM events WHERE value IS NOT NULL)
          |SELECT event_type, n AS n_rows, round(v, 6) AS median
          |FROM r WHERE rn = (n + 1) // 2""".stripMargin)),

    // Lower weighted median per key: the importance-weighted robust
    // location (integer-weight qualifying test 2·cum ≥ total — pure
    // long arithmetic, the result is a value FROM the data).
    Q("q_ext_weighted_median", (s, dir) =>
      graft.ops.WeightedStats.weightedMedian(
        Tables.events(s, dir).select(col("event_type"), col("value"),
          (col("event_id") % 7 + 1).as("wt")),
        "event_type", "value", "wt"),
      oracle = Some(
        """WITH e AS (
          |  SELECT event_type AS k, CAST(value AS DOUBLE) AS v,
          |         CAST(event_id % 7 + 1 AS BIGINT) AS wt
          |  FROM events),
          |c AS (
          |  SELECT k, v, wt,
          |         sum(wt) OVER (PARTITION BY k ORDER BY v
          |           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          |         sum(wt) OVER (PARTITION BY k) AS tot
          |  FROM e)
          |SELECT k AS event_type, CAST(max(tot) AS BIGINT) AS total_w,
          |       round(min(v), 6) AS w_median
          |FROM c WHERE cum * 2 >= tot GROUP BY 1""".stripMargin)),

    // Jensen–Shannon divergence between the English and non-English
    // token distributions — the corpus-mix distance that drives
    // mixture reweighting and text-drift alarms (Divergence doc).
    Q("q_ext_jsd", (s, dir) => {
      val words = Tables.documents(s, dir)
        .select((col("lang") === "en").as("is_en"),
          explode(split(lower(col("text")), "[^a-z]+")).as("w"))
        .filter(col("w") =!= "")
      Divergence.jensenShannonTokens(words, "w", "is_en")
    },
      oracle = Some(
        """WITH w AS (
          |  SELECT lang = 'en' AS is_en,
          |         unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
          |  FROM documents),
          |c AS (
          |  SELECT w, sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS ca,
          |         sum(CASE WHEN NOT is_en THEN 1 ELSE 0 END) AS cb
          |  FROM w WHERE w <> '' GROUP BY 1),
          |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
          |             CAST(sum(cb) AS BIGINT) AS nb FROM c),
          |x AS (SELECT CAST(ca AS DOUBLE) / na AS p,
          |             CAST(cb AS DOUBLE) / nb AS q FROM c, t),
          |y AS (
          |  SELECT CAST(round((
          |      CASE WHEN p > 0 THEN p * (ln(p / ((p + q) / 2.0)) / ln(2.0))
          |           ELSE 0.0 END
          |    + CASE WHEN q > 0 THEN q * (ln(q / ((p + q) / 2.0)) / ln(2.0))
          |           ELSE 0.0 END) / 2.0, 9) AS DECIMAL(28,9)) AS c2
          |  FROM x)
          |SELECT t.na AS n_tokens_a, t.nb AS n_tokens_b,
          |       (SELECT count(*) FROM c) AS n_vocab,
          |       (SELECT round(CAST(sum(c2) AS DOUBLE), 6) FROM y) AS jsd_bits
          |FROM t""".stripMargin)),

    // Entity resolution over deterministically-corrupted nation-name
    // records: normalize → block on prefix (pair work Σ|block|², never
    // n²) → levenshtein verify → transitive closure. The 'The X'
    // variants deliberately land in a different block — the blocking
    // recall trade, visible in the gate output.
    Q("q_ext_entity_resolution", (s, dir) => {
      // md5-derived base names: distinctive (the flat NATION_k fixture
      // names would all share one block and one edit ball), suffix
      // variant stays in its base's block, prefix variant leaves it.
      val nat = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("k"))
        .withColumn("base", substring(md5(col("k").cast("string")), 1, 8))
      val recs = nat.select((col("k") * 3).as("id"), col("base").as("name"))
        .unionByName(nat.select((col("k") * 3 + 1).as("id"),
          concat(col("base"), lit("s")).as("name")))
        .unionByName(nat.select((col("k") * 3 + 2).as("id"),
          concat(lit("Xq "), col("base")).as("name")))
      EntityResolution.resolve(recs, "id", "name")
    },
      oracle = Some(
        """WITH RECURSIVE nat AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS k,
          |         substring(md5(CAST(CAST(n_nationkey AS BIGINT) AS VARCHAR)), 1, 8)
          |           AS base
          |  FROM nation),
          |recs AS (
          |  SELECT k * 3 AS id, base AS name FROM nat
          |  UNION ALL SELECT k * 3 + 1, base || 's' FROM nat
          |  UNION ALL SELECT k * 3 + 2, 'Xq ' || base FROM nat),
          |r AS (
          |  SELECT id, regexp_replace(lower(name), '[^a-z0-9]', '', 'g') AS norm
          |  FROM recs),
          |rb AS (SELECT id, norm, substring(norm, 1, 3) AS blk FROM r),
          |pairs AS (
          |  SELECT a.id AS id_a, b.id AS id_b
          |  FROM rb a JOIN rb b ON b.blk = a.blk AND a.id < b.id
          |  WHERE levenshtein(a.norm, b.norm) <= 2),
          |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          |          UNION SELECT id_b, id_a FROM pairs),
          |reach(node, r2) AS (
          |  SELECT a, a FROM edges
          |  UNION
          |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r2 = e.a),
          |c AS (SELECT node, min(r2) AS cluster FROM reach GROUP BY node)
          |SELECT cluster AS entity_id, count(*) AS n_members,
          |       CAST(sum(node) AS BIGINT) AS id_sum
          |FROM c GROUP BY 1 HAVING count(*) >= 2""".stripMargin)),

    // Reliability curve for the learned quality filter: score deciles
    // vs realized outcome rate — Drift watches the model's inputs,
    // this watches its outputs stay calibrated (Reliability doc).
    Q("q_ext_reliability", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = QualityModel.hashedLinearScore(
        docs, "doc_id", "text", dim = 256, salt = "qm")
      val labeled = scored.join(
        docs.select(col("doc_id"), (length(col("text")) >= 200).as("good")),
        "doc_id")
      Reliability.curve(labeled, "score", "good", bins = 10)
    },
      oracle = Some({
        val w = QualityModel.weightSql("bucket")
        s"""WITH toks AS (
           |  SELECT doc_id,
           |         unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
           |  FROM documents),
           |b AS (
           |  SELECT doc_id,
           |         ((strpos('0123456789abcdef', substring(md5('qm' || t), 1, 1)) - 1) * 16
           |          + strpos('0123456789abcdef', substring(md5('qm' || t), 2, 1)) - 1)
           |           % 256 AS bucket
           |  FROM toks),
           |z AS (SELECT doc_id, avg($w) AS z FROM b GROUP BY 1),
           |sc AS (SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS score FROM z),
           |lab AS (SELECT doc_id, length(text) >= 200 AS good FROM documents),
           |j AS (
           |  SELECT CAST(least(CAST(floor(score * 10) AS INT), 9) AS BIGINT) AS bin,
           |         CAST(round(score, 6) AS DECIMAL(18,6)) AS s,
           |         CASE WHEN good THEN 1 ELSE 0 END AS pos
           |  FROM sc JOIN lab USING (doc_id))
           |SELECT bin, count(*) AS n,
           |       round(CAST(sum(s) AS DOUBLE) / count(*), 6) AS mean_score,
           |       round(CAST(sum(pos) AS DOUBLE) / count(*), 6) AS pos_rate
           |FROM j GROUP BY 1""".stripMargin
      })),

    // Theil–Sen robust trend per key: median of pairwise slopes over a
    // bounded hash-ordered sample (all-pairs is quadratic in ANY
    // engine); ≤29% arbitrary corruption cannot move the estimate —
    // the degradation-trend answer on dirty sensor series.
    Q("q_ext_theil_sen", (s, dir) =>
      graft.ops.TheilSen.slope(
        Tables.events(s, dir).select(col("event_type"), col("event_id"),
          graft.ops.TimeOps.epochSeconds(col("ts")).as("xs"), col("value")),
        "event_type", "event_id", "xs", "value", maxPoints = 60),
      oracle = Some(
        """WITH pts AS (
          |  SELECT event_type, event_id,
          |         CAST(CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE) AS x,
          |         CAST(value AS DOUBLE) AS y,
          |         row_number() OVER (PARTITION BY event_type
          |           ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
          |  FROM events),
          |s AS (SELECT event_type, x, y FROM pts WHERE rn <= 60),
          |p AS (
          |  SELECT a.event_type, (b.y - a.y) / (b.x - a.x) AS slope
          |  FROM s a JOIN s b ON b.event_type = a.event_type AND a.x < b.x),
          |sl AS (
          |  SELECT event_type, count(*) AS n_pairs,
          |         round(quantile_cont(slope, 0.5), 6) + 0.0 AS slope_med
          |  FROM p GROUP BY 1),
          |c AS (SELECT event_type, count(*) AS n_points FROM s GROUP BY 1)
          |SELECT c.event_type, c.n_points,
          |       COALESCE(sl.n_pairs, 0) AS n_pairs, sl.slope_med
          |FROM c LEFT JOIN sl USING (event_type)""".stripMargin)),

    // KMV bottom-k sketch set algebra: the distinct sketch HLL can't
    // be — exact bottom-k merge identity + union AND intersection
    // estimates, for audience-overlap / contamination questions from
    // two stored sketches instead of a distinct-join (Kmv doc).
    Q("q_ext_kmv_set_algebra", (s, dir) =>
      Kmv.setAlgebraContract(docWords(s, dir), "w", "doc_id"),
      oracle = Some(
        """WITH w AS (
          |  SELECT doc_id % 2 = 0 AS even,
          |         unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
          |  FROM documents),
          |t AS (SELECT DISTINCT w, even FROM w WHERE w <> ''),
          |g AS (
          |  SELECT w,
          |         max(CASE WHEN even THEN 1 ELSE 0 END) AS in_a,
          |         max(CASE WHEN NOT even THEN 1 ELSE 0 END) AS in_b
          |  FROM t GROUP BY 1)
          |SELECT CAST(sum(in_a) AS BIGINT) AS n_a,
          |       CAST(sum(in_b) AS BIGINT) AS n_b,
          |       CAST(sum(in_a * in_b) AS BIGINT) AS n_inter,
          |       count(*) AS n_union,
          |       CAST(1 AS BIGINT) AS merge_eq_direct,
          |       CAST(1 AS BIGINT) AS union_est_ok,
          |       CAST(1 AS BIGINT) AS inter_est_ok
          |FROM g""".stripMargin)),

    // Inter-annotator agreement over two deterministic synthetic raters
    // (same three-way threshold, one rater perturbed): the labeling-QA
    // gate upstream of Bradley-Terry. One confusion-cell shuffle,
    // bounded by categories², then exact-integer κ algebra.
    Q("q_ext_cohen_kappa", (s, dir) => {
      val cat = (v: org.apache.spark.sql.Column) =>
        when(v > 50.0, "pos").when(v > 20.0, "neu").otherwise("neg")
      val labeled = Tables.events(s, dir).select(
        cat(col("value")).as("rater_a"),
        cat(col("value") + (col("event_id") % 11).cast("double") - lit(5.0))
          .as("rater_b"))
      Agreement.cohenKappa(labeled, "rater_a", "rater_b")
    },
      oracle = Some(
        """WITH l AS (
          |  SELECT CASE WHEN value > 50.0 THEN 'pos'
          |              WHEN value > 20.0 THEN 'neu' ELSE 'neg' END AS la,
          |         CASE WHEN vb > 50.0 THEN 'pos'
          |              WHEN vb > 20.0 THEN 'neu' ELSE 'neg' END AS lb
          |  FROM (SELECT value,
          |               CAST(value AS DOUBLE) + CAST(event_id % 11 AS DOUBLE)
          |                 - CAST(5.0 AS DOUBLE) AS vb
          |        FROM events)),
          |cells AS (SELECT la, lb, count(*) AS c FROM l GROUP BY 1, 2),
          |t AS (
          |  SELECT CAST(sum(c) AS BIGINT) AS n,
          |         CAST(sum(CASE WHEN la = lb THEN c ELSE 0 END) AS BIGINT)
          |           AS n_agree
          |  FROM cells),
          |ma AS (SELECT la, sum(c) AS ca FROM cells GROUP BY 1),
          |mb AS (SELECT lb, sum(c) AS cb FROM cells GROUP BY 1),
          |p AS (SELECT sum(ca * cb) AS pe_num FROM ma JOIN mb ON mb.lb = ma.la)
          |SELECT n, n_agree,
          |       round(CAST(n_agree AS DOUBLE) / n, 6) AS po,
          |       round(CAST(pe_num AS DOUBLE)
          |             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
          |       CASE WHEN CAST(pe_num AS DOUBLE)
          |                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) < 1.0
          |            THEN round((CAST(n_agree AS DOUBLE) / n
          |                   - CAST(pe_num AS DOUBLE)
          |                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
          |              / (CAST(1.0 AS DOUBLE) - CAST(pe_num AS DOUBLE)
          |                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
          |       END AS kappa
          |FROM t, p""".stripMargin)),
  )

  /** Lower-cased word stream over `documents` with provenance columns —
    * the shared input of the sketch gates (same split spelling as the
    * heavy-hitters / BPE oracles: `[^a-z]+`, empties dropped).
    */
  private def docWords(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .filter(col("w") =!= "")

  /** Script-profile fixture tails, shared verbatim by query and oracle
    * (\u escapes so composed/decomposed status is explicit in source).
    */
  private val Cjk = "\u4f60\u597d\u4e16\u754c" // CJK: ni hao shi jie
  private val Cyr = "\u043c\u0438\u0440"       // Cyrillic: mir
}
