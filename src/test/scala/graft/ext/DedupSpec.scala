package graft.ext

import graft.SparkTestBase
import graft.obs.Profile
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  test("repeatedSubstringSpans: cross-doc and within-doc repeats merge to spans") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),                    // shares tokens 1-8 with doc 2
      (2L, "z1 z2 a b c d e f g h y"),                // the shared run sits at 3-10
      (3L, "m n o p q r s t m n o p q r s t"),        // internal repeat -> one merged span
      (4L, "entirely unique words without any repetition present here today")
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSubstringSpans(docs, "doc_id", "text", n = 8)
      .as[(Long, Int, Int)].collect().toSet
    assert(spans === Set((1L, 1, 8), (2L, 3, 10), (3L, 1, 16)))
  }

  test("repeatedSubstringSpans: docs shorter than the gram never mark") {
    val docs = Seq((1L, "tiny doc"), (2L, "tiny doc")).toDF("doc_id", "text")
    assert(Dedup.repeatedSubstringSpans(docs, "doc_id", "text", n = 8).isEmpty)
  }

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the old river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the old river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the old river bank tonight"), // near dup
    (4L, "completely different words about spark catalyst optimizer and shuffle plans")
  ).toDF("doc_id", "text")

  test("exactGroups keeps min id and counts dups") {
    val g = Dedup.exactGroups(docs, "doc_id", "text").orderBy("keep_id").collect()
    assert(g.length === 3)
    assert(g(0).getLong(1) === 1L && g(0).getLong(2) === 2L) // ids 1+2 collapse
    val deduped = Dedup.dropExactDuplicates(docs, "doc_id", "text")
    assert(deduped.select("doc_id").as[Long].collect().toSet === Set(1L, 3L, 4L))
  }

  test("wordJaccardPairs finds near and exact dups, not unrelated docs") {
    val pairs = Dedup.wordJaccardPairs(docs, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L))) // exact dup -> jaccard 1
    assert(keys.contains((1L, 3L))) // near dup (one word differs)
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L))
    assert(pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3 === 1.0)
  }

  test("per-source dup-rate micro arithmetic: exact distinct over content") {
    val df = Seq(
      ("s0", "same text"), ("s0", "same text"), ("s0", "other"),
      ("s1", "unique one"), ("s1", "unique two")
    ).toDF("source", "text")
    val got = df.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), countDistinct($"text").as("n_distinct"))
      .select($"source",
        expr("((n_docs - n_distinct) * 1000000L) DIV n_docs").as("r"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("r")).toMap
    assert(got("s0") === 333333L) // 1 dup of 3 docs -> floor(1e6/3)
    assert(got("s1") === 0L)
  }

  test("wordContainmentPairs scores subset docs asymmetrically, exact dups at 1e6") {
    val subset = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1
      (3L, "alpha beta gamma"),                              // strict subset of 1
      (4L, "omega psi chi phi")                              // unrelated
    ).toDF("doc_id", "text")
    val got = Dedup.wordContainmentPairs(subset, "doc_id", "text",
        minContainment = 0.8)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[Long]("cont_a_in_b"), r.getAs[Long]("cont_b_in_a")))
      .toMap
    // exact dup: both directions 1.0
    assert(got((1L, 2L)) === ((1000000L, 1000000L)))
    // subset: doc 3 fully inside doc 1 (and 2); reverse is 3/8
    assert(got((1L, 3L)) === ((375000L, 1000000L)))
    assert(got((2L, 3L)) === ((375000L, 1000000L)))
    // unrelated doc shares no tokens -> never paired
    assert(!got.keySet.exists(p => p._1 == 4L || p._2 == 4L))
    // jaccard would have REJECTED the subset pair at the same bar:
    // |A∩B|/|A∪B| = 3/8 < 0.8 — the asymmetry is the point
    val jac = Dedup.wordJaccardPairs(subset, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 3L)))
  }

  test("shingles produces word n-grams; short docs collapse to one shingle") {
    val got = Seq("a b c d", "a b").toDF("text")
      .select(Dedup.shingles($"text", 3)).as[Seq[String]].collect()
    assert(got(0) === Seq("a b c", "b c d"))
    assert(got(1) === Seq("a b"))
  }

  test("bulk minhash aggregate is bit-identical to the expression spelling") {
    val exprSide = docs.select(
      $"doc_id".as("id"),
      Dedup.minHashSignature(Dedup.shingles($"text", 3), 64).as("sig"))
    val bulkSide = Dedup.minHashSignatures(docs, "doc_id", "text", 3, 64)
    val joined = exprSide.as("a").join(bulkSide.as("b"), Seq("id"))
      .select($"a.sig", $"b.sig").as[(Seq[Long], Seq[Long])].collect()
    assert(joined.length === 4)
    joined.foreach { case (a, b) => assert(a === b) }
  }

  test("minHashPairs surfaces near-dups and skips unrelated docs") {
    val pairs = Dedup.minHashPairs(docs, "doc_id", "text",
      shingleN = 3, perms = 64, bands = 16, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("wordJaccardPairs with maxDocFreq builds its plan without running a job") {
    val (frame, stats) = Profile(spark)(
      Dedup.wordJaccardPairs(docs, "doc_id", "text", 0.5, maxDocFreq = 0.9))
    assert(frame.columns.toSeq === Seq("id_a", "id_b", "jaccard"))
    assert(stats.jobs === 0, "operator construction must not run a Spark job")
    // and the pruned plan still finds the exact dup when materialized
    val keys = frame.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys.contains((1L, 2L)))
  }

  test("minHashPairs drops degenerate hot buckets instead of going quadratic") {
    // 60 identical docs + one near-dup pair of a distinct text: every band
    // bucket of the identical group holds 60 docs, far over the cap.
    val hot = (1L to 60L).map(i => (i, "aa bb cc dd ee ff gg hh ii jj kk ll mm nn"))
    val pair = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (101L, "the quick brown fox jumps over the lazy dog near the river bend"))
    val corpus = (hot ++ pair).toDF("doc_id", "text")
    val pairs = Dedup.minHashPairs(corpus, "doc_id", "text",
      shingleN = 3, perms = 64, bands = 16, minJaccard = 0.5, maxBucket = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the degenerate identical group is suppressed (exactGroups' job)...
    assert(!pairs.exists(p => p._1 <= 60L || p._2 <= 60L))
    // ...while the genuine near-dup pair in healthy buckets survives
    assert(pairs === Set((100L, 101L)))
    // and with the cap disabled-high, the identical group floods back in
    val uncapped = Dedup.minHashPairs(corpus, "doc_id", "text",
      shingleN = 3, perms = 64, bands = 16, minJaccard = 0.5, maxBucket = 10000)
      .collect()
    assert(uncapped.length === 60 * 59 / 2 + 1)
  }

  test("verifyByEditDistance: exact metric over candidates only, threshold filters") {
    val corpus = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fax"),   // distance 1 from doc 1
      (3L, "completely different words here")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.verifyByEditDistance(pairs, corpus, "doc_id", "text", maxDist = 5)
      .select("id_a", "id_b", "edit_dist")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(got === Map((1L, 2L) -> 1)) // (1,3) exceeds the threshold
  }

  test("capCandidatesPerDoc keeps each id_b's top-j by (jaccard desc, id_a)") {
    val pairs = Seq(
      (1L, 9L, 0.85), (2L, 9L, 0.95), (3L, 9L, 0.95), (4L, 9L, 0.80),
      (1L, 8L, 0.90)
    ).toDF("id_a", "id_b", "jaccard")
    val got = Dedup.capCandidatesPerDoc(pairs, j = 2)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 9 keeps its two best partners — the 0.95s, tie broken toward
    // the LOWER id_a (2 then 3); 0.85 and 0.80 are cut. doc 8 is under
    // the cap and untouched.
    assert(got === Set((2L, 9L), (3L, 9L), (1L, 8L)))
  }

  test("ngramContamination counts distinct shared n-grams, clean docs absent") {
    val train = Seq((1L, "the cat sat on the mat")).toDF("doc_id", "text")
    val test = Seq(
      (10L, "he said the cat sat on a rug"),   // shares "the cat sat", "cat sat on"
      (11L, "completely novel words only here"),
      (12L, "the cat sat the cat sat")          // dup gram counted once
    ).toDF("doc_id", "text")
    val got = Dedup.ngramContamination(train, test, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // doc 10 shares {"the cat sat", "cat sat on"}; doc 12's distinct
    // trigrams {the cat sat, cat sat the, sat the cat} share only the
    // first (its repetition counts once); doc 11 is clean and absent.
    assert(got === Map(10L -> 2L, 12L -> 1L))
  }

  test("verifyByEditDistance plans its own repartition (AQE must not serialize the distance map)") {
    val corpus = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val plan = Dedup.verifyByEditDistance(pairs, corpus, "doc_id", "text", 5)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("REPARTITION_BY_NUM"),
      s"expected an explicit width-pinned exchange above the pair detector, got:\n$plan")
  }

  test("keepBest keeps the max-priority member per cluster, min-id on ties") {
    // cluster {1,2,3} via chain edges; 4 unclustered. Priorities: doc 2
    // wins on value; docs 1/3 tie at 5 → never matters; second cluster
    // {10,11} ties at 9 → min id 10 wins.
    val df = Seq(
      (1L, 5L), (2L, 8L), (3L, 5L), (4L, 1L), (10L, 9L), (11L, 9L)
    ).toDF("id", "prio")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = Dedup.keepBest(df, "id", pairs, $"prio")
      .select("id").as[Long].collect().toSet
    assert(kept === Set(2L, 4L, 10L))
  }

  test("keepBest with no pairs keeps everything") {
    val df = Seq((1L, 5L), (2L, 8L)).toDF("id", "prio")
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.keepBest(df, "id", none, $"prio").count() === 2L)
  }

  test("simHash: identical text equal, near text close, unrelated far") {
    val fps = docs.select(Dedup.simHash64($"text")).as[Long].collect()
    assert(fps(0) === fps(1))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(fps(0), fps(2)) <= 16)
    assert(hamming(fps(0), fps(3)) > 16)
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simHashPairs: sorted-neighborhood cap bounds per-doc pairs, keeps classes connected") {
    // 12 identical docs -> one duplicate class sharing every band. With
    // maxNeighbors = 2, pair generation must stay O(m·w), and the class
    // must remain TRANSITIVELY connected through the neighbor chain
    // (identical fingerprints are rank-adjacent in (sh, id) order).
    val many = (1L to 12L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(many, "doc_id", "text",
        maxHamming = 3, maxNeighbors = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // per-doc degree on the capped side is bounded by bands x w = 8
    val degree = pairs.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).map(_._2.size)
    assert(degree.max <= 8, s"cap leaked: max degree ${degree.max}")
    // union-find: all 12 docs land in one component
    val parent = scala.collection.mutable.Map((1L to 12L).map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    assert((1L to 12L).map(find).toSet.size === 1,
      "the duplicate class lost transitive connectivity under the cap")
  }

  test("simHashPairs: near-dup pair still found under the default cap") {
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("segmentDedup strips corpus-frequent segments and reassembles in order") {
    // Segment unit = 2 words. "ad spam" opens 3 of 4 docs -> boilerplate
    // at maxDocFreq=3; the rest of each doc must survive verbatim.
    val df = Seq(
      (1L, "ad spam alpha beta gamma delta"),
      (2L, "ad spam epsilon zeta"),
      (3L, "ad spam eta theta"),
      (4L, "iota kappa lambda")
    ).toDF("id", "text")
    val got = Dedup.segmentDedup(df, "id", "text", segWords = 2, maxDocFreq = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === (("alpha beta gamma delta", 2L, 1L)))
    assert(got(2L) === (("epsilon zeta", 1L, 1L)))
    assert(got(3L) === (("eta theta", 1L, 1L)))
    assert(got(4L) === (("iota kappa lambda", 2L, 0L))) // trailing partial segment kept
  }

  test("segmentDedup: a fully-boilerplate doc survives as an empty row") {
    val df = Seq(
      (1L, "x y"), (2L, "x y"), (3L, "x y")
    ).toDF("id", "text")
    val got = Dedup.segmentDedup(df, "id", "text", segWords = 2, maxDocFreq = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    assert(got.size === 3)
    assert(got.values.forall(_ == (("", 1L))))
  }

  test("segmentDedup counts document frequency, not occurrences") {
    // "x y" appears twice INSIDE doc 1 but only in 2 distinct docs ->
    // below maxDocFreq=3, nothing dropped.
    val df = Seq(
      (1L, "x y x y"), (2L, "x y a b"), (3L, "c d e f")
    ).toDF("id", "text")
    val got = Dedup.segmentDedup(df, "id", "text", segWords = 2, maxDocFreq = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got.values.sum === 0L)
  }

  test("sourceOverlap: jaccard/containment from normalized fingerprints") {
    val df = Seq(
      ("A", "alpha beta"), ("A", "gamma delta"),
      ("B", "Alpha, beta!"), // normalizes identically to A's first doc
      ("B", "epsilon zeta"),
      ("C", "epsilon zeta")
    ).toDF("src", "text")
    val got = Dedup.sourceOverlap(df, "text", "src")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))))
      .toMap
    // A∩B = {alpha beta}: jaccard 1/3, containment 1/2
    assert(got(("A", "B")) === ((2L, 2L, 1L, 0.333333, 0.5)))
    // B∩C = {epsilon zeta}: containment 1.0 — C is a subset of B
    assert(got(("B", "C")) === ((2L, 1L, 1L, 0.5, 1.0)))
    assert(!got.contains(("A", "C")), "disjoint pairs emit no row")
  }

  test("ngramNovelty: seen shingles score 0, unseen score 1, mixes between") {
    val ref = Seq((100L, "a b c d")).toDF("id", "text") // bigrams ab bc cd
    val cand = Seq(
      (1L, "a b c"),     // ab bc -> both seen, novelty 0
      (2L, "x y z"),     // xy yz -> both novel, novelty 1
      (3L, "a b x y"),   // ab seen; bx xy novel -> 2/3
      (4L, "solo")       // no bigram -> no row
    ).toDF("id", "text")
    val got = Dedup.ngramNovelty(cand, ref, "id", "text", n = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got === Map(
      1L -> ((2L, 0L, 0.0)),
      2L -> ((2L, 2L, 1.0)),
      3L -> ((3L, 2L, 0.666667))))
  }

  test("ngramNovelty counts DISTINCT shingles once") {
    val ref = Seq((1L, "p q")).toDF("id", "text")
    val cand = Seq((9L, "p q p q p q")).toDF("id", "text")
    // distinct bigrams of cand: "p q", "q p" -> one seen, one novel
    val got = Dedup.ngramNovelty(cand, ref, "id", "text", n = 2)
      .collect().head
    assert((got.getLong(1), got.getLong(2), got.getDouble(3))
      === ((2L, 1L, 0.5)))
  }

  test("winnowing theorem: a shared run of >= w+k-1 tokens must collide") {
    // k=3, w=3: any shared substring of >= 5 tokens guarantees a
    // shared fingerprint. The two docs share a 7-token run embedded in
    // otherwise-disjoint text.
    val shared = "alpha beta gamma delta epsilon zeta eta"
    val docs = Seq(
      (1L, s"one two three $shared four five six"),
      (2L, s"red blue $shared green yellow purple"),
      (3L, "completely different words everywhere honestly"))
      .toDF("id", "text")
    val fps = Dedup.winnowingFingerprints(docs, "id", "text", k = 3, window = 3)
    val byDoc = fps.collect().groupBy(_.getLong(0))
      .map { case (k2, v) => k2 -> v.map(_.getString(1)).toSet }
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty,
      "guaranteed collision for the shared run")
    val pairs = Dedup.winnowingPairs(docs, "id", "text", k = 3, window = 3,
        minShared = 1L, capDf = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "the unrelated doc pairs with nothing")
  }

  test("winnowing: hot-fingerprint cap drops boilerplate grams from the join") {
    // every doc shares the same 5-token boilerplate: with capDf below
    // the doc count the boilerplate fingerprints are excluded and no
    // pairs survive.
    val docs = (1L to 10L).map(i =>
      (i, s"standard legal disclaimer text here unique$i")).toDF("id", "text")
    val none = Dedup.winnowingPairs(docs, "id", "text", k = 3, window = 3,
      minShared = 1L, capDf = 5L)
    assert(none.count() === 0L)
    val some = Dedup.winnowingPairs(docs, "id", "text", k = 3, window = 3,
      minShared = 1L, capDf = 10L)
    assert(some.count() === 10L * 9L / 2L)
  }
}
