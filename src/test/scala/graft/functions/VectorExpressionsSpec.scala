package graft.functions

import graft.SparkTestBase
import graft.ext.Similarity
import org.apache.spark.sql.functions._

class VectorExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  test("native dot/cosine agree with the higher-order forms exactly") {
    val rnd = new scala.util.Random(42)
    val vecs = Seq.fill(50)((
      Array.fill(64)(rnd.nextFloat() * 2 - 1),
      Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("a", "b")
      .select(Similarity.asDouble($"a").as("a"), Similarity.asDouble($"b").as("b"))
    val got = df.select(
      VectorExpressions.vecDot($"a", $"b").as("nd"),
      Similarity.dot($"a", $"b").as("hd"),
      VectorExpressions.vecCosine($"a", $"b").as("nc"),
      Similarity.cosine($"a", $"b").as("hc")).collect()
    got.foreach { r =>
      assert(r.getDouble(0) === r.getDouble(1)) // bit-exact: same summation order
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-15)
    }
  }

  test("expressions survive codegen (no fallback crash) and SQL registration") {
    val r = spark.sql(
      "SELECT vec_cosine(CAST(array(1.0,0.0) AS ARRAY<DOUBLE>), CAST(array(1.0,0.0) AS ARRAY<DOUBLE>)) AS c")
      .head().getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("text-hash expressions are SQL-registered via the session extension") {
    // the extension session (Sessions.tuned) injects them; compare the
    // SQL spelling against the Column API bit-for-bit
    val viaSql = spark.sql(
      "SELECT simhash64(array('a','b','c')) AS s, rolling_xxhash64(array('a','b','c')) AS r")
      .head()
    val viaCol = Seq(Seq("a", "b", "c")).toDF("t")
      .select(TextHashExpressions.simHash64($"t").as("s"),
        TextHashExpressions.rollingXxHash64($"t", 42L).as("r"))
      .head()
    assert(viaSql.getLong(0) === viaCol.getLong(0))
    assert(viaSql.getLong(1) === viaCol.getLong(1))
  }

  test("SQL-registered functions reject wrong arity instead of ignoring arguments") {
    // a silently-dropped extra argument (e.g. a caller-passed seed)
    // would return the wrong hash with no diagnostic
    intercept[Exception] {
      spark.sql("SELECT rolling_xxhash64(array('a'), 7)").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT vec_cosine(array(1.0d))").collect()
    }
  }

  test("a cosine top-k leaves vec_dot's SQL arity check in place") {
    // the Column API must not re-register the SQL names per session: a
    // session function would replace the extension's arity-checked one
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.6f, 0.8f))).toDF("id", "vec")
    assert(Similarity.bruteForceTopK(vecs, vecs, k = 1).count() === 2)
    val e = intercept[Exception] {
      spark.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d), array(9.0d))").collect()
    }
    assert(e.getMessage.contains("vec_dot takes exactly 2 argument(s), got 3"), e.getMessage)
  }

  test("null input yields null, not a crash") {
    val r = spark.sql("SELECT vec_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS d").head()
    assert(r.isNullAt(0))
  }
}
