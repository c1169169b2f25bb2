package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The engine's star schema plus `events`, `documents` and `embeddings`,
  * generated in the shapes and value domains the query registries expect
  * (one parquet per table, `<dir>/<name>.parquet`). `scale` 1.0 is 60,000
  * lineitem rows.
  */
object MixData {

  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val PartTypes = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val Adjectives = Array("small", "red", "blue", "hot", "cold", "old", "new", "big")
  private val Nouns = Array("ring", "widget", "bolt", "gear", "rod", "plate", "anvil", "nut")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "view", "purchase", "signup", "error")
  private val Langs = Array("en", "en", "en", "zh", "de", "fr", "es")
  private val Words = ("a the key agg row scan slow fast table value part hash merge batch " +
    "spark line sort window data column join small big customer query order group filter " +
    "stream vector").split(" ")

  private def micros(y: Int, m: Int, d: Int): Long =
    java.time.LocalDate.of(y, m, d).toEpochDay * 86400L * 1000000L

  /** Writes every table under `dir`; returns the total row count. */
  def write(spark: SparkSession, dir: String, seed: Long, scale: Double): Long = {
    val r = new SplittableRandom(seed)
    def pick[T](a: Array[T]): T = a(r.nextInt(a.length))
    def cents(lo: Double, hi: Double): Double = math.rint((lo + r.nextDouble() * (hi - lo)) * 100) / 100
    val nCust = (1500 * scale).toInt.max(50)
    val nSupp = (100 * scale).toInt.max(10)
    val nPart = (2000 * scale).toInt.max(50)
    val nOrders = (15000 * scale).toInt.max(100)
    val nEvents = (10000 * scale).toInt.max(100)
    val nDocs = (500 * scale).toInt.max(50)
    val days95 = micros(1995, 1, 1)
    val dayUs = 86400L * 1000000L

    def save(name: String, schema: StructType, rows: Seq[Row]): Long = {
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
      rows.length
    }
    def f(n: String, t: DataType) = StructField(n, t)

    var total = 0L
    total += save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map {
        case (n, i) => Row(i, n) })
    total += save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    total += save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        cents(-999.99, 9999.99), pick(Segments))))
    total += save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        cents(-999.99, 9999.99))))
    total += save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong, s"${pick(Adjectives)} ${pick(Nouns)}",
        s"Brand#${1 + r.nextInt(25)}", pick(PartTypes), 1 + r.nextInt(50),
        900.0 + (i % 1000) / 10.0)))
    val orderDate = Array.fill(nOrders)(days95 + r.nextInt(2404) * dayUs)
    total += save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, r.nextInt(nCust).toLong, pick(Array("F", "O", "P")),
        cents(1000, 500000), java.time.LocalDateTime.ofEpochSecond(orderDate(i) / 1000000L, 0,
          java.time.ZoneOffset.UTC), pick(Priorities))))
    val lineRows = Seq.newBuilder[Row]
    (0 until nOrders).foreach { o =>
      (1 to 1 + r.nextInt(7)).foreach { ln =>
        val q = (1 + r.nextInt(50)).toDouble
        val ship = orderDate(o) + (1 + r.nextInt(121)) * dayUs
        lineRows += Row(o.toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, ln, q,
          math.rint(q * (900 + r.nextInt(1200)) * 100) / 100, r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, pick(Array("A", "N", "R")), pick(Array("F", "O")),
          java.time.LocalDateTime.ofEpochSecond(ship / 1000000L, 0, java.time.ZoneOffset.UTC))
      }
    }
    total += save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))), lineRows.result())
    val jan24 = micros(2024, 1, 1)
    var t = jan24
    total += save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until nEvents).map { i =>
        t += (r.nextDouble() * 2 * 30 * dayUs / nEvents).toLong
        Row(i.toLong, java.time.LocalDateTime.ofEpochSecond(t / 1000000L,
          (t % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC),
          r.nextInt(150).toLong, pick(EventTypes), cents(0.01, 490), s"""{"k": ${r.nextInt(100)}}""")
      })
    total += save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      {
        // every tenth document near-duplicates the one nine before it
        val texts = scala.collection.mutable.ArrayBuffer[String]()
        (0 until nDocs).map { i =>
          val words =
            if (i % 10 == 9) texts(i - 9).split(" ").updated(r.nextInt(8), pick(Words)).toSeq
            else Seq.fill(8 + r.nextInt(90))(pick(Words))
          val text = words.mkString(" ")
          texts += text
          Row(i.toLong, text, pick(Langs), s"src${i % 20}", text.length.toLong)
        }
      })
    total += save("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until nDocs).map { i =>
        val label = r.nextInt(10)
        // ten clusters: a label-dependent center plus noise
        Row(i.toLong, (0 until 64).map { d =>
          (0.25 * math.sin(label * 7.0 + d) + 0.1 * (r.nextDouble() - 0.5)).toFloat }, label)
      })
    total
  }
}
