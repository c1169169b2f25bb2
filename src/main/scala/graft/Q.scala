package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query, declared once: its `plan` over an sf dir, the
  * DuckDB `oracle` SQL that gates its result (None = the driver's
  * rows-only check), an untimed bench `prep` (the store-backed gates
  * build their session store there), and whether it is a `fixture`
  * query — one that reads the authored files of
  * [[graft.io.VerifyFixtures]] instead of the sf tables, so the bench's
  * scaled pass skips it.
  *
  * The oracle is built on its first read. Only Verify reads oracles,
  * so the other readers of the registry neither build the 300 SQL
  * strings nor initialize the objects those strings interpolate.
  */
final class Q(val name: String, val plan: Q.Plan, oracleSql: => Option[String],
    val prep: Option[Q.Prep], val fixture: Boolean) {
  lazy val oracle: Option[String] = oracleSql
}

object Q {
  type Plan = (SparkSession, String) => DataFrame
  type Prep = (SparkSession, String) => Unit

  def apply(name: String, plan: Plan, oracle: => Option[String] = None,
      prep: Option[Prep] = None, fixture: Boolean = false): Q =
    new Q(name, plan, oracle, prep, fixture)

  /** The declarations by name. A name declared more than once raises an
    * `IllegalArgumentException` naming every such name, instead of one
    * declaration silently shadowing the other.
    */
  def index(qs: Seq[Q]*): Map[String, Q] = {
    val all = qs.flatten
    val dups = all.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"query names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    all.map(q => q.name -> q).toMap
  }
}
