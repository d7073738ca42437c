package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a registered query's rows are checked. */
sealed trait Oracle

/** DuckDB SQL over the same tables, rendered on first use. */
final class Sql private[registry] (render: => String) extends Oracle {
  lazy val text: String = render
}

/** Rows-only: the query keys on a Spark-internal hash DuckDB cannot
  * replay, and the registered query `name` is its hash-exact portable
  * twin. */
final case class Twin(name: String) extends Oracle

/** One registered query: its name, how it builds on a scale directory,
  * and its oracle. */
final case class Query(name: String,
    build: (SparkSession, String) => DataFrame, oracle: Oracle)

object Query {
  def sql(render: => String): Oracle = new Sql(render)
}

/** Every registered query, one record each, gathered from the per-family
  * files. */
private[graft] object Registry {
  /** Indexes `records` by name; a name may be registered once. */
  def index(records: Seq[Query]): Map[String, Query] = {
    val dups = records.groupBy(_.name).collect { case (n, rs) if rs.sizeIs > 1 => n }
    require(dups.isEmpty, s"query names registered more than once: ${dups.toSeq.sorted.mkString(", ")}")
    records.map(r => r.name -> r).toMap
  }

  lazy val byName: Map[String, Query] = index(
    EtlQueries.all ++ StatsQueries.all ++ SketchQueries.all ++
      TextQueries.all ++ VectorQueries.all ++ GraphQueries.all ++
      StreamQueries.all)
}
