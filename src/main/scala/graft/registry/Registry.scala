package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry operator: `build` returns its DataFrame over an sf
  * directory of parquet tables, and `oracle` is the DuckDB SQL that must
  * return the same rows over the same tables (parity conventions: the
  * [[graft.SparkEntry]] doc). */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

/** A set of queries keyed by name. Construction fails on a repeated name
  * and names it, so one family's query can never silently shadow
  * another's. */
final class Registry(queries: Seq[Query]) {
  private val repeated =
    queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
  require(repeated.isEmpty,
    s"duplicate query name(s): ${repeated.toSeq.sorted.mkString(", ")}")

  val builds: Map[String, (SparkSession, String) => DataFrame] =
    queries.map(q => q.name -> q.build).toMap
  val oracles: Map[String, String] =
    queries.map(q => q.name -> q.oracle).toMap
}

object Registry {
  /** Every family's queries: the registry behind `SparkEntry.queries`. */
  lazy val default: Registry = new Registry(
    ReferenceQueries.queries ++ SrcQueries.queries ++
      StreamQueries.queries ++ DedupQueries.queries ++
      EmbQueries.queries ++ TextQueries.queries ++ MediaQueries.queries ++
      RelSqlQueries.queries ++ RelWindowQueries.queries ++
      RelSketchQueries.queries ++ RelJoinQueries.queries ++
      RelStatQueries.queries ++ RelGraphQueries.queries)
}
