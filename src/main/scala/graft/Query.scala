package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the DuckDB statement the oracle
  * gate checks its output against, and its Spark builder over
  * `(session, sfDir)`. A query family lists its registrations as
  * `entries`; [[SparkEntry]] derives the name-keyed `queries` and
  * `oracleSql` maps from all of them.
  */
final case class Query(name: String, oracle: String)(val build: (SparkSession, String) => DataFrame)

object Query {

  /** `regs` keyed by name. A name registered twice is an error: a map
    * literal or `++` would silently keep the last one.
    */
  def byName(regs: Seq[Query]): Map[String, Query] = {
    val repeated = regs.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(repeated.isEmpty,
      s"query names registered more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    regs.map(q => q.name -> q).toMap
  }
}
