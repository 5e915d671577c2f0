package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.Rag

/** Driver contract — one named query per implemented operator
  * (SURVEY.md §2), each with equivalent DuckDB SQL for the oracle gate.
  * The queries are registered by family, one object per family, each
  * registration carrying its Spark builder next to its oracle SQL;
  * both name-keyed maps are derived once from that one list.
  *
  * Determinism conventions (SURVEY §7.4): every query ends in a total
  * ORDER BY; DOUBLE outputs are rounded (2 dp for money sums, 4–6 dp for
  * ratios/scores); integers are BIGINT on both sides; window/sort keys are
  * never NULL. Vector math is double-precision sequential left-folds on
  * both sides, so raw scores are bit-identical pre-rounding.
  */
object SparkEntry {

  /** Flagship query (reference §3.2 pipeline) on sf0.001; rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    Rag.flagship(spark, "/root/testdata/sf0.001")

  private val registry: Map[String, Query] = Query.byName(
    RelationalQueries.entries ++ VectorQueries.entries ++ RagQueries.entries ++
      DedupQueries.entries ++ AnnQueries.entries ++ TextQueries.entries ++
      MultimodalQueries.entries ++ SparkEntryExt.entries ++ SparkEntryStream.entries)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.build }

  val oracleSql: Map[String, String] = registry.map { case (n, q) => n -> q.oracle }
}
