package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins k-means to ONE trainer per engine: the IVF quantizer and the PQ
  * codebooks train through [[graft.ops.SimilaritySearch.lloyd]] in
  * Spark and [[graft.OracleSql.kmeansCtes]] in the DuckDB oracle, so the
  * seeding, rounding and stale-cell rules cannot drift between the two
  * quantizers. Pure source scan — no SparkSession.
  */
class KmeansGuardSpec extends AnyFunSuite {

  test("the Spark centroid update appears only in SimilaritySearch.scala") {
    val hits = SessionGuardSpec.codeHits("\"__upd\"")
    assert(hits.nonEmpty && hits.forall(_.contains("/ops/SimilaritySearch.scala:")),
      s"centroid updates must come from SimilaritySearch.lloyd, found: " +
        hits.filterNot(_.contains("/ops/SimilaritySearch.scala:")).mkString(", "))
  }

  test("the nearest-cell kernel is called only from SimilaritySearch.scala, which has no cut") {
    val hits = SessionGuardSpec.codeHits("VectorExpressions.nearestCells(")
    assert(hits.nonEmpty && hits.forall(_.contains("/ops/SimilaritySearch.scala:")),
      s"cell assignment must go through SimilaritySearch.nearestCells, found: " +
        hits.filterNot(_.contains("/ops/SimilaritySearch.scala:")).mkString(", "))
    val cuts = SessionGuardSpec.codeHits("localCheckpoint")
      .filter(_.contains("/ops/SimilaritySearch.scala:"))
    assert(cuts.isEmpty, s"the driver-held Lloyd model needs no cut, found: ${cuts.mkString(", ")}")
  }

  test("the SQL stale-cell update appears only in OracleSql.scala") {
    val hits = SessionGuardSpec.codeHits("coalesce(u.c, p.c)")
    assert(hits.nonEmpty && hits.forall(_.contains("/OracleSql.scala:")),
      s"oracle k-means updates must come from OracleSql.kmeansCtes, found: " +
        hits.filterNot(_.contains("/OracleSql.scala:")).mkString(", "))
  }
}
