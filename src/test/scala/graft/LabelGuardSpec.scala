package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the DuckDB label oracle to ONE definition: connected components
  * are computed in SQL only by [[graft.OracleSql.clusterLabelCtesFrom]]'s
  * recursive closure, so no query can grow a hand-unrolled round chain
  * that splits a near-dup chain longer than its round count while the
  * Spark side ([[graft.ops.Dedup.clusterLabels]]) runs to the fixed
  * point. Pure source scan — no SparkSession.
  */
class LabelGuardSpec extends AnyFunSuite {

  test("no hand-unrolled label round is left in src/main") {
    val hits = SessionGuardSpec.codeHits("UNION ALL SELECT e.src AS doc_id")
    assert(hits.isEmpty, s"label rounds must come from clusterLabelCtesFrom, found: " +
      hits.mkString(", "))
  }

  test("WITH RECURSIVE appears in src/main only inside OracleSql.scala") {
    val hits = SessionGuardSpec.codeHits("WITH RECURSIVE")
    assert(hits.nonEmpty && hits.forall(_.contains("/OracleSql.scala:")),
      s"recursive SQL must live in OracleSql, found: " +
        hits.filterNot(_.contains("/OracleSql.scala:")).mkString(", "))
  }
}
