package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the registry's shape: each query is one [[Query]] registration
  * carrying its builder and its oracle, and the name-keyed maps
  * are derived in [[SparkEntry]] only, so no family can grow a side map
  * whose keys must be kept in sync by hand. Pure checks — no
  * SparkSession.
  */
class RegistrySpec extends AnyFunSuite {

  test("deriving the registry rejects a name registered twice") {
    val build: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame
    val e = intercept[IllegalArgumentException] {
      Query.byName(Seq(Query("q_a", "SELECT 1")(build), Query("q_b", "SELECT 2")(build),
        Query("q_a", "SELECT 3")(build)))
    }
    assert(e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"), e.getMessage)
  }

  test("a name-to-builder map is built in src/main only inside SparkEntry.scala") {
    val hits = SessionGuardSpec.codeHits("Map[String, (SparkSession, String) => DataFrame]")
    assert(hits.nonEmpty && hits.forall(_.contains("/SparkEntry.scala:")),
      s"query maps must be derived in SparkEntry, found: ${hits.mkString(", ")}")
  }
}
