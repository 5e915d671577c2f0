package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins JVM-global harness state to ONE owner: concurrent caches,
  * scratch dirs and exit hooks live in [[Memo]], so a new one-time build
  * cannot bring back a hand-kept cache that [[Memo.prewarm]] and the
  * exit cleanup do not know about. Pure source scan — no SparkSession.
  */
class MemoGuardSpec extends AnyFunSuite {

  test("caches, temp dirs and exit hooks appear in src/main only inside Memo.scala") {
    val tokens =
      Seq("ConcurrentHashMap", "ConcurrentLinkedQueue", "addShutdownHook", "createTempDirectory")
    val hits = tokens.flatMap(SessionGuardSpec.codeHits)
    assert(hits.nonEmpty && hits.forall(_.contains("/Memo.scala:")),
      s"JVM-global state must live in Memo, found: ${hits.filterNot(_.contains("/Memo.scala:")).mkString(", ")}")
  }
}
