package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the durable stage protocol to ONE writer: the commit markers a
  * staged stage is read back by (`_SUCCESS` plus the `_schema.json`
  * sidecar) are written and checked only in [[graft.ops.Lineage]], so a
  * chain cannot grow a second stage writer whose commit check and
  * resume disagree with [[graft.ops.Lineage.staged]]. Pure source scan —
  * no SparkSession.
  */
class LineageGuardSpec extends AnyFunSuite {

  test("the stage commit markers appear in src/main only inside ops/Lineage.scala") {
    val hits = Seq("_SUCCESS", "_schema.json").flatMap(SessionGuardSpec.codeHits)
    assert(hits.nonEmpty && hits.forall(_.contains("/ops/Lineage.scala:")),
      s"stages must be written through Lineage.staged, found: " +
        hits.filterNot(_.contains("/ops/Lineage.scala:")).mkString(", "))
  }
}
