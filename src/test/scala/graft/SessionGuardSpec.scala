package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins the session policy to ONE place: every main takes its session
  * from [[GraftSession]], so a new main cannot quietly bring back a
  * divergent hand-built session (different CPU default, a missing AQE or
  * timestamp setting) and measure under a configuration the gate never
  * runs. Pure source scan — no SparkSession. Test sessions are out of
  * scope: they pin their own widths and extension configs on purpose.
  */
class SessionGuardSpec extends AnyFunSuite {

  test("SparkSession.builder() appears in src/main only inside GraftSession.scala") {
    val hits = SessionGuardSpec.codeHits("SparkSession.builder")
    assert(hits.nonEmpty && hits.forall(_.contains("/GraftSession.scala:")),
      s"sessions must come from GraftSession, found builders at: ${hits.mkString(", ")}")
  }
}

object SessionGuardSpec {

  /** `file:line` of every code line under src/main/scala containing
    * `token`; doc comments may show it as usage, only code counts.
    */
  def codeHits(token: String): Seq[String] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory,
      s"expected main sources at ${root.getAbsolutePath} (run tests from the repo root)")
    def sources(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    for {
      f <- sources(root)
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("//") && !code.startsWith("/*")
      if code.contains(token)
    } yield s"${f.getPath}:${i + 1}"
  }
}
