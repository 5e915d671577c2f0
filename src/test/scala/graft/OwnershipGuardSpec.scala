package graft

import java.util.regex.Pattern
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Pins each engine-wide policy to ONE owning file: one test per rule,
  * each a row of (token, owner, reason), so a failure names its rule.
  * Pure source scan of src/main — no SparkSession. Test sessions are out
  * of scope: they pin their own widths and extension configs on purpose.
  */
class OwnershipGuardSpec extends AnyFunSuite {
  import OwnershipGuardSpec._

  private def tokens(ts: String*): Regex = ts.map(Pattern.quote).mkString("|").r

  /** The row shape: every code hit of `pattern` within `scope` lies in
    * `owner`, and there is at least one (a renamed token fails loudly
    * instead of passing vacuously).
    */
  private def owned(pattern: Regex, owner: String, reason: String,
      scope: String => Boolean = _ => true): Unit = {
    val hits = codeHits(pattern).filter(scope)
    assert(hits.nonEmpty && hits.forall(_.contains(owner)), s"$reason; found outside $owner: " +
      (if (hits.isEmpty) "(token gone)" else hits.filterNot(_.contains(owner)).mkString(", ")))
  }

  /** The row shape with no owner: `pattern` has no code hit within `scope`. */
  private def absent(pattern: Regex, reason: String, scope: String => Boolean = _ => true): Unit = {
    val hits = codeHits(pattern).filter(scope)
    assert(hits.isEmpty, s"$reason; found: ${hits.mkString(", ")}")
  }

  private val retrievalOps =
    Seq("Knn", "SimilaritySearch", "Pq", "Retrieval", "Rag").map(n => s"/ops/$n.scala:")

  test("SparkSession.builder() appears in src/main only inside GraftSession.scala") {
    owned(tokens("SparkSession.builder"), "/GraftSession.scala:",
      "every main takes its session from GraftSession, so none measures under a " +
        "hand-built configuration (CPU default, AQE, timestamps) the gate never runs")
  }

  test("caches, temp dirs and exit hooks appear in src/main only inside Memo.scala") {
    owned(tokens("ConcurrentHashMap", "ConcurrentLinkedQueue", "addShutdownHook",
        "createTempDirectory"), "/Memo.scala:",
      "JVM-global state lives in Memo, so Memo.prewarm and the exit cleanup know every build")
  }

  test("the stage commit markers appear in src/main only inside ops/Lineage.scala") {
    owned(tokens("_SUCCESS", "_schema.json"), "/ops/Lineage.scala:",
      "stages are written through Lineage.staged, so commit check and resume cannot disagree")
  }

  test("no hand-unrolled label round is left in src/main") {
    absent(tokens("UNION ALL SELECT e.src AS doc_id"),
      "label rounds come from clusterLabelCtesFrom, whose closure has no round count")
  }

  test("WITH RECURSIVE appears in src/main only inside OracleSql.scala") {
    owned(tokens("WITH RECURSIVE"), "/OracleSql.scala:",
      "recursive SQL lives in OracleSql (the one label closure)")
  }

  test("the Spark centroid update appears only in SimilaritySearch.scala") {
    owned(tokens("\"__upd\""), "/ops/SimilaritySearch.scala:",
      "centroid updates come from SimilaritySearch.lloyd, the one k-means trainer")
  }

  test("the nearest-cell kernel is called only from SimilaritySearch.scala") {
    owned(tokens("VectorExpressions.nearestCells("), "/ops/SimilaritySearch.scala:",
      "cell assignment goes through SimilaritySearch.nearestCells")
  }

  test("SimilaritySearch.scala has no lineage cut") {
    absent(tokens("localCheckpoint"), "the driver-held Lloyd model needs no cut",
      _.contains("/ops/SimilaritySearch.scala:"))
  }

  test("the SQL stale-cell update appears only in OracleSql.scala") {
    owned(tokens("coalesce(u.c, p.c)"), "/OracleSql.scala:",
      "oracle k-means updates come from OracleSql.kmeansCtes")
  }

  test("the hashed bag-of-words aggregate is called only from VectorOps.scala") {
    owned(tokens("HashedBowAgg.hashedBow("), "/ops/VectorOps.scala:",
      "every embedding goes through VectorOps.embedTextDistributed / embedTextPortable, " +
        "so the tokenizer and the bucket rule cannot drift between callers")
  }

  test("row_number() appears in the retrieval ops only inside Knn.scala (rankTopK)") {
    owned(tokens("row_number()"), "/ops/Knn.scala:",
      "every per-query top-k ranks through Knn.rankTopK, so the tie-break, the bigint rank " +
        "and the <= k cut cannot drift between searches",
      hit => retrievalOps.exists(hit.contains))
  }

  test("no oracle window is hand-ordered by ${sqlCos( or ${sqlDot(") {
    absent("""OVER \([^()]*ORDER BY \$\{sql(?:Cos|Dot)\(""".r,
      "oracle rankings go through OracleSql.topKSql / exactKnnSql")
  }
}

object OwnershipGuardSpec {

  /** `file:line` of every match of `pattern` in the code of src/main/scala;
    * doc comments may show a token as usage, only code counts. A pattern
    * may span lines: each file is matched as a whole, comment lines blanked.
    */
  def codeHits(pattern: Regex): Seq[String] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory,
      s"expected main sources at ${root.getAbsolutePath} (run tests from the repo root)")
    def sources(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    for {
      f <- sources(root)
      code = java.nio.file.Files.readAllLines(f.toPath).asScala.map { line =>
        val t = line.trim
        if (t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")) "" else line
      }.mkString("\n")
      m <- pattern.findAllMatchIn(code)
    } yield s"${f.getPath}:${code.take(m.start).count(_ == '\n') + 1}"
  }

  def codeHits(token: String): Seq[String] = codeHits(Pattern.quote(token).r)
}
