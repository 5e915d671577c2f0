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

  test("a cosine / dot score reaches rankTopK in Knn, SimilaritySearch and Pq only " +
      "inside scoreTopK") {
    // judged per member def, so a score built in a `val` and passed on
    // counts as much as one written inside the rankTopK call; scoreTopK
    // itself cuts with its heap aggregate, not with rankTopK
    val scoring = tokens("VectorOps.cosine(", "VectorOps.dot(")
    val cutting = tokens("rankTopK(", "ScoredTopKAgg.scoredTopK(")
    val scoredCuts = for {
      op <- Seq("Knn", "SimilaritySearch", "Pq")
      (name, body) <- memberDefs(s"src/main/scala/graft/ops/$op.scala")
      if cutting.findFirstIn(body).isDefined && scoring.findFirstIn(body).isDefined
    } yield s"$op.$name"
    // both rank by a per-cell centroid score, not a query's: one by a
    // per-row ASC quota, the other through cell windows before its cut
    val exceptions = Set("SimilaritySearch.prototypicalityPrune", "SimilaritySearch.clusterCards")
    val offenders = scoredCuts.filterNot(exceptions) diff Seq("Knn.scoreTopK")
    assert(scoredCuts.contains("Knn.scoreTopK") && offenders.isEmpty,
      "every exact, IVF and re-rank search scores and ranks through Knn.scoreTopK, so the " +
        "metric, the total order and the top-k shape change in one place (exceptions: " +
        "prototypicalityPrune keeps the hardest points per cell under a per-row quota, and " +
        "clusterCards runs cell windows between its score and its cut); scored cuts " +
        s"outside it: ${offenders.mkString(", ")}" +
        (if (scoredCuts.contains("Knn.scoreTopK")) "" else " (Knn.scoreTopK gone)"))
  }

  test("the scored top-k aggregate is built only inside Knn.scoreTopK") {
    owned(tokens("ScoredTopKAgg.scoredTopK("), "/ops/Knn.scala:",
      "every scored top-k goes through Knn.scoreTopK, so the heap's order, its carried " +
        "columns and the rank it restores cannot drift between searches")
    val builders = memberDefs("src/main/scala/graft/ops/Knn.scala")
      .collect { case (name, body) if body.contains("ScoredTopKAgg.scoredTopK(") => name }
    assert(builders == Seq("scoreTopK"), s"built in Knn.${builders.mkString(", Knn.")}")
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
      code = codeOf(f)
      m <- pattern.findAllMatchIn(code)
    } yield s"${f.getPath}:${code.take(m.start).count(_ == '\n') + 1}"
  }

  /** A source file with its comment lines blanked. */
  private def codeOf(f: java.io.File): String =
    java.nio.file.Files.readAllLines(f.toPath).asScala.map { line =>
      val t = line.trim
      if (t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")) "" else line
    }.mkString("\n")

  /** `(name, code)` of each member def of the top-level object in `path`:
    * a def's code runs to the next member def (nested defs stay inside).
    */
  def memberDefs(path: String): Seq[(String, String)] = {
    val f = new java.io.File(path)
    assert(f.isFile, s"expected a source file at ${f.getAbsolutePath} (run tests from the repo root)")
    val code = codeOf(f)
    val starts = """(?m)^  (?:(?:private|protected)(?:\[\w+\])? )?def (\w+)""".r
      .findAllMatchIn(code).toSeq
    starts.zip(starts.drop(1).map(_.start) :+ code.length)
      .map { case (m, end) => m.group(1) -> code.substring(m.start, end) }
  }

  def codeHits(token: String): Seq[String] = codeHits(Pattern.quote(token).r)
}
