package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The one owner of JVM-global harness state: the one-time builds
  * (trained models, stored index tables, staged stream inputs), the
  * scratch dirs and table paths they and the stream runners write, and
  * the exit hook that deletes those.
  *
  * A build runs once per (kind, key) per JVM; concurrent callers of the
  * same key wait for the first. Builds keyed by the corpus directory
  * are declared with [[corpus]] (or [[table]]), and [[prewarm]] runs
  * exactly those, so a new corpus build cannot miss the untimed ingest
  * pass the benchmarks make before they measure serving.
  */
object Memo {

  /** A value computed at most once. The lazy val locks only its own
    * cell, so one build may call another (the trained-IVF index trains
    * its centroids through [[once]]), which a `computeIfAbsent` body
    * may not; a build that throws leaves the cell empty for a retry.
    */
  private final class Cell(build: () => Any) {
    lazy val value: Any = { val v = build(); builds.incrementAndGet(); v }
  }
  private val cells = new ConcurrentHashMap[String, Cell]()
  private val builds = new AtomicLong(0)

  /** `build`'s result for (kind, key), computed on the first call. */
  def once[T](kind: String, key: String)(build: => T): T =
    cells.computeIfAbsent(s"$kind:$key", _ => new Cell(() => build)).value.asInstanceOf[T]

  /** Builds run so far in this JVM. */
  def buildCount: Long = builds.get

  /** A build keyed by the corpus directory, registered for [[prewarm]]. */
  final class CorpusBuild[T] private[Memo] (kind: String, build: (SparkSession, String) => T) {
    def apply(s: SparkSession, sfDir: String): T = once(kind, sfDir)(build(s, sfDir))
  }
  private val corpusBuilds = new ConcurrentLinkedQueue[CorpusBuild[_]]()

  def corpus[T](kind: String)(build: (SparkSession, String) => T): CorpusBuild[T] = {
    val b = new CorpusBuild(kind, build)
    corpusBuilds.add(b)
    b
  }

  private lazy val nonce = java.lang.Long.toHexString(System.nanoTime())

  /** A corpus build that writes the catalog table it is handed (plus
    * any `<table>_*` side tables) and returns its name. The name carries
    * a per-JVM nonce and the sanitized sfDir, so concurrent JVMs and
    * different corpora never share a table.
    */
  def table(kind: String)(write: (SparkSession, String, String) => Unit): CorpusBuild[String] =
    corpus(kind) { (s, d) =>
      val tbl = s"graft_${kind}_${nonce}_" + d.replaceAll("[^a-zA-Z0-9]", "_")
      write(s, d, tbl)
      tbl
    }

  /** tmpdir location for the files of table `tbl`, deleted at exit. */
  def tablePath(tbl: String): String =
    register(new java.io.File(sys.props("java.io.tmpdir"), tbl).getAbsolutePath)

  /** A fresh temp dir, deleted at exit: the DataFrames read from it are
    * lazy, so no earlier point is safe.
    */
  def scratchDir(prefix: String): String =
    register(java.nio.file.Files.createTempDirectory(prefix).toString)

  private val paths = new ConcurrentLinkedQueue[String]()
  private def register(p: String): String = { paths.add(p); p }
  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }
  sys.addShutdownHook(paths.asScala.foreach(p => deleteRecursively(new java.io.File(p))))

  /** Untimed run of every corpus build for `sfDir`. Benchmarks call this
    * before their timed pass so a recorded rep measures serving, never a
    * one-time training or index write (the round-12 `sim_ivfpq` /
    * `sim_ivf_trained_batch` / `text_bpe_apply` outliers). Production
    * runs these builds at ingest. Builds register when their query
    * family object initializes, so every family is touched first.
    */
  def prewarm(s: SparkSession, sfDir: String): Unit = {
    SparkEntry.queries: Unit
    corpusBuilds.asScala.foreach(_(s, sfDir))
  }
}
