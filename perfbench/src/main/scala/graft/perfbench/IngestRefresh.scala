package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops._
import graft.streaming.EventStream

/** `ingest_refresh`: writes beside reads on the point store. A
  * long-running `EventStream.indexStream` (chunk → embed → doc-replace
  * upsert → `Store.swapDirs`) ingests each landed micro-batch through
  * `drainAll`; an exact kNN probe must then find every batch doc's
  * newest chunks and none of its replaced ones. Op latency runs from
  * landing to the passing probe. Set-up starts the stream on a fresh
  * store and ingests the corpus as its first batch.
  */
final class IngestRefresh(spark: SparkSession, t: Tracer, inputs: String, work: String)
    extends Workload {
  import IngestRefresh._

  private val batchFiles = new File(s"$inputs/ingest").listFiles().map(_.getName)
    .filter(_.startsWith("batch_")).sorted.toVector
  // every batch's rows, read in one job up front: (doc_id, text) per file
  private val batchRows: Map[String, Array[(Long, String)]] =
    spark.read.parquet(s"$inputs/ingest").withColumn("file", input_file_name()).collect()
      .groupBy(r => new File(new java.net.URI(r.getAs[String]("file")).getPath).getName)
      .map { case (f, rs) => f -> rs.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))) }
  private val corpus: Array[(Long, String)] =
    spark.read.parquet(s"$inputs/corpus/documents.parquet").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
  val cycleLength = 4

  private var query: StreamingQuery = _
  private var inDir, storeDir: String = _
  private val versions = mutable.Map[Long, String]()
  private var textBytes, storeBytes, storeFiles, batches = 0L
  private var waitS, drainS = 0.0

  def setup(rep: Int): Map[String, Double] = {
    if (query != null) query.stop()
    val root = s"$work/ingest/rep$rep"
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
    inDir = s"$root/in"
    storeDir = s"$root/store/points"
    new File(inDir).mkdirs()
    versions.clear()
    versions ++= corpus
    val a = System.nanoTime()
    query = EventStream.indexStream(spark, inDir, storeDir, dim = Dim,
      checkpointDir = Some(s"$root/checkpoint"))
    land(s"$inputs/corpus/documents.parquet", "corpus.parquet")
    EventStream.drainAll(spark, query, inDir)
    Map("store_init_s" -> (System.nanoTime() - a) / 1e9)
  }

  /** Copy `src` into the input dir under a hidden name, then rename it
    * into view, so the file source never lists a half-written file.
    */
  private def land(src: String, name: String): Unit = {
    val tmp = new File(inDir, s".$name").toPath
    Files.copy(new File(src).toPath, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, new File(inDir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  private def store: DataFrame = spark.read.parquet(storeDir)

  def op(i: Int): OpOutcome = refresh(batchFiles(i % batchFiles.size), f"op$i%05d.parquet")

  /** One batch through the stream before the measured ops. */
  override def warmup(): Unit = {
    val err = refresh(WarmBatch, "warmup.parquet").check()
    require(err.isEmpty, s"warm-up batch: $err")
    textBytes = 0; storeBytes = 0; storeFiles = 0; batches = 0; waitS = 0; drainS = 0
  }

  /** Land `file` as `name`, drain the stream, probe the store. */
  private def refresh(file: String, name: String): OpOutcome = {
    val rows = batchRows(file)
    val landedMs = System.currentTimeMillis()
    val progressBefore = query.recentProgress.length
    land(s"$inputs/ingest/$file", name)
    val d0 = System.nanoTime()
    t.streamSpan("EventStream", "drainAll")(EventStream.drainAll(spark, query, inDir))
    drainS += (System.nanoTime() - d0) / 1e9
    // the probe: the batch docs' newest chunks, embedded as queries
    val batch = spark.createDataFrame(rows.map { case (id, txt) => Row(id, txt) }.toSeq.asJava, DocSchema)
    val chunks = t.df("Chunker", "chunk")(
      Chunker.chunk(batch, Seq("doc_id"), separator = " the ", minLen = 20)
        .withColumn("chunk_id", col("doc_id") * 1000 + col("chunk_index")))
    val qv = t.df("VectorOps", "embedTextDistributed")(
      VectorOps.embedTextDistributed(chunks, Seq("chunk_id", "chunk_text"), "chunk_text", Dim))
    val ids = rows.map(_._1).toSeq
    val hits = t.df("Knn", "filteredKnnJoin")(
      Knn.filteredKnnJoin(qv.withColumnRenamed("chunk_text", "q_text"), store,
        col("doc_id").isin(ids: _*), "chunk_id", "embedding", "chunk_id", "embedding",
        k = 1, metric = "dot"))
      .select(col("query_id"), col("chunk_id"), col("chunk_text"), col("score")).collect()
    val expected = chunks.select(col("chunk_id"), col("chunk_text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val stored = t.df("Knn", "retrievePoints")(Knn.retrievePoints(store, "doc_id", ids))
      .select(col("chunk_id")).collect().map(_.getLong(0)).toSet
    val progress = query.recentProgress.drop(progressBefore).filter(_.numInputRows > 0)
    OpOutcome("batch", file, rows.length, () => {
      rows.foreach { case (id, txt) => versions(id) = txt; textBytes += txt.getBytes("UTF-8").length }
      batches += progress.length
      progress.headOption.foreach(p => waitS += (Instant.parse(p.timestamp).toEpochMilli - landedMs) / 1e3)
      val files = new File(storeDir).listFiles().count(_.getName.endsWith(".parquet"))
      storeFiles += files
      storeBytes += new File(storeDir).listFiles().map(_.length).sum
      val wrongHit = hits.find(r => expected.get(r.getLong(0)).forall(_ != r.getString(2)))
      if (hits.length != expected.size)
        s"$file: probe found ${hits.length} of ${expected.size} new chunks"
      else if (wrongHit.nonEmpty) s"$file: probe for chunk ${wrongHit.get.getLong(0)} hit stale text"
      else if (stored != expected.keySet)
        s"$file: store holds chunks ${(stored -- expected.keySet).take(5)} of replaced versions " +
          s"and lacks ${(expected.keySet -- stored).take(5)}"
      else ""
    })
  }

  /** Stream ≡ batch: the final store equals a one-shot batch build of
    * the final doc versions.
    */
  def finish(): Seq[(String, Boolean, String)] = {
    query.stop()
    val docs = spark.createDataFrame(
      versions.toSeq.sortBy(_._1).map { case (id, txt) => Row(id, txt) }.asJava, DocSchema)
    val chunks = Chunker.chunk(docs, Seq("doc_id"), separator = " the ", minLen = 20)
      .withColumn("chunk_id", col("doc_id") * 1000 + col("chunk_index"))
    val batchBuild = VectorOps.embedTextDistributed(chunks,
      Seq("chunk_id", "doc_id", "chunk_index", "chunk_text"), "chunk_text", Dim)
    def digest(df: DataFrame): (Long, String) = {
      val rows = df.select("chunk_id", "doc_id", "chunk_index", "chunk_text", "embedding")
        .orderBy("chunk_id").collect()
      (rows.length, Shard.hash(rows))
    }
    val (n, want) = digest(batchBuild)
    val (m, got) = digest(store)
    Seq(("stream_equals_batch", want == got, s"store $m chunks, batch build of final versions $n chunks"))
  }

  def extra: Map[String, Any] = Map(
    "Store.write_amp" -> storeBytes.toDouble / math.max(1L, textBytes),
    "Store.bytes_written_mb" -> storeBytes / 1e6,
    "Store.files_written" -> storeFiles,
    "EventStream.batches" -> batches,
    "EventStream.wait_s" -> waitS,
    "EventStream.drain_s" -> drainS)
}

object IngestRefresh {
  val Dim = 64
  val WarmBatch = "warm_0.parquet"
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
}
