package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntryExt

/** `curate_batch`: the bulk curation chain `pipeline_e2e` composes —
  * boilerplate removal, quality filter, MinHash-LSH dedup with
  * keep-best, DSIR selection, token-budget sampling, epoch shuffle and
  * sequence packing — run over one seeded shard per op. Each op calls
  * the engine's own chain, `SparkEntryExt.pipelineE2eChain`, with the
  * registry's lineage cut; a traced run wraps each of the five cuts in
  * a span of the stage's layer.
  */
final class CurateBatch(spark: SparkSession, t: Tracer, inputs: String)
    extends Workload {
  import CurateBatch._

  private def dirs(prefix: String): Vector[String] =
    new File(s"$inputs/curate").listFiles().map(_.getName).filter(_.startsWith(prefix))
      .sorted.map(n => s"$inputs/curate/$n").toVector
  private val shards = dirs("shard_")
  private val warm = dirs("warm_").head
  val cycleLength: Int = shards.size

  private val hashes = scala.collection.mutable.ArrayBuffer[(String, String)]()
  private var corpusRows = -1L
  private val counts = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)

  /** The registry's cut, `localCheckpoint(false)`. Traced, the stage is
    * materialized inside its layer's span, and in ops its rows are counted.
    */
  private def cut(compute: () => DataFrame, stage: String): DataFrame =
    if (!t.on) compute().localCheckpoint(false)
    else {
      val out = t.span(StageLayer(stage), stage)(compute().localCheckpoint(true))
      if (t.op >= 0) counts(stage) += out.count()
      out
    }

  /** The chain over the shard in `dir`, collected. */
  private def curate(dir: String): Array[Row] =
    t.span("TextAnalysis", "packSequences")(SparkEntryExt.pipelineE2eChain(spark, dir, cut).collect())

  /** A pass over the set-up shard. With `-Dperfbench.checkCorpus=true`
    * (the first run of a build) the cold rep 0 is instead one pass over
    * the un-sharded corpus, checked in [[finish]].
    */
  def setup(rep: Int): Map[String, Double] = {
    if (rep == 0 && sys.props.get("perfbench.checkCorpus").contains("true"))
      corpusRows = curate(s"$inputs/corpus").length.toLong
    else curate(warm)
    Map.empty
  }

  def op(i: Int): OpOutcome = {
    val shard = shards(i % shards.size)
    val n = Shard.docs(spark, shard)
    if (t.on) counts("input") += n
    val out = curate(shard)
    val name = new File(shard).getName
    OpOutcome("shard", name, n, () => {
      val ids = out.map(_.getLong(0))
      if (out.isEmpty) s"$name: empty output"
      else if (ids.distinct.length != ids.length) s"$name: a doc is packed twice"
      else if (out.exists(r => r.getLong(4) <= 0)) s"$name: a packed doc has no tokens"
      else { hashes += name -> Shard.hash(out); "" }
    })
  }

  /** One pass over the un-sharded corpus gave the row count the bench
    * `counts` channel records for `pipeline_e2e` on it.
    */
  def finish(): Seq[(String, Boolean, String)] =
    if (corpusRows < 0) Nil
    else Seq(("pipeline_e2e_rows", corpusRows == CorpusRows,
      s"un-sharded corpus: $corpusRows rows, pipeline_e2e records $CorpusRows"))

  def extra: Map[String, Any] = {
    def frac(a: String, b: String): Double = counts(a).toDouble / math.max(1L, counts(b))
    Map(
      "output_hashes" -> hashes.map { case (s, h) => Map("shard" -> s, "hash" -> h) }.toSeq,
      "Clean.kept_frac" -> frac("cleaned", "input"),
      "TextAnalysis.kept_frac" -> frac("qdocs", "cleaned"),
      "Dedup.kept_frac" -> frac("sdocs", "qdocs"),
      "Curation.selected_frac" -> frac("keyed", "sdocs"))
  }
}

object CurateBatch {
  /** The layer that owns each of the chain's cut stages. `keyed` holds
    * `TextAnalysis.tokenBudgetSample` and `Curation.epochShuffle`; it is
    * charged to Curation.
    */
  val StageLayer: Map[String, String] = Map("cleaned" -> "Clean", "qdocs" -> "TextAnalysis",
    "sdocs" -> "Dedup", "pool" -> "Curation", "keyed" -> "Curation")
  /** `pipeline_e2e` rows on the sf0.1 corpus, as the bench `counts`
    * channel records them.
    */
  val CorpusRows = 219L
}

object Shard {
  private val sizes = scala.collection.mutable.Map[String, Long]()
  /** Docs in a shard, from its parquet footers (no Spark job). */
  def docs(spark: SparkSession, dir: String): Long = sizes.getOrElseUpdate(dir, {
    val conf = spark.sessionState.newHadoopConf()
    val f = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
    try r.getRecordCount finally r.close()
  })

  /** Order-sensitive digest of collected rows. */
  def hash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.mkString("\u0001") + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
