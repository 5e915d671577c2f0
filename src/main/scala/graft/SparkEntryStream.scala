package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Tables
import graft.streaming.EventStream

/** The streaming family (`stream_*`): the Structured-Streaming operators
  * under the SAME oracle gate as the batch queries. Each query materializes its
  * input to a scratch parquet dir (events are ns→µs normalized — the
  * streaming reader takes an explicit TIMESTAMP schema), drives the
  * streaming plan to completion against it, and returns the final
  * table. The oracle is the BATCH semantics the stream must converge to
  * on a finite input — the defining property of an incremental
  * operator.
  */
object SparkEntryStream {

  // memory-sink names must be session-unique; Bench reruns each query
  private val runId = new AtomicLong(0)

  /** The 5 streaming-schema columns of `events` as µs-timestamp
    * parquet, staged once per corpus: staging is harness setup, not
    * part of any streaming plan, so Bench's reps must not pay it.
    */
  private val stagedEvents = Memo.corpus("stream_events") { (s, d) =>
    val dir = Memo.scratchDir("graft-stream")
    Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  /** The pristine partitioned orders store, staged once per corpus. The
    * CDC runners clone it per rep with plain file copies (no Spark job),
    * so reps measure the micro-batched merge, not N partitioned
    * re-stagings.
    */
  private val pristineOrdersStore = Memo.corpus("orders_pristine") { (s, d) =>
    val dir = Memo.scratchDir("graft-ups-pristine") + "/orders"
    Tables.orders(s, d).write.partitionBy("o_orderstatus").parquet(dir)
    dir
  }

  /** Local-FS recursive copy (the per-rep store clone). */
  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  /** Drive one finite stream over fresh scratch dirs: append the first
    * of `batches` to the input dir, start the query `start(in, store)`
    * builds, then drain it, append the next batch and drain again until
    * every batch is ingested. Returns the store dir (`leaf` under a
    * fresh dir), which the caller reads back.
    */
  private def driveBatches(spark: SparkSession, tag: String, leaf: String,
      batches: DataFrame*)(start: (String, String) => StreamingQuery): String = {
    val in = Memo.scratchDir(s"graft-$tag-in")
    val store = Memo.scratchDir(s"graft-$tag-store") + leaf
    batches.head.write.mode("append").parquet(in)
    val q = start(in, store)
    try batches.zipWithIndex.foreach { case (b, i) =>
      if (i > 0) b.write.mode("append").parquet(in)
      EventStream.drainAll(spark, q, in)
    } finally q.stop()
    store
  }

  val entries: Seq[Query] = Seq(
    // incremental tumbling-window agg ≡ the batch q_events_hourly
    Query("stream_hourly", """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin)((s, d) =>
      EventStream.runOnce(s, stagedEvents(s, d), s"graft_stream_hourly_${runId.incrementAndGet()}")
        .orderBy(col("hour"), col("event_type"))),
    // stateful mapGroupsWithState sessionization ≡ the batch gap rule
    // per-user collapse of the batch sessionize formula (session ids are
    // a 0-based running sum, so n_sessions = sum(gap flags) + 1)
    Query("stream_sessionize", """WITH flagged AS (
        |  SELECT user_id,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT user_id, CAST(sum(new_s) + 1 AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM flagged
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin)((s, d) =>
      EventStream.runSessionsOnce(s, stagedEvents(s, d), s"graft_stream_sess_${runId.incrementAndGet()}")
        .select(col("user_id"), col("n_sessions"), col("n_events"))
        .orderBy(col("user_id"))),
    // dropDuplicatesWithinWatermark ingest-dedup: on an already-unique
    // keyed input the stream must be a no-op pass-through (count-shaped
    // summary so the oracle stays tiny and deterministic)
    Query("stream_dedup", """SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT event_id) AS n_distinct_ids
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)((s, d) =>
      EventStream.runDedupOnce(s, stagedEvents(s, d), s"graft_stream_dedup_${runId.incrementAndGet()}")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_id")).as("n_distinct_ids"))
        .orderBy(col("event_type"))),
    // stream-stream interval join (click attribution): two watermarked
    // sides, state bounded by delay + interval; on finite input the
    // inner join must equal the batch range join
    // batch range join the finite-input stream-stream join converges to;
    // epoch_us on both sides — the staged stream input is µs-normalized
    Query("stream_join", """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
        |FROM events p JOIN events c
        |  ON p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND p.user_id = c.user_id
        |  AND epoch_us(c.ts) >= epoch_us(p.ts) - 21600000000
        |  AND epoch_us(c.ts) < epoch_us(p.ts)
        |ORDER BY purchase_id, click_id""".stripMargin)((s, d) =>
      EventStream.runJoinOnce(s, stagedEvents(s, d), s"graft_stream_join_${runId.incrementAndGet()}")
        .select(col("user_id"), col("purchase_id"), col("click_id"))
        .orderBy(col("purchase_id"), col("click_id"))),
    // quality gate at the ingest edge: per-micro-batch application of
    // the batch cascade; verdicts over two batches ≡ one batch pass
    Query("stream_quality", s"""WITH ${OracleSql.qualityCtes("sq", "documents")}
         |SELECT doc_id, n_tokens, reason, reason = 'ok' AS keep
         |FROM sq_r
         |ORDER BY doc_id""".stripMargin)((s, d) => runQualityOnce(s, d)),
    // stream-static anti-join novelty filter: streamed docs vs the
    // static corpus hash set ≡ the batch anti-join
    Query("stream_novel", """SELECT s.doc_id, CAST(length(s.text) AS BIGINT) AS n_chars
        |FROM documents s
        |WHERE sha256(s.text) NOT IN (
        |  SELECT sha256(text) FROM documents WHERE doc_id % 3 <> 0)
        |ORDER BY s.doc_id""".stripMargin)((s, d) => runNovelOnce(s, d)),
    // continuous index maintenance (the reference's ingestion loop as a
    // stream): final point store ≡ batch chunk+embed over the LATEST doc
    // versions — i.e. the doc-replace upsert branch is what's checked
    // batch equivalent of the two-micro-batch ingest: chunk + embed the
    // LATEST version of every doc (20..39 truncated to their re-ingested
    // 120-char v2) — doc-replace upsert means no other row may survive
    Query("stream_index", s"""WITH docs_final AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 20
         |  UNION ALL
         |  SELECT doc_id, substr(text, 1, 120) AS text FROM documents
         |  WHERE doc_id >= 20 AND doc_id < 40
         |  UNION ALL
         |  SELECT doc_id, text FROM documents WHERE doc_id >= 40 AND doc_id < 60),
         |ch AS (${OracleSql.chunkCte("docs_final")}),
         |${OracleSql.embedCtes("ie", "(SELECT chunk_id AS id, chunk_text AS __txt FROM ch)", 16)}
         |SELECT ch.chunk_id, ch.doc_id, ch.chunk_index,
         |  CAST(length(ch.chunk_text) AS BIGINT) AS n_chars,
         |  round(e.v[1], 6) AS first_dim,
         |  round(list_reduce(e.v, (a, x) -> a + x), 6) AS vsum
         |FROM ch JOIN ie_emb e ON ch.chunk_id = e.id
         |ORDER BY ch.chunk_id""".stripMargin)((s, d) => runIndexOnce(s, d)),
    // incremental Count-Min maintenance: per-micro-batch sketches
    // merged ≡ one batch build (mergeable summary) — probed against the
    // SAME oracle SQL as q_cms_freq
    Query("stream_cms", OracleSql.cmsFreqSql(RelationalQueries.CmsDepth,
      RelationalQueries.CmsWidth, RelationalQueries.CmsTopK))((s, d) => runCmsOnce(s, d)),
    // continuous serving: streamed query vectors answered per
    // micro-batch with the batch kNN against the static corpus; hits
    // over two batches ≡ one batch kNN join
    Query("stream_search", s"""SELECT q.vec_id AS query_id,
         |  CAST(row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${OracleSql.sqlCos("q.embedding", "p.embedding")} DESC, p.vec_id)
         |    AS BIGINT) AS rank,
         |  p.vec_id AS point_id,
         |  round(${OracleSql.sqlCos("q.embedding", "p.embedding")}, 6) AS score
         |FROM embeddings q, embeddings p
         |WHERE q.vec_id < 10 AND p.vec_id >= 10
         |QUALIFY rank <= 3
         |ORDER BY query_id, rank""".stripMargin)((s, d) => runSearchOnce(s, d)),
    // CDC into the partitioned lake store: micro-batched updates merged
    // by key via upsertPartitioned; final table ≡ the one-shot batch
    // upsert (the SAME oracle SQL as q_upsert — merge-by-key is
    // batch-slicing invariant over disjoint key sets)
    Query("stream_upsert", OracleSql.upsertMergedSummarySql)((s, d) => runUpsertOnce(s, d)),
    // CDC erasure stream: two delete micro-batches applied to the
    // partitioned store ≡ the one-shot batch delete
    Query("stream_delete", """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderkey % 10 <> 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)((s, d) =>
      runDeleteOnce(s, d)),
    // continuous drift monitoring: per-micro-batch PSI snapshots of
    // baseline vs streamed-so-far; the final snapshot ≡ the batch
    // v_drift (the SAME single-sourced oracle SQL)
    Query("stream_drift", OracleSql.dimDriftSql)((s, d) => runDriftOnce(s, d)),
    // continuous profile maintenance: per-micro-batch doc profiles +
    // term sets accumulated; the card derived from them ≡ the batch
    // pipeline_data_card (the SAME single-sourced oracle SQL — its
    // third consumer, after the raw and profile-backed batch forms)
    Query("stream_data_card", OracleSql.dataCardSql)((s, d) => runProfileCardOnce(s, d)),
    // continuous serving from the STORED ANN index: streamed queries
    // answered per micro-batch by the composed IVF+BQ search; hits
    // over two batches ≡ the one-shot batch sim_ivf_bq (SAME oracle —
    // per-query purity makes the slicing invisible)
    Query("stream_idx_search", AnnQueries.ivfBqSql)((s, d) => runIndexedSearchOnce(s, d)),
    // continuous crawl filtering against the STORED NB model: docs
    // scored per micro-batch by nbScoreBatch; scores over two batches
    // ≡ the one-shot pipeline_nb_inc (SAME oracle — per-doc purity)
    Query("stream_nb_score", SparkEntryExt.nbIncSql)((s, d) => runNbScoreOnce(s, d)),
    // the OOV-aware streaming form: the model is trained on the
    // corpus MINUS the batch (nbOovModelIndex — genuinely OOV-bearing
    // micro-batches) and absent terms contribute the stored oov_lr
    // constant; scores over two batches ≡ the one-shot
    // pipeline_nb_oov (SAME oracle — per-doc purity again)
    Query("stream_nb_oov", SparkEntryExt.nbOovSql)((s, d) => runNbScoreOnce(s, d, oov = true)))

  /** Drive [[EventStream.driftStream]]: even-id vectors are the static
    * baseline, odd-id vectors stream in TWO micro-batches (split at
    * vec_id % 4), and the LAST per-batch PSI snapshot — computed over
    * baseline vs ALL streamed — must hash-match the batch `v_drift`.
    */
  private def runDriftOnce(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val baseline = emb.filter(col("vec_id") % 2 === 0)
    val odd = emb.filter(col("vec_id") % 2 === 1)
    val store = driveBatches(spark, "drift", "",
        odd.filter(col("vec_id") % 4 === 1), odd.filter(col("vec_id") % 4 === 3)) {
      (in, store) => EventStream.driftStream(spark, in, store, baseline)
    }
    spark.read.parquet(s"$store/psi_latest").orderBy(col("dim"))
  }

  /** Drive [[EventStream.profileStream]]: docs arrive in TWO
    * micro-batches (split at doc_id 250); the card derived from the
    * accumulated profile + vocab dirs must hash-match the batch
    * `pipeline_data_card`. Per-doc profiles are batch-local, so the
    * slicing cannot move any metric.
    */
  private def runProfileCardOnce(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val store = driveBatches(spark, "prof", "",
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250)) {
      (in, store) => EventStream.profileStream(spark, in, store)
    }
    graft.ops.TextAnalysis.dataCardFromProfiles(
      EventStream.readBatches(spark, store, "profile_batch_*"),
      EventStream.readBatches(spark, store, "vocab_batch_*").distinct())
  }

  /** Shared CDC-drive skeleton for the upsert/delete stream runners:
    * clone the once-staged pristine partitioned orders store (file
    * copy, no Spark job — each rep mutates its own copy so N bench
    * reps measure the micro-batched mutation, not N stagings), feed
    * the CDC rows in TWO micro-batches (split by key % 20) through the
    * stream `start` constructs, and read back the per-status summary
    * the shared oracle checks. ONE definition so a future fix to the
    * clone discipline or the readback rounding cannot silently apply
    * to one CDC half only.
    */
  private def runCdcOnce(spark: SparkSession, sfDir: String, tag: String,
      feed: DataFrame => DataFrame,
      start: (String, org.apache.spark.sql.types.StructType, String) => StreamingQuery)
      : DataFrame = {
    val cdc = feed(Tables.orders(spark, sfDir))
    val store = driveBatches(spark, tag, "/orders",
        cdc.filter(col("o_orderkey") % 20 === 0), cdc.filter(col("o_orderkey") % 20 =!= 0)) {
      (in, store) =>
        copyTree(java.nio.file.Paths.get(pristineOrdersStore(spark, sfDir)),
          java.nio.file.Paths.get(store))
        start(in, cdc.schema, store)
    }
    spark.read.parquet(store)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** Drive [[EventStream.upsertStream]]: the `q_upsert` update set
    * (every 10th key, price ×1.1) arrives in TWO micro-batches, each
    * merged by [[graft.ops.Store.upsertPartitioned]] — and the final
    * store must hash-match the one-shot batch upsert.
    */
  private def runUpsertOnce(spark: SparkSession, sfDir: String): DataFrame =
    runCdcOnce(spark, sfDir, "ups",
      orders => orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.1),
      (in, schema, store) => EventStream.upsertStream(spark, in, schema, store,
        "o_orderkey", "o_orderstatus"))

  /** Drive [[EventStream.deleteStream]]: the CDC erasure feed (every
    * 10th key, as `(o_orderkey, o_orderstatus)` pairs) arrives in TWO
    * micro-batches, each applied by
    * [[graft.ops.Store.deletePartitioned]] — and the final store must
    * hash-match the one-shot batch delete (erasure commutes, so batch
    * boundaries cannot change the table).
    */
  private def runDeleteOnce(spark: SparkSession, sfDir: String): DataFrame =
    runCdcOnce(spark, sfDir, "del",
      orders => orders.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_orderstatus")),
      (in, schema, store) => EventStream.deleteStream(spark, in, schema, store,
        "o_orderkey", "o_orderstatus"))

  /** Query vectors vec_id < 10 in TWO micro-batches (split at 5) and
    * the static vec_id >= 10 points the search runners answer them
    * against.
    */
  private def searchInputs(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10).select(col("vec_id"), col("embedding"))
    (queries.filter(col("vec_id") < 5), queries.filter(col("vec_id") >= 5),
      emb.filter(col("vec_id") >= 10).select(col("vec_id").as("point_id"), col("embedding")))
  }

  /** The accumulated hit store of a search runner, scores at 6 dp. */
  private def readHits(spark: SparkSession, store: String): DataFrame =
    EventStream.readBatches(spark, store, "batch_*")
      .select(col("query_id"), col("rank"), col("point_id"),
        round(col("score"), 6).as("score"))
      .orderBy(col("query_id"), col("rank"))

  /** Drive [[EventStream.searchStream]]: the accumulated hit store must
    * equal the one-shot batch kNN join (per-query purity ⇒ batch
    * boundaries cannot move any hit).
    */
  private def runSearchOnce(spark: SparkSession, sfDir: String): DataFrame = {
    val (first, second, points) = searchInputs(spark, sfDir)
    readHits(spark, driveBatches(spark, "srch", "/hits", first, second) {
      (in, store) => EventStream.searchStream(spark, in, store, points, k = 3)
    })
  }

  /** Drive [[EventStream.indexedSearchStream]] against the ONE stored
    * IVF+BQ index the batch `sim_ivf_bq` searches (shared per-JVM
    * build); the accumulated hit store must hash-match that batch
    * search.
    */
  private def runIndexedSearchOnce(spark: SparkSession, sfDir: String): DataFrame = {
    val (first, second, points) = searchInputs(spark, sfDir)
    val idx = spark.table(AnnQueries.ivfBqIndex(spark, sfDir))
    readHits(spark, driveBatches(spark, "ixsrch", "/hits", first, second) {
      (in, store) => EventStream.indexedSearchStream(spark, in, store, idx, points,
        bits = 4, dim = 64, nprobe = 2, shortlist = 20, k = 5)
    })
  }

  /** Drive [[EventStream.nbScoreStream]]: the `% nbBatchMod` incoming
    * batch streams in TWO micro-batches (split at `% (2·nbBatchMod)`)
    * against the stored NB model; the accumulated scores ≡ the one-shot
    * `pipeline_nb_inc` (SAME single-sourced oracle — a doc's score
    * depends only on its own tokens and the static model, so the
    * slicing cannot move anything). Scores were 6-dp quantized
    * in-plan, so the read-back needs no re-rounding.
    *
    * `oov = true` is the `stream_nb_oov` drive: the model comes from
    * [[SparkEntryExt.nbOovModelIndex]] (trained on corpus MINUS this
    * batch, so the streamed micro-batches are genuinely OOV-bearing)
    * and scoring flows through `nbScoreBatchOov` — accumulated scores
    * ≡ the one-shot `pipeline_nb_oov` against the SAME shared oracle.
    */
  private def runNbScoreOnce(spark: SparkSession, sfDir: String,
      oov: Boolean = false): DataFrame = {
    val tbl =
      if (oov) SparkEntryExt.nbOovModelIndex(spark, sfDir)
      else SparkEntryExt.nbModelIndex(spark, sfDir)
    val m = SparkEntryExt.nbBatchMod
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") % m === 0)
      .select(col("doc_id"), col("text"))
    val store = driveBatches(spark, "nbsc", "/scores",
        docs.filter(col("doc_id") % (2 * m) === 0), docs.filter(col("doc_id") % (2 * m) =!= 0)) {
      (in, store) => EventStream.nbScoreStream(spark, in, store,
        spark.table(tbl), spark.table(tbl + "_prior"), oov = oov)
    }
    EventStream.readBatches(spark, store, "batch_*").orderBy(col("doc_id"))
  }

  /** Drive [[EventStream.novelDocsStream]]: stream ALL docs against a
    * static corpus holding every doc_id % 3 != 0 — exactly the % 3 == 0
    * docs are novel (texts are unique per doc in the harness corpus).
    */
  private def runNovelOnce(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val docSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val name = s"graft_stream_novel_${runId.incrementAndGet()}"
    driveBatches(spark, "nv", "", docs) { (in, _) =>
      EventStream
        .novelDocsStream(spark.readStream.schema(docSchema).parquet(in),
          docs.filter(col("doc_id") % 3 =!= 0), "text", "text")
        .writeStream.outputMode("append").format("memory").queryName(name).start()
    }
    spark.table(name)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Drive [[EventStream.cmsSketchStream]] over two doc micro-batches
    * (split at doc_id 250), merge the per-batch sketch files, and probe
    * the top exact terms against the merged sketch — the result must
    * hash-match the BATCH-built `q_cms_freq` (mergeable-summary
    * property: batch slicing cannot move any cell). The merged sketch
    * embeds as a literal in the probe (loaded once per task, never a
    * per-row binary-column read).
    */
  private def runCmsOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.CmsAgg
    import graft.ops.TextAnalysis
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val store = driveBatches(spark, "cms", "/sketches",
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250)) {
      (in, store) => EventStream.cmsSketchStream(spark, in, store,
        RelationalQueries.CmsDepth, RelationalQueries.CmsWidth)
    }
    val sketch = EventStream.readCmsSketch(store,
      RelationalQueries.CmsDepth, RelationalQueries.CmsWidth)
    TextAnalysis.topTerms(docs, "doc_id", "text", limit = RelationalQueries.CmsTopK)
      .select(col("term"),
        CmsAgg.estimate(lit(sketch), col("term")).as("est"),
        col("cnt").as("exact"))
      .orderBy(col("term"))
  }

  /** Drive [[EventStream.qualityStream]] over two doc micro-batches
    * (split at doc_id 250 — batch boundaries must not move any verdict)
    * and return the accumulated verdict store.
    */
  private def runQualityOnce(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val store = driveBatches(spark, "q", "/verdicts",
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250)) {
      (in, store) => EventStream.qualityStream(spark, in, store)
    }
    spark.read.parquet(store).orderBy(col("doc_id"))
  }

  /** Drive [[EventStream.indexStream]] over two micro-batches — the
    * second RE-INGESTS docs 20..39 truncated to 120 chars (fewer chunks
    * than v1, so stale tail chunks must vanish) and adds docs 40..59 —
    * then return the final point store. Portable-hash embedding at
    * dim 16 so the whole store is mirrorable in oracle SQL.
    */
  private def runIndexOnce(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val store = driveBatches(spark, "idx", "/points",
        docs.filter(col("doc_id") < 40).select(col("doc_id"), col("text")),
        docs.filter(col("doc_id") >= 20 && col("doc_id") < 60)
          .select(col("doc_id"),
            when(col("doc_id") < 40, substring(col("text"), 1, 120))
              .otherwise(col("text")).as("text"))) {
      (in, store) => EventStream.indexStream(spark, in, store, dim = 16, portableHash = true)
    }
    spark.read.parquet(store)
      .select(col("chunk_id"), col("doc_id"), col("chunk_index"),
        length(col("chunk_text")).cast("long").as("n_chars"),
        round(element_at(col("embedding"), 1), 6).as("first_dim"),
        round(aggregate(col("embedding"), lit(0.0d), (a, x) => a + x), 6).as("vsum"))
      .orderBy(col("chunk_id"))
  }
}
