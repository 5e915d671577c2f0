package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured-Streaming analog of the batch event aggregation
  * (Relational.eventsHourly): incremental tumbling-window counts with a
  * watermark. The reference has nothing streaming (SURVEY §1.2) — this is
  * the engine extension that makes the same plan run incrementally: at
  * 100 TB/day the identical `groupBy(window(...))` aggregation runs as a
  * continuous job with state eviction driven by the watermark.
  */
object EventStream {

  /** Schema of the harness events table, with ts as TIMESTAMP (the
    * streaming reader gets parquet-ns-free data in tests).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** The incremental plan: watermark + tumbling 1h window + counts. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n_events"), col("sum_value"))

  case class EvRow(event_id: Long, ts: java.sql.Timestamp, user_id: Long)
  case class SessState(nSessions: Long, lastMicros: Long)
  case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  /** Stateful streaming sessionization: per-user custom state via
    * `mapGroupsWithState` — the KeyValueGroupedDataset state API the
    * batch `Relational.sessionize` (lag + running sum) is the set
    * equivalent of. Same 30-min gap rule at the same MICROSECOND
    * precision (`Timestamp.getTime` alone is ms — truncation there
    * could merge two sessions the batch/oracle µs comparison splits,
    * breaking the stream≡batch guarantee on boundary gaps). Rows are
    * sorted within the group by event time before folding
    * (single-batch demo; a production stream pairs this with a
    * watermark so late rows are bounded).
    */
  def statefulSessionCounts(
      events: org.apache.spark.sql.Dataset[EvRow]): org.apache.spark.sql.Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    // epoch µs from a java.sql.Timestamp: getTime's ms already include
    // the integral-ms part of nanos; only the sub-ms µs remainder is added
    def micros(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessState, UserSessions](GroupStateTimeout.NoTimeout) {
        (uid, rows, state) =>
          val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var (n, last, cnt) = state.getOption
            .map(s => (s.nSessions, s.lastMicros, 0L))
            .getOrElse((0L, Long.MinValue, 0L))
          sorted.foreach { e =>
            val t = micros(e.ts)
            if (last == Long.MinValue || t - last > 1800000000L) n += 1
            last = t
            cnt += 1
          }
          state.update(SessState(n, last))
          UserSessions(uid, n, cnt)
      }
  }

  /** Run `body` with the session's shuffle-partition count clamped to
    * `n` and restored afterwards. EVERY stateful streaming runner uses
    * this, not just the join: each shuffle partition of a stateful
    * operator runs its own state store(s) paying per-batch commit +
    * maintenance regardless of row count, so fixed cost scales with
    * the partition count, not the data (measured on the 4-store join:
    * 32 partitions → 26.6 s vs 8 → 4.3 s on identical input; the
    * 1-store dedup/agg pay the same class of cost at 1/4 the rate).
    * Production sizes state partitions to stream volume up front —
    * the count is pinned by checkpoint metadata at the first batch.
    */
  private def withStatePartitions[A](spark: SparkSession, n: Int)(body: => A): A = {
    ensureProgressRetention(spark)
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, math.min(prev.toInt, n))
    try body finally spark.conf.set(key, prev)
  }

  /** One state partition per this many input rows. The commit cost is
    * per partition per batch, so the divisor prices a partition's
    * KEEP: a task folds this many rows far faster than idle stores pay
    * their per-batch commits (same-window A/B at sf0.1, fixed 8 vs
    * volume-sized 1: stream_hourly 74 → 67 tasks, stream_dedup 53 → 39
    * tasks and shuffle write 3.88 → 3.73 MB, stream_join CPU 2.6 →
    * 1.2 s, stream_sessionize CPU 2.9 → 0.7 s; outputs identical —
    * this host's CPU channel swings ~3x between identical runs, so the
    * deterministic task/shuffle counts are the pinned evidence).
    */
  private val RowsPerStatePartition = 250000L

  /** Volume-sized state-partition count for a finite input of `rows`
    * rows: ⌈rows / [[RowsPerStatePartition]]⌉, later clamped to the
    * session's shuffle parallelism by [[withStatePartitions]]. Same
    * discipline as [[graft.VolumeConf]]: the count tracks stream VOLUME
    * with the session width as the ceiling, instead of a constant tuned
    * to either the local core count or one fixture size — a production
    * deployment's volume pushes it up to the session's own
    * parallelism, a small fixture shrinks it to 1.
    */
  private def statePartitionsFor(rows: Long): Int =
    math.max(1L, (rows + RowsPerStatePartition - 1) / RowsPerStatePartition)
      .min(Int.MaxValue.toLong).toInt

  /** Raise the progress-log retention to 10k entries. MUST run before
    * `start()`: StreamExecution clones the session at start, so a conf
    * set afterwards never reaches the running query's progress buffer
    * — and [[drainAll]]'s ledger is that buffer. At the default 100, a
    * pathological one-file-per-micro-batch listing could evict the
    * earliest entries and permanently undercount, failing a healthy
    * run. (build.sbt also sets this as a JVM property for sbt-launched
    * runs, but a spark-submit deployment only gets it from here.)
    */
  private def ensureProgressRetention(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")

  /** Exact row count of the parquet data files DIRECTLY under `dir`,
    * summed from the file footers on the driver — the same number
    * `spark.read.parquet(dir).count()` computes, without launching a
    * job. Used for the [[drainAll]] ingest ledger and
    * [[statePartitionsFor]] (scanned once per [[runFinite]] run for
    * both), whose inputs are finite flat fixture directories.
    *
    * A subdirectory fails fast, naming its path: FileStreamSource
    * ingests the files under a partition-style `key=value` dir but not
    * under a plain one, so no flat count matches what the source reads
    * for every shape, and a short ledger would let the drain return
    * before ingestion finishes. Entries starting with `_` or `.` are
    * skipped, as Spark skips them.
    */
  private def parquetRowCount(spark: SparkSession, dir: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    fs.listStatus(root).iterator
      .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
      .map { f =>
        require(!f.isDirectory,
          s"stream input dir $dir holds the subdirectory ${f.getPath}: the drain ledger " +
            "counts only the files directly under the input dir")
        if (f.getPath.getName.endsWith(".parquet")) {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
          try r.getRecordCount finally r.close()
        } else 0L
      }.sum
  }

  /** Drain `q` until every row currently in `inputDir` has been
    * ingested. `processAllAvailable()` alone was observed — once, in a
    * long many-query Verify run — to return before the file source's
    * FIRST directory listing registered any file, leaving the sink
    * empty with no error anywhere; every finite-input runner therefore
    * drains against the input-row ledger (`numInputRows` summed over
    * the progress log), re-calling `processAllAvailable` until the
    * expected input volume has actually been processed. A timeout
    * fails LOUDLY rather than returning a silently-empty result. The
    * `>=` guard is deliberate: a self-joined source is scanned once
    * per plan instance and can legitimately over-count. The ledger is
    * the `recentProgress` ring buffer, whose retention cap every runner
    * raises to 10k BEFORE starting its query ([[ensureProgressRetention]]).
    * The expected volume is a driver-side footer read
    * ([[parquetRowCount]]), not a Spark count job.
    */
  def drainAll(spark: SparkSession, q: org.apache.spark.sql.streaming.StreamingQuery,
      inputDir: String, timeoutSec: Int = 120): Unit =
    drainRows(spark, q, inputDir, parquetRowCount(spark, inputDir), timeoutSec)

  /** [[drainAll]] against an already-scanned `expected` row count. */
  private def drainRows(spark: SparkSession, q: org.apache.spark.sql.streaming.StreamingQuery,
      inputDir: String, expected: Long, timeoutSec: Int): Unit = {
    // Retention must have been raised BEFORE q started (the query holds
    // a session clone — see [[ensureProgressRetention]], called by every
    // runner in this file pre-start). Setting it here would be too late;
    // assert the session-level conf instead so a runner that forgot is
    // caught loudly rather than by a flaky undercount.
    require(spark.conf.get("spark.sql.streaming.numRecentProgressUpdates", "100").toInt >= 10000,
      "drainAll: progress retention not raised before query start — " +
        "the ledger could undercount; call ensureProgressRetention pre-start")
    def ingested: Long = q.recentProgress.iterator.map(_.numInputRows).sum
    q.processAllAvailable()
    val deadline = System.nanoTime() + timeoutSec * 1000000000L
    while (ingested < expected && System.nanoTime() < deadline) {
      Thread.sleep(250)
      q.processAllAvailable()
    }
    require(ingested >= expected,
      s"stream drain timed out: ingested $ingested of $expected input rows from $inputDir")
  }

  /** Drive the stateful sessionizer over a parquet dir, single batch,
    * update-mode memory sink.
    */
  def runSessionsOnce(spark: SparkSession, inputDir: String, queryName: String): DataFrame =
    runFinite(spark, inputDir, queryName, "update") { stream =>
      import spark.implicits._
      // CONTRACT (shared with Relational.sessionize): session identity
      // requires a non-null user key and a non-null event time — and
      // the typed EvRow encoder holds a primitive Long user_id, so an
      // unfiltered NULL would abort the stream with
      // NOT_NULL_ASSERT_VIOLATION instead of degrading per row
      statefulSessionCounts(stream
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("event_id"), col("ts"), col("user_id")).as[EvRow]).toDF()
    }

  /** Streaming exact-dedup: at-least-once sources redeliver rows, so
    * the ingest edge of a training-data pipeline needs key-dedup as a
    * STREAM operator, not just the batch `Dedup.exactClusters`.
    * `dropDuplicatesWithinWatermark` keeps the first row per key and —
    * unlike plain `dropDuplicates` — evicts key state once the
    * watermark passes it, so state is bounded by the delay horizon
    * (duplicates arriving within `delay` of each other are caught;
    * state never grows with total keys seen — the 100 TB/day
    * requirement).
    */
  def dedupStream(events: DataFrame, delay: String, keyCols: Seq[String]): DataFrame =
    events.withWatermark("ts", delay).dropDuplicatesWithinWatermark(keyCols)

  /** Drive the streaming dedup over a parquet dir, single batch,
    * append-mode memory sink.
    */
  def runDedupOnce(spark: SparkSession, inputDir: String, queryName: String): DataFrame =
    runFinite(spark, inputDir, queryName, "append")(dedupStream(_, "1 hour", Seq("event_id")))

  /** Stream-stream interval join: each purchase matched to the same
    * user's clicks in the `interval` before it — click attribution, the
    * canonical two-unbounded-inputs join. Both sides carry event-time
    * watermarks AND the join condition bounds `click_ts` relative to
    * `purchase_ts` on both ends, which is exactly what Spark needs to
    * derive a state-eviction horizon for EACH side: a buffered click is
    * droppable once the purchase watermark passes `click_ts + interval`,
    * so state holds only ~(watermark delay + interval) of rows per side
    * regardless of how long the streams run — the property that lets
    * two 100 TB/day streams join with bounded memory. Without the
    * interval bounds the same inner join would buffer both streams
    * forever. Inner join in append mode emits pairs as they match; on a
    * finite input the result must equal the batch range join (the
    * `stream_join` oracle).
    */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
      delay: String, interval: String): DataFrame = {
    val c = clicks.withWatermark("ts", delay)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", delay)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $interval") &&
        col("click_ts") < col("purchase_ts"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
        col("purchase_ts"), col("click_ts"))
  }

  /** Drive the attribution join over a parquet dir (the two sides are
    * event-type filters of the SAME staged source), single batch,
    * append-mode memory sink.
    *
    * The join is the WORST case for state-partition fixed cost — FOUR
    * state stores per shuffle partition (two per side) — hence
    * [[withStatePartitions]]; see its note for the measurements.
    */
  def runJoinOnce(spark: SparkSession, inputDir: String, queryName: String): DataFrame =
    runFinite(spark, inputDir, queryName, "append") { ev =>
      attributionJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        delay = "1 hour", interval = "6 hours")
    }

  /** Ingest novelty filter: stream-STATIC anti-join — arriving docs
    * pass only if their content hash is NOT in the accumulated corpus.
    * This is the third streaming join class next to the stateful
    * stream-stream join ([[attributionJoin]]) and the within-stream
    * dedup ([[dedupStream]]): the static side is planned per
    * micro-batch like any batch join (broadcast when small, shuffled
    * when not) and the stream side holds NO state — re-delivered
    * duplicates WITHIN the stream are upstream's
    * `dropDuplicatesWithinWatermark` job; this operator answers "is it
    * already in the corpus". Only (hash) columns of the corpus are
    * read — at 100 TB the static side is the hash index, not the
    * corpus itself.
    */
  def novelDocsStream(docs: DataFrame, corpus: DataFrame, textCol: String,
      corpusTextCol: String): DataFrame = {
    val hashes = corpus.select(sha2(col(corpusTextCol), 256).as("__ch")).distinct()
    docs
      .withColumn("__ch", sha2(col(textCol), 256))
      .join(hashes, Seq("__ch"), "left_anti")
      .drop("__ch")
  }

  /** Quality gate at the ingest edge: documents arriving in `inputDir`
    * are scored by the batch quality cascade
    * ([[graft.ops.TextAnalysis.qualityFilter]]) and the verdicts
    * appended to `storeDir`. The per-doc signals are
    * aggregation-shaped (token explode → per-doc group-by), which as a
    * naked streaming plan would be chained stateful aggregations —
    * unbounded state for a computation that is per-document PURE. So
    * `foreachBatch` runs the identical batch operator on each bounded
    * micro-batch: because every signal depends only on its own row,
    * stream output ≡ batch output regardless of how the input is cut
    * into batches (the `stream_quality` oracle). Same discipline as
    * [[indexStream]]; together with [[dedupStream]] this is the ingest
    * path of a streaming corpus pipeline: dedup → quality gate →
    * index build.
    */
  def qualityStream(spark: SparkSession, inputDir: String,
      storeDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    ensureProgressRetention(spark)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val docs = spark.readStream.schema(docSchema).parquet(inputDir)
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.TextAnalysis.qualityFilter(batch, "doc_id", "text")
          .select(col("doc_id"), col("n_tokens"), col("reason"), col("keep"))
          .write.mode("append").parquet(storeDir)
        ()
      }
      .start()
  }

  /** Continuous per-doc PROFILE maintenance — the ingest half of the
    * profile-backed data card ([[graft.ops.TextAnalysis.docProfile]] /
    * `pipeline_data_card_inc`) as a stream: each micro-batch of docs
    * writes its profiles and its distinct terms to idempotent
    * per-batch-id dirs (a replayed batch overwrites its OWN dir — the
    * [[searchStream]] at-least-once discipline), and the card is then
    * derived from the accumulated tables with the same
    * [[graft.ops.TextAnalysis.dataCardFromProfiles]] the batch path
    * uses. Valid because the profile is per-doc (no corpus
    * dependence), so batch slicing cannot change any profile row;
    * vocab dirs hold per-BATCH distinct terms, so the reader dedups
    * the union (a production deployment merges into one vocab table
    * instead). Oracle: the finite-input card must equal the batch
    * `pipeline_data_card` — the same single-sourced SQL, third
    * consumer.
    *
    * RESTART: with a real `checkpointDir` the monitor is restartable —
    * the file source resumes at the first unprocessed file AND batch
    * ids continue from the checkpoint (batch-id-STABLE), so a restart
    * writes new per-batch dirs, a replayed batch overwrites its OWN
    * dir, and the cumulative glob never double-counts (the
    * [[indexStream]] recipe; restart-pinned in OpsSpec). The
    * checkpoint and the store must travel together: restoring one
    * without the other re-numbers batches over surviving dirs.
    * The fresh-store guard is skipped ONLY on a genuine resume (the
    * checkpoint has committed offsets); a FIRST run — checkpoint-less
    * or with a brand-new checkpoint dir — still fails fast on a store
    * holding per-batch dirs from an earlier run, because its batches
    * would renumber from 0 over them and double-count the metric.
    */
  def profileStream(spark: SparkSession, inputDir: String, storeDir: String,
      checkpointDir: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    ensureProgressRetention(spark)
    if (!checkpointDir.exists(isCommittedCheckpoint(spark, _)))
      requireFreshStore(spark, storeDir, Seq("profile_batch_*", "vocab_batch_*"),
        "profileStream", "docs in the profile-derived card")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val base = spark.readStream.schema(docSchema).parquet(inputDir)
      .writeStream
      .outputMode("append")
    checkpointDir.fold(base)(d => base.option("checkpointLocation", d))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ops.TextAnalysis.docProfile(batch, "doc_id", "text")
          .write.mode("overwrite").parquet(s"$storeDir/profile_batch_$batchId")
        batch.select(explode(graft.ops.Dedup.tokens(col("text"))).as("term"))
          .distinct()
          .write.mode("overwrite").parquet(s"$storeDir/vocab_batch_$batchId")
        ()
      }
      .start()
  }

  /** Continuous vector SERVING: query vectors arriving in `inputDir`
    * are answered with exact top-k against the static point corpus and
    * the hits appended to `storeDir` — the query half of the serving
    * loop whose build half is [[indexStream]] (together they are the
    * reference's Qdrant deployment as two streams: ingest upserts
    * points, search answers queries, `Database.py:16-28`).
    * `foreachBatch` runs the identical batch operator
    * ([[graft.ops.Knn.knnJoin]]) per micro-batch: each query's top-k
    * depends only on its own row and the static corpus, so stream
    * output ≡ batch output regardless of how queries are batched (the
    * `stream_search` oracle) — and each micro-batch broadcasts only
    * its own queries, never touching corpus layout.
    *
    * RESTART: the [[profileStream]] contract — a COMMITTED
    * `checkpointDir` resumes batch-id-stable (replays overwrite their
    * own `batch_*` dir, the accumulated hit store never
    * double-counts); checkpoint-less runs and first runs keep the
    * fail-fast fresh-store guard.
    */
  def searchStream(spark: SparkSession, inputDir: String, storeDir: String,
      points: DataFrame, k: Int,
      checkpointDir: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    ensureProgressRetention(spark)
    if (!checkpointDir.exists(isCommittedCheckpoint(spark, _)))
      requireFreshStore(spark, storeDir, Seq("batch_*"), "searchStream",
        "hits in the accumulated store")
    val qSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val queries = spark.readStream.schema(qSchema).parquet(inputDir)
    val base = queries.writeStream
      .outputMode("append")
    checkpointDir.fold(base)(d => base.option("checkpointLocation", d))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // idempotent per-batch output: foreachBatch is AT-LEAST-ONCE
        // (a failure after a partial append replays the batch), so a
        // plain append would duplicate hits on replay and break the
        // stream ≡ batch oracle. Writing each batch to its own
        // overwritten directory makes replays converge — the
        // [[cmsSketchStream]] per-batchId discipline.
        graft.ops.Knn
          .knnJoin(batch, points, "vec_id", "embedding", "point_id", "embedding", k)
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("point_id"), col("score"))
          .write.mode("overwrite").parquet(s"$storeDir/batch_$batchId")
        ()
      }
      .start()
  }

  /** Continuous vector serving AGAINST THE STORED ANN INDEX — the
    * production shape of [[searchStream]]: streamed query vectors are
    * answered per micro-batch by the composed IVF+BQ search
    * ([[graft.ops.SimilaritySearch.ivfBqRerankTopK]]) over the static
    * pre-built index + corpus, instead of exact brute force. Per-query
    * purity makes batch slicing invisible: each query's hits depend
    * only on the static sides, so the accumulated store ≡ the one-shot
    * batch search (the `sim_ivf_bq` oracle, fourth single-source
    * consumer pattern). Same idempotent per-batch-id output dirs as
    * [[searchStream]]. Index/search parameters are the caller's — they
    * must match how `idxPoints` was built.
    *
    * RESTART: the [[searchStream]] contract — committed
    * `checkpointDir` resumes batch-id-stable; otherwise the
    * fresh-store guard refuses a store with surviving `batch_*` dirs.
    */
  def indexedSearchStream(spark: SparkSession, inputDir: String,
      storeDir: String, idxPoints: DataFrame, points: DataFrame,
      bits: Int, dim: Int, nprobe: Int, shortlist: Int, k: Int,
      checkpointDir: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    ensureProgressRetention(spark)
    if (!checkpointDir.exists(isCommittedCheckpoint(spark, _)))
      requireFreshStore(spark, storeDir, Seq("batch_*"), "indexedSearchStream",
        "hits in the accumulated store")
    val qSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val base = spark.readStream.schema(qSchema).parquet(inputDir)
      .writeStream
      .outputMode("append")
    checkpointDir.fold(base)(d => base.option("checkpointLocation", d))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ops.SimilaritySearch.ivfBqRerankTopK(
            batch, idxPoints, points,
            "vec_id", "point_id", "embedding", "b", "sig",
            bits, dim, nprobe, shortlist, k)
          .write.mode("overwrite").parquet(s"$storeDir/batch_$batchId")
        ()
      }
      .start()
  }

  /** Continuous QUALITY-FILTER serving against the stored NB model —
    * the streaming half of `pipeline_nb_inc`'s train-once/
    * score-forever contract: documents arriving in `inputDir` are
    * scored per micro-batch by
    * [[graft.ops.Curation.nbScoreBatch]] over the static
    * `(term, lr)` model + 1-row priors (materialized once per corpus
    * snapshot; never re-trained here). Per-DOC purity makes batch
    * slicing invisible — a doc's score depends only on its own tokens
    * and the static model — so the accumulated store ≡ the one-shot
    * batch scoring and both check against the same oracle SQL (the
    * `stream_idx_search`/`ivfBqSql` single-source pattern). Same
    * idempotent per-batch-id output dirs as [[searchStream]]; at
    * crawl scale each micro-batch pays tokenize + the term join +
    * one batch-id shuffle, nothing corpus-sized.
    *
    * RESTART: the [[searchStream]] contract — committed
    * `checkpointDir` resumes batch-id-stable; otherwise the
    * fresh-store guard refuses a store with surviving `batch_*` dirs.
    *
    * `oov = true` scores through
    * [[graft.ops.Curation.nbScoreBatchOov]] instead: every batch term
    * absent from the stored model contributes the train-time smoothed
    * constant carried in the priors artifact's `oov_lr` column — the
    * bias-correcting treatment for crawl batches whose vocabulary the
    * stored model has never seen (the batch side's `pipeline_nb_oov`
    * form). Same per-doc purity, so the accumulated store still
    * equals the one-shot batch scoring against the same model.
    */
  def nbScoreStream(spark: SparkSession, inputDir: String, storeDir: String,
      model: DataFrame, priors: DataFrame,
      checkpointDir: Option[String] = None,
      oov: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery = {
    ensureProgressRetention(spark)
    if (!checkpointDir.exists(isCommittedCheckpoint(spark, _)))
      requireFreshStore(spark, storeDir, Seq("batch_*"), "nbScoreStream",
        "scores in the accumulated store")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val base = spark.readStream.schema(docSchema).parquet(inputDir)
      .writeStream
      .outputMode("append")
    checkpointDir.fold(base)(d => base.option("checkpointLocation", d))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val scored =
          if (oov) graft.ops.Curation.nbScoreBatchOov(batch, "doc_id", "text", model, priors)
          else graft.ops.Curation.nbScoreBatch(batch, "doc_id", "text", model, priors)
        scored.write.mode("overwrite").parquet(s"$storeDir/batch_$batchId")
        ()
      }
      .start()
  }

  /** Continuous vector-index maintenance: the reference's ingestion
    * (`main.py` §3.1: chunk → embed → upsert into Qdrant) as a STREAM —
    * new documents arriving in `inputDir` are chunked, hash-embedded,
    * and upserted by chunk key into the parquet point store. The
    * transform chain is the SAME lazy plan the batch path uses
    * (Chunker.chunk → VectorOps.embedTextDistributed); `foreachBatch`
    * applies [[graft.ops.Store.upsert]] per micro-batch, so re-ingested
    * doc versions REPLACE their old chunks (insert-or-replace by id —
    * Qdrant upsert semantics, `Database.py:16-20`) rather than append.
    * At 100 TB/day this is the index-build path: each micro-batch
    * shuffles only its own chunk keys against the store.
    */
  def indexStream(spark: SparkSession, inputDir: String, storeDir: String,
      dim: Int,
      portableHash: Boolean = false,
      checkpointDir: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    ensureProgressRetention(spark)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val docs = spark.readStream.schema(docSchema).parquet(inputDir)
    // chunk+embed run as BATCH logic per micro-batch inside foreachBatch
    // (literally the batch pipeline's code path): the featurizer's
    // group-bys would otherwise be chained stateful streaming
    // aggregations — unbounded state and a watermark-correctness trap
    // for a computation that is per-document pure anyway.
    // A real checkpointDir makes the stream RESTARTABLE: the file
    // source records processed files there, so a new query over the
    // same checkpoint resumes at the first unprocessed batch instead of
    // re-ingesting history (proven by the restart spec via
    // numInputRows). Without one, Spark uses a throwaway temp dir —
    // fine for single-run tests only. Either way a replayed micro-batch
    // is harmless: the doc-replace upsert is idempotent, which is the
    // foreachBatch exactly-once-EFFECT contract.
    val base = docs.writeStream
      .outputMode("append")
    val writer = checkpointDir.fold(base)(d => base.option("checkpointLocation", d))
    writer
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val chunks = graft.ops.Chunker
          .chunk(batch, Seq("doc_id"), separator = " the ", minLen = 20)
          .withColumn("chunk_id", col("doc_id") * 1000 + col("chunk_index"))
        val idCols = Seq("chunk_id", "doc_id", "chunk_index", "chunk_text")
        // portable (md5) bucket hash only when an oracle needs to mirror
        // the embedding in SQL; murmur3 stays the production default
        val points =
          if (portableHash)
            graft.ops.VectorOps.embedTextPortable(chunks, idCols, "chunk_text", dim)
          else
            graft.ops.VectorOps.embedTextDistributed(chunks, idCols, "chunk_text", dim)
        val storePath = new org.apache.hadoop.fs.Path(storeDir)
        // FS from the path, not the default FS (object-store stores)
        val fs = storePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val merged =
          if (fs.exists(storePath)) {
            // replace by the micro-batch's docs, not by the docs its
            // chunks carry: a re-ingested doc that now chunks into
            // fewer pieces, or into none (no chunk reaches minLen),
            // must drop its old chunks too, or deleted text keeps
            // matching kNN queries
            val base = spark.read.parquet(storeDir)
            base.join(batch.select(col("doc_id")).distinct(),
                Seq("doc_id"), "left_anti")
              .unionByName(points)
          } else points
        // stage + rename (no second data write; staging never leaks).
        // delete+rename is not atomic — a production deployment
        // versions store directories or uses a table format with
        // atomic commit; this is the single-writer micro-batch path.
        val tmp = storeDir.stripSuffix("/") + "__staging"
        merged.write.mode("overwrite").parquet(tmp)
        graft.ops.Store.swapDirs(spark, tmp, storeDir)
      }
      .start()
  }

  /** CDC-style continuous upsert into a PARTITIONED Parquet store:
    * each micro-batch of update rows is merged via
    * [[graft.ops.Store.upsertPartitioned]] — only the partitions a
    * batch touches are rewritten, untouched partition directories keep
    * their exact bytes (the OpsSpec byte-for-byte pin), and the swap
    * is the trash-staged crash-recoverable one. Batch boundaries
    * cannot change the final table as long as each key arrives once
    * across the stream (the caller's CDC dedup contract — compose
    * [[dedupStream]] upstream otherwise): merge-by-key is
    * order-independent across disjoint key sets, which is the
    * `stream_upsert` ≡ batch-upsert oracle. A replayed micro-batch
    * (foreachBatch is at-least-once) re-merges the same keys into the
    * same values — idempotent, the exactly-once-EFFECT contract. At
    * scale this is the ingest half of a partitioned lake table: shuffle
    * volume per batch is O(batch + touched partitions), never
    * O(table).
    *
    * `checkpointLocation` governs RESTART cost, not correctness:
    * without one, a restarted query re-lists the whole input dir as
    * batch 0 and re-merges everything — value-idempotent (the OpsSpec
    * replay pin) but it rewrites every touched partition again, which
    * at lake scale is a full-ingest replay. With a checkpoint the
    * restart resumes from the tracked file offset and only unseen
    * files merge (OpsSpec restart pin). Production passes one; the
    * in-test runners omit it because each run owns a fresh scratch
    * input.
    */
  def upsertStream(spark: SparkSession, inputDir: String,
      schema: StructType, storePath: String, keyCol: String,
      partitionCol: String,
      checkpointLocation: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    ensureProgressRetention(spark)
    val writer = spark.readStream.schema(schema).parquet(inputDir)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Store.upsertPartitioned(batch.sparkSession, storePath,
          batch, keyCol, partitionCol)
      }
    checkpointLocation.fold(writer)(cp => writer.option("checkpointLocation", cp))
      .start()
  }

  /** CDC-style continuous point DELETION from a partitioned Parquet
    * store — the erasure half of the CDC pair ([[upsertStream]] is the
    * ingest half): right-to-be-forgotten requests and retention
    * expiries arrive as `(keyCol, partitionCol)` rows in `inputDir`,
    * and each micro-batch is applied via
    * [[graft.ops.Store.deletePartitioned]] — pair-wise deletes, only
    * the partitions a batch names rewritten, the trash-staged
    * crash-safe swap, fully-emptied partitions removed, and the
    * pre-swap guards (type-inference rewrite, last-partition removal)
    * intact per batch. Unlike the upsert half, there is NO
    * each-key-arrives-once caller contract: erasure by key is
    * idempotent AND commutative, so replayed micro-batches
    * (foreachBatch is at-least-once) and any batch boundary placement
    * converge to the same table — set subtraction doesn't care how the
    * subtrahend was sliced. Shuffle volume per batch is
    * O(batch + touched partitions), never O(table).
    *
    * `checkpointLocation` as in [[upsertStream]]: restart cost, not
    * correctness — without one a restart re-lists and re-deletes
    * everything (a no-op on values, but it re-stages every touched
    * partition); with one, only unseen files apply.
    */
  def deleteStream(spark: SparkSession, inputDir: String,
      schema: StructType, storePath: String, keyCol: String,
      partitionCol: String,
      checkpointLocation: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    ensureProgressRetention(spark)
    val writer = spark.readStream.schema(schema).parquet(inputDir)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Store.deletePartitioned(batch.sparkSession, storePath,
          batch, keyCol, partitionCol)
      }
    checkpointLocation.fold(writer)(cp => writer.option("checkpointLocation", cp))
      .start()
  }

  /** Continuous embedding-drift monitoring: vectors arriving in
    * `inputDir` are accumulated (idempotent per-batch-id dirs, the
    * [[searchStream]] replay discipline) and each micro-batch
    * overwrites `storeDir/psi_latest` with the per-dimension PSI of
    * the STATIC baseline vs everything streamed so far
    * ([[graft.ops.VectorOps.dimDrift]]) — the ingest-side alarm that
    * catches an encoder swap or upstream corpus shift while it is
    * happening, not at the next offline audit. Each snapshot
    * recomputes over the accumulated vectors (exact, and what the
    * finite-input oracle checks: the LAST snapshot must equal the
    * batch `v_drift`); a production monitor would instead MERGE
    * per-batch histogram cells — dimDrift's state is `dim x bins`
    * integer counts, a mergeable summary like the CMS path — trading
    * exactness of the pooled bucket ranges for O(batch) work.
    *
    * RESTART: same contract as [[profileStream]] — a COMMITTED
    * `checkpointDir` gives batch-id-stable resume (new batches → new
    * dirs, replays overwrite their own); checkpoint-less runs and
    * first runs with a brand-new checkpoint keep the fail-fast
    * fresh-store guard.
    */
  def driftStream(spark: SparkSession, inputDir: String, storeDir: String,
      baseline: DataFrame,
      checkpointDir: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    ensureProgressRetention(spark)
    if (!checkpointDir.exists(isCommittedCheckpoint(spark, _)))
      requireFreshStore(spark, storeDir, Seq("vec_batch_*"), "driftStream",
        "vectors in the cumulative PSI")
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val base = spark.readStream.schema(vecSchema).parquet(inputDir)
      .writeStream
      .outputMode("append")
    checkpointDir.fold(base)(d => base.option("checkpointLocation", d))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        batch.write.mode("overwrite").parquet(s"$storeDir/vec_batch_$batchId")
        val streamed = readBatches(spark, storeDir, "vec_batch_*")
        val union = baseline.select(col("vec_id"), col("embedding"))
          .withColumn("__isb", lit(0))
          .unionByName(streamed.select(col("vec_id"), col("embedding"))
            .withColumn("__isb", lit(1)))
        graft.ops.VectorOps.dimDrift(union, "embedding", col("__isb") === 1, bins = 10)
          .write.mode("overwrite").parquet(s"$storeDir/psi_latest")
      }
      .start()
  }

  /** Incremental Count–Min maintenance: each micro-batch's tokens
    * aggregate into ONE bounded sketch, persisted as
    * `sketch_<batchId>.bin` (write-temp + atomic overwrite-rename via
    * the Hadoop `FileContext` API, so the commit keeps its atomicity
    * contract on HDFS/object stores, not just the local disk; a
    * replayed batch overwrites its own file — idempotent, the
    * foreachBatch exactly-once-EFFECT contract). The running sketch is
    * the merge of the per-batch files, and because the sketch is a
    * mergeable summary (element-wise add), the merged result is
    * BIT-IDENTICAL to a batch build over everything seen, for any
    * micro-batch slicing — the `stream_cms` oracle. State per batch is
    * O(depth·width) bytes regardless of stream volume; nothing
    * vocabulary-sized ever accumulates. This is the streaming half of
    * corpus monitoring: continuous term-frequency estimates over an
    * ingest firehose.
    *
    * RESTART: the [[profileStream]] contract — a COMMITTED
    * `checkpointDir` resumes batch-id-stable (a replayed batch
    * atomically overwrites its own `sketch_*.bin`, the fold never
    * double-counts); checkpoint-less runs and first runs keep the
    * fail-fast fresh-store guard.
    */
  def cmsSketchStream(spark: SparkSession, inputDir: String, storeDir: String,
      depth: Int, width: Int,
      checkpointDir: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    ensureProgressRetention(spark)
    if (!checkpointDir.exists(isCommittedCheckpoint(spark, _)))
      requireFreshStore(spark, storeDir, Seq("sketch_*.bin"), "cmsSketchStream",
        "term counts in the folded sketch")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val hconf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(storeDir)
    dir.getFileSystem(hconf).mkdirs(dir)
    val base = spark.readStream.schema(docSchema).parquet(inputDir)
      .writeStream
      .outputMode("append")
    checkpointDir.fold(base)(d => base.option("checkpointLocation", d))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sk = batch
          .select(explode(graft.ops.Dedup.tokens(col("text"))).as("term"))
          .agg(graft.functions.CmsAgg.cmsAgg(col("term"), depth, width))
          .first().getAs[Array[Byte]](0)
        val conf = batch.sparkSession.sparkContext.hadoopConfiguration
        val fs = dir.getFileSystem(conf)
        val tmp = new org.apache.hadoop.fs.Path(dir, s".sketch_$batchId.tmp")
        val out = fs.create(tmp, true)
        try out.write(sk) finally out.close()
        // FileContext.rename(OVERWRITE) is the FS-portable atomic
        // replace; plain FileSystem.rename refuses an existing dst on
        // HDFS, and delete-then-rename would open a missing-file window
        // a concurrent readCmsSketch fold could observe.
        org.apache.hadoop.fs.FileContext.getFileContext(dir.toUri, conf)
          .rename(tmp, new org.apache.hadoop.fs.Path(dir, s"sketch_$batchId.bin"),
            org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        ()
      }
      .start()
  }

  /** Hadoop-FS glob of `pattern` directly under `dir` (empty when the
    * dir itself is absent) — the ONE store-listing primitive shared by
    * the cumulative-store guards and the sketch fold. Deliberately not
    * `java.io.File.listFiles`, which returns null for any non-local
    * URI and would silently turn a listing (and any guard built on it)
    * into a no-op on hdfs:// / s3a:// — exactly where a production
    * store lives.
    */
  private def listStore(storeDir: String, pattern: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(storeDir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else Option(fs.globStatus(new org.apache.hadoop.fs.Path(p, pattern)))
      .map(_.toSeq).getOrElse(Seq.empty)
  }

  /** The per-batch dirs matching `pattern` under a cumulative store,
    * read as one table. The dirs are passed to the reader by name: a
    * glob path makes Spark's sink-metadata probe log a
    * `FileNotFoundException` trace on every read.
    */
  private[graft] def readBatches(spark: SparkSession, storeDir: String,
      pattern: String): DataFrame =
    spark.read.parquet(listStore(storeDir, pattern, spark.sparkContext.hadoopConfiguration)
      .map(_.getPath.toString): _*)

  /** True iff `checkpointDir` is a COMMITTED streaming checkpoint —
    * at least one entry in its `offsets/` log. Only such a checkpoint
    * makes skipping the fresh-store guard safe: batch ids then resume
    * where they left off, so surviving per-batch dirs are the SAME
    * batches being replayed (idempotent overwrite), not strangers. A
    * merely-created or empty checkpoint dir is NOT a resume — a first
    * run whose store still holds dirs from an earlier checkpoint-less
    * run would renumber batches from 0 over them and the cumulative
    * glob would double-count, the exact corruption the guard exists to
    * prevent.
    *
    * "Committed" is checked EXACTLY: only numerically-named batch
    * files count (`HDFSMetadataLog` writes batch N as the file `N`).
    * A bare `*` glob would also match dot-prefixed debris — a crashed
    * pre-commit temp write (`.<id>.<uuid>.tmp`) or a `.crc` sidecar —
    * and declare a never-committed checkpoint "committed", skipping
    * the fresh-store guard on exactly the runs where the guard
    * matters most (a first run that crashed mid-offset-write).
    */
  private def isCommittedCheckpoint(spark: SparkSession, checkpointDir: String): Boolean =
    listStore(s"$checkpointDir/offsets", "[0-9]*",
      spark.sparkContext.hadoopConfiguration)
      .exists(st => st.getPath.getName.forall(_.isDigit))

  /** Fail fast on a reused cumulative store: a CHECKPOINT-LESS run of
    * any cumulative-store stream ([[driftStream]], [[profileStream]],
    * [[searchStream]], [[indexedSearchStream]], [[cmsSketchStream]])
    * renumbers batches from 0 on restart while the prior run's
    * per-batch dirs still sit in `storeDir` — the cumulative glob
    * would then count the same rows twice and report a silently wrong
    * metric. The restartable path is
    * those runners' `checkpointDir` (batch-id-stable resume, the
    * indexStream recipe — the guard is skipped only when that
    * checkpoint is already COMMITTED, [[isCommittedCheckpoint]]); this
    * refusal covers the remaining foot-gun instead of corrupting the
    * metric.
    */
  private def requireFreshStore(spark: SparkSession, storeDir: String,
      patterns: Seq[String], runner: String, metric: String): Unit =
    patterns.foreach { pat =>
      require(
        listStore(storeDir, pat, spark.sparkContext.hadoopConfiguration).isEmpty,
        s"$runner: $storeDir already holds $pat dirs from a previous run — " +
          s"reusing it would double-count $metric; use a fresh store dir per stream")
    }

  /** Fold the per-batch sketch files of [[cmsSketchStream]] into the
    * running sketch (driver-side: #batches tiny binary files). Listing
    * and reads go through the Hadoop FileSystem API ([[listStore]])
    * under `conf` — defaulting to the active session's Hadoop
    * configuration so `fs.defaultFS` / `fs.s3a.*` credentials the job
    * was launched with reach the sketch fold (a bare
    * `new Configuration()` would silently drop them and fail or
    * mis-resolve on any non-local store). With NO active session the
    * default falls back to `new Configuration()` — a session-less
    * caller folding a local store keeps working; anything non-local
    * needs a session or an explicit `conf`.
    */
  def readCmsSketch(storeDir: String, depth: Int, width: Int,
      conf: org.apache.hadoop.conf.Configuration =
        SparkSession.getActiveSession.map(_.sparkContext.hadoopConfiguration)
          .getOrElse(new org.apache.hadoop.conf.Configuration())): Array[Byte] = {
    val files = listStore(storeDir, "sketch_*.bin", conf).sortBy(_.getPath.getName)
    files.foldLeft(graft.functions.CmsAgg.emptyBytes(depth, width)) { (acc, st) =>
      val fs = st.getPath.getFileSystem(conf)
      val in = fs.open(st.getPath)
      try {
        val buf = new Array[Byte](st.getLen.toInt)
        in.readFully(buf)
        graft.functions.CmsAgg.mergeBytes(acc, buf)
      } finally in.close()
    }
  }

  /** Drive the streaming plan over a parquet directory with a memory
    * sink, synchronously (for tests / local smoke): returns the final
    * materialized result table.
    */
  def runOnce(spark: SparkSession, inputDir: String, queryName: String): DataFrame =
    runFinite(spark, inputDir, queryName, "complete")(hourlyAgg)

  /** Run `plan` over the finite event dir `inputDir` into the memory
    * sink `queryName` in `mode`, drained to completion under
    * volume-sized state partitions, and return the sink table. The
    * footers are scanned once: that row count sizes the state
    * partitions and is the drain ledger's target.
    */
  private def runFinite(spark: SparkSession, inputDir: String, queryName: String,
      mode: String)(plan: DataFrame => DataFrame): DataFrame = {
    val rows = parquetRowCount(spark, inputDir)
    withStatePartitions(spark, statePartitionsFor(rows)) {
      val q = plan(spark.readStream.schema(eventSchema).parquet(inputDir)).writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(queryName)
        .start()
      try drainRows(spark, q, inputDir, rows, timeoutSec = 120)
      finally q.stop()
      spark.table(queryName)
    }
  }
}
