package graft

import org.apache.spark.sql.functions._
import graft.ops._
import graft.streaming.EventStream

/** Dedup / store / multimodal / streaming behavior. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("upsert: updates win, non-updated rows survive, idempotent") {
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val upd = Seq((2L, "B"), (3L, "C")).toDF("id", "v")
    val got = Store.upsert(base, upd, "id").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "B"), (3L, "C")))
    val again = Store.upsert(Store.upsert(base, upd, "id"), upd, "id")
    assert(again.count() == 3)
  }

  test("upsertPartitioned: only touched partition dirs rewritten, untouched files identical") {
    val dir = java.nio.file.Files.createTempDirectory("upsertp").toString + "/t"
    val base = Seq(
      (1L, "en", "a"), (2L, "en", "b"),
      (3L, "de", "c"), (4L, "de", "d"),
      (5L, "fr", "e")).toDF("id", "lang", "v")
    base.write.partitionBy("lang").parquet(dir)
    def listing(sub: String): Seq[(String, Long, Long)] = {
      val d = new java.io.File(s"$dir/$sub")
      d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).sortBy(_._1)
    }
    val enBefore = listing("lang=en")
    val frBefore = listing("lang=fr")
    // replace one key in de, insert a new de key, and open a new partition
    val upd = Seq((3L, "de", "C2"), (6L, "de", "f"), (7L, "th", "g")).toDF("id", "lang", "v")
    Store.upsertPartitioned(spark, dir, upd, "id", "lang")
    val got = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getString(1))).toSet
    assert(got == Set(
      (1L, "en", "a"), (2L, "en", "b"),
      (3L, "de", "C2"), (4L, "de", "d"), (6L, "de", "f"),
      (5L, "fr", "e"), (7L, "th", "g")))
    assert(listing("lang=en") == enBefore, "untouched en partition files changed")
    assert(listing("lang=fr") == frBefore, "untouched fr partition files changed")
    assert(!new java.io.File(dir + "__upserting").exists(), "staging dir left behind")
    assert(!new java.io.File(dir + "__upsert_trash").exists(), "trash dir left behind")
    // the affected-slice read must prune directories at the scan
    val baseRead = spark.read.parquet(dir)
    val plan = baseRead.filter(col("lang").isInCollection(Seq("de", "th")))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"partition values did not become a PartitionFilter:\n$plan")
  }

  test("upsertPartitioned: replaying the same batch is a no-op on values (stream_upsert contract)") {
    // foreachBatch is at-least-once: a crash after a partial commit
    // replays the whole micro-batch, so the streaming CDC path
    // (EventStream.upsertStream) is only exactly-once-in-EFFECT if
    // re-merging identical updates converges to the same table
    val dir = java.nio.file.Files.createTempDirectory("upsertrp").toString + "/t"
    val base = Seq((1L, "en", "a"), (2L, "de", "b")).toDF("id", "lang", "v")
    base.write.partitionBy("lang").parquet(dir)
    val upd = Seq((1L, "en", "A2"), (3L, "en", "c")).toDF("id", "lang", "v")
    Store.upsertPartitioned(spark, dir, upd, "id", "lang")
    val once = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    Store.upsertPartitioned(spark, dir, upd, "id", "lang")
    val twice = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(once == twice && once == Set((1L, "A2", "en"), (3L, "c", "en"), (2L, "b", "de")),
      s"replay must converge: once=$once twice=$twice")
  }

  test("cumulative-store streams refuse a reused store dir (ADVICE r12)") {
    // driftStream and profileStream are checkpoint-less: a restart
    // renumbers batches from 0 while the prior run's per-batch dirs
    // persist, so the cumulative glob would double-count rows. Both
    // runners must fail fast on a non-fresh store instead of emitting
    // a silently wrong metric — profileStream gained the same guard
    // driftStream already had.
    val in = java.nio.file.Files.createTempDirectory("stale-in").toString
    val store = java.nio.file.Files.createTempDirectory("stale-st").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(store, "profile_batch_0"))
    val e = intercept[IllegalArgumentException] {
      EventStream.profileStream(spark, in, store)
    }
    assert(e.getMessage.contains("profile_batch_*"), e.getMessage)
    val store2 = java.nio.file.Files.createTempDirectory("stale-st2").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(store2, "vocab_batch_3"))
    val e2 = intercept[IllegalArgumentException] {
      EventStream.profileStream(spark, in, store2)
    }
    assert(e2.getMessage.contains("vocab_batch_*"), e2.getMessage)
    val store3 = java.nio.file.Files.createTempDirectory("stale-st3").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(store3, "vec_batch_1"))
    val e3 = intercept[IllegalArgumentException] {
      EventStream.driftStream(spark, in, store3,
        Seq((0L, Array(0.1f, 0.2f))).toDF("vec_id", "embedding"))
    }
    assert(e3.getMessage.contains("vec_batch_*"), e3.getMessage)
  }

  test("fresh-store guard: brand-new checkpoint does NOT bypass it; all cumulative streams guarded (ADVICE r16)") {
    // a checkpointDir only earns the guard skip once it holds COMMITTED
    // offsets — a first run pointed at a new checkpoint but a dirty
    // store would renumber batches from 0 over the survivors and
    // double-count (the exact corruption the guard prevents)
    val in = java.nio.file.Files.createTempDirectory("ckfresh-in").toString
    val store = java.nio.file.Files.createTempDirectory("ckfresh-st").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(store, "profile_batch_0"))
    val newCkpt = java.nio.file.Files.createTempDirectory("ckfresh-ck").toString
    val e = intercept[IllegalArgumentException] {
      EventStream.profileStream(spark, in, store, checkpointDir = Some(newCkpt))
    }
    assert(e.getMessage.contains("profile_batch_*"), e.getMessage)
    // the r17 sweep: the other cumulative-glob streams carry the guard
    val store2 = java.nio.file.Files.createTempDirectory("ckfresh-st2").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(store2, "batch_7"))
    val pts = Seq((10L, Array(0.1f, 0.2f))).toDF("point_id", "embedding")
    val e2 = intercept[IllegalArgumentException] {
      EventStream.searchStream(spark, in, store2, pts, k = 1)
    }
    assert(e2.getMessage.contains("batch_*"), e2.getMessage)
    val store3 = java.nio.file.Files.createTempDirectory("ckfresh-st3").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(store3, "sketch_2.bin"), Array[Byte](0))
    val e3 = intercept[IllegalArgumentException] {
      EventStream.cmsSketchStream(spark, in, store3, depth = 2, width = 8)
    }
    assert(e3.getMessage.contains("sketch_*.bin"), e3.getMessage)
    // nbScoreStream accumulates batch_* dirs too — same contract
    val store4 = java.nio.file.Files.createTempDirectory("ckfresh-st4").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(store4, "batch_3"))
    val model = Seq(("a", 0.5)).toDF("term", "lr")
    val priors = Seq((1L, 1L)).toDF("nd_cur", "nd_web")
    val e4 = intercept[IllegalArgumentException] {
      EventStream.nbScoreStream(spark, in, store4, model, priors)
    }
    assert(e4.getMessage.contains("batch_*"), e4.getMessage)
    // a crashed pre-commit offset write is NOT a committed checkpoint
    // (ADVICE r17): HDFSMetadataLog stages batch N as dot-prefixed
    // '.<N>.<uuid>.tmp' before renaming to 'N' — only the renamed
    // digit-named file proves a commit, so dot debris in offsets/
    // must NOT skip the fresh-store guard
    val store5 = java.nio.file.Files.createTempDirectory("ckfresh-st5").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(store5, "profile_batch_0"))
    val crashedCkpt = java.nio.file.Files.createTempDirectory("ckfresh-ck5").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(crashedCkpt, "offsets"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(crashedCkpt, "offsets", ".0.1f2e3d.tmp"), Array[Byte](0))
    val e5 = intercept[IllegalArgumentException] {
      EventStream.profileStream(spark, in, store5, checkpointDir = Some(crashedCkpt))
    }
    assert(e5.getMessage.contains("profile_batch_*"), e5.getMessage)
  }

  test("profile stream restart: checkpoint resumes batch-id-stable, card stays exact") {
    // the restartable path the r13-r15 verdicts asked for: with a
    // checkpoint, a restarted profileStream (same store) must skip the
    // fresh-store guard, CONTINUE batch numbering (so surviving
    // per-batch dirs never collide with new ones), count every doc
    // exactly once across the restart, and derive the same card the
    // one-shot batch path computes
    val in = java.nio.file.Files.createTempDirectory("profrst-in").toString
    val store = java.nio.file.Files.createTempDirectory("profrst-st").toString
    val ckpt = java.nio.file.Files.createTempDirectory("profrst-ck").toString
    val docs = Seq((1L, "a b c"), (2L, "b c d"), (3L, "d e f"), (4L, "f g a"))
      .toDF("doc_id", "text")
    docs.filter($"doc_id" <= 2).write.mode("append").parquet(in)
    val q1 = EventStream.profileStream(spark, in, store, checkpointDir = Some(ckpt))
    try EventStream.drainAll(spark, q1, in) finally q1.stop()
    docs.filter($"doc_id" > 2).write.mode("append").parquet(in)
    val q2 = EventStream.profileStream(spark, in, store, checkpointDir = Some(ckpt))
    try {
      q2.processAllAvailable()
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (q2.recentProgress.iterator.map(_.numInputRows).sum < 2 &&
          System.nanoTime() < deadline) {
        Thread.sleep(250)
        q2.processAllAvailable()
      }
      val batchIds = q2.recentProgress.map(_.batchId)
      assert(batchIds.nonEmpty && batchIds.min >= 1,
        s"restart must continue batch numbering, planned ${batchIds.toSeq}")
    } finally q2.stop()
    val profiles = spark.read.parquet(s"$store/profile_batch_*")
    assert(profiles.select("doc_id").distinct().count() == 4 && profiles.count() == 4,
      "every doc profiled exactly once across the restart")
    def cardRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    val streamed = cardRows(TextAnalysis.dataCardFromProfiles(profiles,
      spark.read.parquet(s"$store/vocab_batch_*").distinct()))
    val batch = cardRows(TextAnalysis.dataCardFromProfiles(
      TextAnalysis.docProfile(docs, "doc_id", "text"),
      docs.select(explode(Dedup.tokens($"text")).as("term")).distinct()))
    assert(streamed == batch, s"restarted card diverged:\nstream=$streamed\nbatch=$batch")
    // the checkpoint-less path keeps its guard (pinned above) — and a
    // checkpointed DRIFT restart follows the same recipe
    val vin = java.nio.file.Files.createTempDirectory("driftrst-in").toString
    val vstore = java.nio.file.Files.createTempDirectory("driftrst-st").toString
    val vckpt = java.nio.file.Files.createTempDirectory("driftrst-ck").toString
    val baseline = Seq((0L, Array(0.1f, 0.2f)), (1L, Array(0.3f, 0.1f)))
      .toDF("vec_id", "embedding")
    val vecs = Seq((10L, Array(0.5f, 0.6f)), (11L, Array(0.7f, 0.8f)))
      .toDF("vec_id", "embedding")
    vecs.filter($"vec_id" === 10L).write.mode("append").parquet(vin)
    val d1 = EventStream.driftStream(spark, vin, vstore, baseline, Some(vckpt))
    try EventStream.drainAll(spark, d1, vin) finally d1.stop()
    vecs.filter($"vec_id" === 11L).write.mode("append").parquet(vin)
    val d2 = EventStream.driftStream(spark, vin, vstore, baseline, Some(vckpt))
    try {
      d2.processAllAvailable()
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (d2.recentProgress.iterator.map(_.numInputRows).sum < 1 &&
          System.nanoTime() < deadline) {
        Thread.sleep(250)
        d2.processAllAvailable()
      }
    } finally d2.stop()
    assert(spark.read.parquet(s"$vstore/vec_batch_*").count() == 2,
      "restarted drift monitor must accumulate each vector exactly once")
  }

  test("nbScore stream restart: checkpoint resumes batch-id-stable, scores equal the batch pass") {
    // the searchStream-family resume contract exercised on the crawl
    // filter: a restarted nbScoreStream (same store + checkpoint) must
    // skip the fresh-store guard, CONTINUE batch numbering (per-batch
    // dirs never collide), score every doc exactly once, and match the
    // one-shot nbScoreBatch over the same corpus
    val in = java.nio.file.Files.createTempDirectory("nbrst-in").toString
    val store = java.nio.file.Files.createTempDirectory("nbrst-st").toString + "/scores"
    val ckpt = java.nio.file.Files.createTempDirectory("nbrst-ck").toString
    val corpus = Seq((1L, "a a b"), (2L, "b c"), (3L, "a c"), (4L, "b b"))
      .toDF("doc_id", "text")
    val (lr, priors) = Curation.nbModel(corpus, "doc_id", "text", $"doc_id" % 2 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSet
    val expected = rows(Curation.nbScoreBatch(corpus, "doc_id", "text", lr, priors))
    corpus.filter($"doc_id" <= 2).write.mode("append").parquet(in)
    val q1 = EventStream.nbScoreStream(spark, in, store, lr, priors, Some(ckpt))
    try EventStream.drainAll(spark, q1, in) finally q1.stop()
    corpus.filter($"doc_id" > 2).write.mode("append").parquet(in)
    val q2 = EventStream.nbScoreStream(spark, in, store, lr, priors, Some(ckpt))
    try {
      q2.processAllAvailable()
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (q2.recentProgress.iterator.map(_.numInputRows).sum < 2 &&
          System.nanoTime() < deadline) {
        Thread.sleep(250)
        q2.processAllAvailable()
      }
      val batchIds = q2.recentProgress.map(_.batchId)
      assert(batchIds.nonEmpty && batchIds.min >= 1,
        s"restart must continue batch numbering, planned ${batchIds.toSeq}")
    } finally q2.stop()
    val got = spark.read.parquet(s"$store/batch_*")
    assert(got.count() == 4, "every doc scored exactly once across the restart")
    assert(rows(got.select($"doc_id", $"score")) == expected,
      "restarted stream scores must equal the one-shot batch pass")
  }

  test("nbScore stream OOV restart: stored oov_lr flows through, scores equal the batch OOV pass") {
    // the stream_nb_oov contract (r18 verdict item 5): the streaming
    // scorer must apply the TRAIN-TIME smoothed constant to terms the
    // stored model has never seen — the zero-contribution default
    // would silently bias OOV-heavy crawl batches toward the prior.
    // Model trained on a corpus the batch is NOT part of, batch docs
    // carry genuinely-OOV terms, restart mid-stream: accumulated
    // scores must equal the one-shot nbScoreBatchOov AND differ from
    // the zero-default scorer on the OOV-bearing docs (proving the
    // constant actually flowed, not just that slicing is invisible).
    val in = java.nio.file.Files.createTempDirectory("nboov-in").toString
    val store = java.nio.file.Files.createTempDirectory("nboov-st").toString + "/scores"
    val ckpt = java.nio.file.Files.createTempDirectory("nboov-ck").toString
    // class token totals deliberately ASYMMETRIC (curated 7, web 5):
    // a symmetric fixture has oov_lr = ln((t_web+v)/(t_cur+v)) = ln 1
    // = 0 and the constant-flowed assertion below would be vacuous
    val corpus = Seq((1L, "a a b"), (2L, "b c"), (3L, "a c"), (4L, "b b a c c"))
      .toDF("doc_id", "text")
    val (lr, priors) = Curation.nbModel(corpus, "doc_id", "text", $"doc_id" % 2 === 0)
    val batch = Seq((10L, "a zz qq"), (11L, "zz zz"), (12L, "b c"), (13L, "qq a"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSet
    val expected = rows(Curation.nbScoreBatchOov(batch, "doc_id", "text", lr, priors))
    val zeroDefault = rows(Curation.nbScoreBatch(batch, "doc_id", "text", lr, priors))
    assert(expected != zeroDefault,
      "fixture must carry OOV terms that move scores, or the pin proves nothing")
    batch.filter($"doc_id" <= 11).write.mode("append").parquet(in)
    val q1 = EventStream.nbScoreStream(spark, in, store, lr, priors, Some(ckpt), oov = true)
    try EventStream.drainAll(spark, q1, in) finally q1.stop()
    batch.filter($"doc_id" > 11).write.mode("append").parquet(in)
    val q2 = EventStream.nbScoreStream(spark, in, store, lr, priors, Some(ckpt), oov = true)
    try {
      q2.processAllAvailable()
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (q2.recentProgress.iterator.map(_.numInputRows).sum < 2 &&
          System.nanoTime() < deadline) {
        Thread.sleep(250)
        q2.processAllAvailable()
      }
      val batchIds = q2.recentProgress.map(_.batchId)
      assert(batchIds.nonEmpty && batchIds.min >= 1,
        s"restart must continue batch numbering, planned ${batchIds.toSeq}")
    } finally q2.stop()
    val got = spark.read.parquet(s"$store/batch_*")
    assert(got.count() == 4, "every doc scored exactly once across the restart")
    assert(rows(got.select($"doc_id", $"score")) == expected,
      "restarted OOV stream scores must equal the one-shot nbScoreBatchOov pass")
  }

  test("upsert stream restart: checkpoint resumes past committed batches") {
    // Without a checkpoint a restarted upsertStream re-lists the whole
    // input dir as batch 0 — value-idempotent (pin above) but a
    // full-ingest replay at lake scale. With one, the restart must
    // plan from the first UNcommitted batch (the indexStream restart
    // discipline applied to the CDC path).
    val in = java.nio.file.Files.createTempDirectory("upsrst-in").toString
    val store = java.nio.file.Files.createTempDirectory("upsrst-st").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("upsrst-ck").toString
    val base = Seq((1L, "en", "a"), (2L, "de", "b"), (3L, "en", "c")).toDF("id", "lang", "v")
    base.write.partitionBy("lang").parquet(store)
    val upd = Seq((1L, "en", "A"), (4L, "de", "d")).toDF("id", "lang", "v")
    upd.filter(col("id") === 1L).write.mode("append").parquet(in)
    val q1 = EventStream.upsertStream(spark, in, upd.schema, store, "id", "lang",
      checkpointLocation = Some(ckpt))
    // q1 drains against the input ledger (processAllAvailable alone can
    // return before the source's first listing — drainAll's contract)
    try EventStream.drainAll(spark, q1, in) finally q1.stop()
    upd.filter(col("id") === 4L).write.mode("append").parquet(in)
    val q2 = EventStream.upsertStream(spark, in, upd.schema, store, "id", "lang",
      checkpointLocation = Some(ckpt))
    try {
      // the resumed query only sees the ONE new row, so the full-dir
      // drainAll ledger cannot apply — poll until that row is processed
      q2.processAllAvailable()
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (q2.recentProgress.iterator.map(_.numInputRows).sum < 1 &&
          System.nanoTime() < deadline) {
        Thread.sleep(250)
        q2.processAllAvailable()
      }
      val batchIds = q2.recentProgress.map(_.batchId)
      assert(batchIds.nonEmpty && batchIds.min >= 1,
        s"restart must resume after q1's committed batch, planned ${batchIds.toSeq}")
    } finally q2.stop()
    val rows = spark.read.parquet(store)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set((1L, "A", "en"), (2L, "b", "de"), (3L, "c", "en"), (4L, "d", "de")),
      s"merged table wrong after restart: $rows")
  }

  test("stream drain ledger: a partition-style input subdirectory fails fast") {
    // FileStreamSource ingests the day=1/ rows too, so a ledger that
    // counts only the top-level file would let the drain pass short
    val in = java.nio.file.Files.createTempDirectory("nested-in").toString
    val ev = Tables.events(spark, sf0001)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    ev.limit(2).write.mode("append").parquet(in)
    ev.limit(3).write.mode("append").parquet(s"$in/day=1")
    val e = intercept[IllegalArgumentException] {
      EventStream.runOnce(spark, in, "graft_nested_input_probe")
    }
    assert(e.getMessage.contains("day=1"), e.getMessage)
  }

  test("upsertPartitioned: URI-escaping partition value rejected before live data is touched") {
    val dir = java.nio.file.Files.createTempDirectory("upsertesc").toString + "/t"
    val base = Seq((1L, "en", "a"), (2L, "de", "b")).toDF("id", "lang", "v")
    base.write.partitionBy("lang").parquet(dir)
    def listing(sub: String): Seq[(String, Long, Long)] = {
      val d = new java.io.File(s"$dir/$sub")
      d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).sortBy(_._1)
    }
    val before = Seq("lang=en", "lang=de").map(listing)
    // "pt/BR" escapes to "pt%2FBR" in the staging dir name, so the raw
    // interpolated name is absent from staging — must fail pre-swap
    val upd = Seq((3L, "pt/BR", "c")).toDF("id", "lang", "v")
    val e = intercept[IllegalArgumentException] {
      Store.upsertPartitioned(spark, dir, upd, "id", "lang")
    }
    assert(e.getMessage.contains("URI-escaped"))
    assert(Seq("lang=en", "lang=de").map(listing) == before, "live partition files changed")
    assert(!new java.io.File(dir + "__upserting").exists(), "staging dir leaked on failure")
  }

  test("upsertPartitioned: mid-swap failure deletes no data and is recoverable") {
    val dir = java.nio.file.Files.createTempDirectory("upsertcrash").toString + "/t"
    val base = Seq(
      (1L, "en", "a"), (2L, "de", "b"), (3L, "fr", "c")).toDF("id", "lang", "v")
    base.write.partitionBy("lang").parquet(dir)
    // touch two partitions; inject a crash after the first swap completes
    val upd = Seq((1L, "en", "A2"), (2L, "de", "B2")).toDF("id", "lang", "v")
    val e = intercept[java.io.IOException] {
      Store.upsertPartitioned(spark, dir, upd, "id", "lang", failAfterSwaps = 1)
    }
    assert(e.getMessage.contains("no data was deleted"))
    val staging = dir + "__upserting"
    val trash = dir + "__upsert_trash"
    assert(new java.io.File(staging).exists(), "staging must survive for recovery")
    def rows(path: String): Set[(Long, String)] =
      if (!new java.io.File(path).exists()) Set.empty
      else spark.read.parquet(path).select("id", "v").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    // every OLD byte is still on disk: the swapped partition's old dir moved
    // to trash, the unswapped ones are untouched in live
    val onDisk = rows(dir) ++ rows(trash) ++ rows(staging)
    assert(Set((1L, "a"), (2L, "b"), (3L, "c")).subsetOf(onDisk), s"old bytes lost: $onDisk")
    // every NEW byte is on disk too (in staging or already live)
    assert(Set((1L, "A2"), (2L, "B2")).subsetOf(onDisk), s"new bytes lost: $onDisk")
    // manual recovery = finish the interrupted renames, then drop trash/staging
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (d <- Seq("lang=en", "lang=de")) {
      val live = new org.apache.hadoop.fs.Path(s"$dir/$d")
      val stg = new org.apache.hadoop.fs.Path(s"$staging/$d")
      if (fs.exists(stg)) {
        if (fs.exists(live)) fs.rename(live, new org.apache.hadoop.fs.Path(s"$trash/$d"))
        fs.rename(stg, live)
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(trash), true)
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    val got = spark.read.parquet(dir).select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "A2"), (2L, "B2"), (3L, "c")), s"recovered table wrong: $got")
  }

  test("deletePoints / deleteByFilter: matched rows drop, NULL predicate keeps, idempotent") {
    val base = Seq((1L, Some(100L)), (2L, None), (3L, Some(300L)), (4L, Some(50L)))
      .toDF("id", "n")
    // id selector: absent ids (99) are a no-op; the delete is idempotent
    val ids = Seq(4L, 99L).toDF("id")
    val afterIds = Store.deletePoints(base, ids, "id")
    assert(afterIds.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(Store.deletePoints(afterIds, ids, "id").count() == 3L)
    // filter selector: row 1 matches (drops); row 2's NULL predicate does
    // NOT match (kept) — the coalesce semantics a bare !pred would break
    val got = Store.deleteByFilter(afterIds, col("n") < 200L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 3L), s"NULL-predicate row must survive: $got")
  }

  test("deletePartitioned: prunes to touched dirs, removes emptied partition, untouched bytes identical") {
    val dir = java.nio.file.Files.createTempDirectory("delp").toString + "/t"
    val base = Seq(
      (1L, "en", "a"), (2L, "en", "b"),
      (3L, "de", "c"), (4L, "de", "d"),
      (5L, "fr", "e")).toDF("id", "lang", "v")
    base.write.partitionBy("lang").parquet(dir)
    def listing(sub: String): Seq[(String, Long, Long)] = {
      val d = new java.io.File(s"$dir/$sub")
      d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).sortBy(_._1)
    }
    val enBefore = listing("lang=en")
    // delete one of two de rows and the ONLY fr row (partition empties),
    // plus an id/partition pair that doesn't exist (idempotent no-op)
    val del = Seq((3L, "de"), (5L, "fr"), (99L, "th")).toDF("id", "lang")
    Store.deletePartitioned(spark, dir, del, "id", "lang")
    val got = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getString(1))).toSet
    assert(got == Set((1L, "en", "a"), (2L, "en", "b"), (4L, "de", "d")), s"got: $got")
    assert(listing("lang=en") == enBefore, "untouched en partition files changed")
    assert(!new java.io.File(s"$dir/lang=fr").exists(), "emptied partition dir must go")
    assert(!new java.io.File(dir + "__deleting").exists(), "staging dir left behind")
    assert(!new java.io.File(dir + "__delete_trash").exists(), "trash dir left behind")
    // replay: deleting the same batch again is a no-op
    Store.deletePartitioned(spark, dir, del, "id", "lang")
    assert(spark.read.parquet(dir).count() == 3L)
  }

  test("deletePartitioned: deletes by (key, partition) PAIR, not by key across touched partitions") {
    // keys are unique within a partition, not globally: the batch rows
    // (7,en) and (8,de) must not delete (7,de) just because the batch
    // happens to touch de too
    val dir = java.nio.file.Files.createTempDirectory("delpair").toString + "/t"
    val base = Seq(
      (7L, "en", "a"), (7L, "de", "b"), (8L, "de", "c")).toDF("id", "lang", "v")
    base.write.partitionBy("lang").parquet(dir)
    val del = Seq((7L, "en"), (8L, "de")).toDF("id", "lang")
    Store.deletePartitioned(spark, dir, del, "id", "lang")
    val got = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(got == Set((7L, "de")), s"(7, de) must survive a (7, en) delete: $got")
  }

  test("deletePartitioned: type-inference-rewritten partition value rejected pre-swap") {
    // all-numeric string partition values read back as ints ('01' -> 1),
    // so survivors stage under col=1 while the batch names col=01 — the
    // unexpected-staging guard must reject before any live byte moves
    val dir = java.nio.file.Files.createTempDirectory("delpinf").toString + "/t"
    val base = Seq((1L, "01", "a"), (2L, "01", "b"), (3L, "02", "c"))
      .toDF("id", "lang", "v")
    base.write.partitionBy("lang").parquet(dir)
    val del = Seq((1L, "01")).toDF("id", "lang")
    val e = intercept[IllegalArgumentException] {
      Store.deletePartitioned(spark, dir, del, "id", "lang")
    }
    assert(e.getMessage.contains("type inference"), e.getMessage)
    assert(spark.read.parquet(dir).count() == 3L, "live data changed on reject")
    assert(!new java.io.File(dir + "__deleting").exists(), "staging dir leaked on reject")
  }

  test("deletePartitioned: refusing to remove the table's last partition dir") {
    val dir = java.nio.file.Files.createTempDirectory("delall").toString + "/t"
    val base = Seq((1L, "en", "a"), (2L, "en", "b")).toDF("id", "lang", "v")
    base.write.partitionBy("lang").parquet(dir)
    val del = Seq((1L, "en"), (2L, "en")).toDF("id", "lang")
    val e = intercept[IllegalArgumentException] {
      Store.deletePartitioned(spark, dir, del, "id", "lang")
    }
    assert(e.getMessage.contains("last partition"), e.getMessage)
    assert(spark.read.parquet(dir).count() == 2L, "live data changed on refusal")
    assert(!new java.io.File(dir + "__deleting").exists(), "staging dir leaked on refusal")
  }

  test("deletePartitioned: non-verbatim partition value rejected before live data is touched") {
    val dir = java.nio.file.Files.createTempDirectory("delpesc").toString + "/t"
    val base = Seq((1L, "en", "a"), (2L, "de", "b")).toDF("id", "lang", "v")
    base.write.partitionBy("lang").parquet(dir)
    val del = Seq((1L, "pt/BR")).toDF("id", "lang")
    val e = intercept[IllegalArgumentException] {
      Store.deletePartitioned(spark, dir, del, "id", "lang")
    }
    assert(e.getMessage.contains("unsupported"))
    assert(spark.read.parquet(dir).count() == 2L, "live data changed on reject")
    assert(!new java.io.File(dir + "__deleting").exists(), "staging dir leaked on reject")
  }

  test("deletePartitioned: mid-swap failure deletes no data and is recoverable") {
    val dir = java.nio.file.Files.createTempDirectory("delpcrash").toString + "/t"
    val base = Seq(
      (1L, "en", "a"), (2L, "en", "b"), (3L, "de", "c"), (4L, "fr", "d"))
      .toDF("id", "lang", "v")
    base.write.partitionBy("lang").parquet(dir)
    // touch en (partial delete) and de (fully emptied); crash after 1 swap
    val del = Seq((1L, "en"), (3L, "de")).toDF("id", "lang")
    val e = intercept[java.io.IOException] {
      Store.deletePartitioned(spark, dir, del, "id", "lang", failAfterSwaps = 1)
    }
    assert(e.getMessage.contains("no data was deleted"))
    val staging = dir + "__deleting"
    val trash = dir + "__delete_trash"
    // staging may exist yet hold no parquet (its only staged partition
    // already swapped out before the crash) — treat that as empty
    def rows(path: String): Set[(Long, String)] = {
      def hasParquet(f: java.io.File): Boolean =
        if (f.isFile) f.getName.endsWith(".parquet")
        else Option(f.listFiles()).exists(_.exists(hasParquet))
      val f = new java.io.File(path)
      if (!f.exists() || !hasParquet(f)) Set.empty
      else spark.read.parquet(path).select("id", "v").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    }
    // every OLD byte is still on disk across live/trash/staging
    val onDisk = rows(dir) ++ rows(trash) ++ rows(staging)
    assert(Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).subsetOf(onDisk),
      s"old bytes lost: $onDisk")
    // manual recovery, using what the recoverer knows per touched dir:
    // en keeps survivors (finish its swap only if still staged — a live
    // dir with no staged copy already swapped, don't touch it); de was
    // fully emptied (its live dir goes whenever the crash preceded its
    // swap; if it already swapped, live is gone and old bytes sit in trash)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val enLive = new org.apache.hadoop.fs.Path(s"$dir/lang=en")
    val enStg = new org.apache.hadoop.fs.Path(s"$staging/lang=en")
    if (fs.exists(enStg)) {
      if (fs.exists(enLive))
        fs.rename(enLive, new org.apache.hadoop.fs.Path(s"$trash/lang=en"))
      fs.rename(enStg, enLive)
    }
    val deLive = new org.apache.hadoop.fs.Path(s"$dir/lang=de")
    if (fs.exists(deLive))
      fs.rename(deLive, new org.apache.hadoop.fs.Path(s"$trash/lang=de"))
    fs.delete(new org.apache.hadoop.fs.Path(trash), true)
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    val got = spark.read.parquet(dir).select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((2L, "b"), (4L, "d")), s"recovered table wrong: $got")
  }

  test("deleteStream: CDC erasure batches apply in order, replayed rows are a no-op") {
    val in = java.nio.file.Files.createTempDirectory("delstr-in").toString
    val store = java.nio.file.Files.createTempDirectory("delstr-st").toString + "/t"
    val base = Seq(
      (1L, "en", "a"), (2L, "en", "b"), (3L, "de", "c"), (4L, "de", "d"))
      .toDF("id", "lang", "v")
    base.write.partitionBy("lang").parquet(store)
    val del = Seq((1L, "en"), (3L, "de")).toDF("id", "lang")
    del.filter(col("id") === 1L).write.mode("append").parquet(in)
    val q = EventStream.deleteStream(spark, in, del.schema, store, "id", "lang")
    def state() = spark.read.parquet(store)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    try {
      EventStream.drainAll(spark, q, in)
      assert(state() == Set((2L, "b"), (3L, "c"), (4L, "d")), s"after batch 1: ${state()}")
      // replay: the same erasure row arriving again must be a no-op
      del.filter(col("id") === 1L).write.mode("append").parquet(in)
      EventStream.drainAll(spark, q, in)
      assert(state() == Set((2L, "b"), (3L, "c"), (4L, "d")), s"replay changed: ${state()}")
      del.filter(col("id") === 3L).write.mode("append").parquet(in)
      EventStream.drainAll(spark, q, in)
      assert(state() == Set((2L, "b"), (4L, "d")), s"after batch 2: ${state()}")
    } finally q.stop()
  }

  test("dedup: exact clusters group identical texts") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val got = Dedup.exactClusters(df, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((2L, 1L), (1L, 3L)))
  }

  test("dedup: identical docs share full minhash signature; jaccard 1.0") {
    val df = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "v w x y z")).toDF("doc_id", "text")
    val got = Dedup.minHashLsh(df, "doc_id", "text", 1, 16, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 2L, 1.0)))
  }

  test("dedup: composed pipeline — exact copies and near-dups share a cluster") {
    // 40 shared tokens → j = 40/41 ≈ 0.976; with the fixed hash family
    // the band collision is deterministic (verified by this test run)
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (1L, base), (2L, base),              // exact dups
      (3L, base + " extra"),               // near-dup of 1
      (4L, "q r s t u v w z")              // unrelated
    ).toDF("doc_id", "text")
    val got = Dedup.nearDupPipeline(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == got(2L), "exact dups share cluster")
    assert(got(1L) == got(3L), "near dup joins the cluster")
    assert(got(4L) != got(1L), "unrelated doc separate")
  }

  test("dedup: substring spans merge at gap <= n, within-doc repeats don't qualify") {
    // n=2 hand-computed fixture:
    //  A "a b c d e f" / B "a b c x e f" share grams ab(0) bc(1) ef(4)
    //    → gap 1 merges [0,1], gap 3 > n starts [4,4]:
    //    2 spans, (1-0+2)+(4-4+2)=5 dup tokens of 6
    //  E "g h i j" / F "g h w i j": E's shared positions 0 and 2 —
    //    gap EXACTLY n merges into [0,2] → whole doc (4 of 4);
    //    F's 0 and 3 — gap 3 stays split → 4 of 5
    //  G "z z z z z": zz repeats only WITHIN G → df=1 → absent
    val df = Seq(
      (1L, "a b c d e f"), (2L, "a b c x e f"),
      (3L, "g h i j"), (4L, "g h w i j"),
      (5L, "z z z z z")).toDF("doc_id", "text")
    val got = Dedup.dupSpans(df, "doc_id", "text", n = 2)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L), s"doc set: $got")
    assert(got(1L) == ((6L, 2L, 5L, 0.833333)) && got(2L) == ((6L, 2L, 5L, 0.833333)))
    assert(got(3L) == ((4L, 1L, 4L, 1.0)), "gap == n must merge into one span")
    assert(got(4L) == ((5L, 2L, 4L, 0.8)), "gap n+1 must not merge")
  }

  test("dedup: span cut removes covered ranges, keeps unique tokens and clean docs whole") {
    // same n=2 fixture as the spans test; hand-computed survivors:
    //  A covers 0-2 and 4-5 → only pos 3 'd' survives; B → 'x';
    //  E is one whole-doc span → empty; F covers 0-1 and 3-4 → 'w';
    //  G has no cross-doc span → passes through whole
    val df = Seq(
      (1L, "a b c d e f"), (2L, "a b c x e f"),
      (3L, "g h i j"), (4L, "g h w i j"),
      (5L, "z z z z z")).toDF("doc_id", "text")
    val got = Dedup.cutDupSpans(df, "doc_id", "text", n = 2)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L), "every doc keeps a row")
    assert(got(1L) == ((6L, 1L, "d")) && got(2L) == ((6L, 1L, "x")))
    assert(got(3L) == ((4L, 0L, "")), "fully-duplicated doc comes back empty")
    assert(got(4L) == ((5L, 1L, "w")))
    assert(got(5L) == ((5L, 5L, "z z z z z")), "span-free doc passes through whole")
  }

  test("dedup: keep-one span cut keeps the first copy, cuts later ones, keeps singleton extents") {
    // extends the n=2 span fixture with a third copy of the boilerplate:
    // islands [0,1] (covers "a b c") and [4,4] (covers "e f") repeat
    // verbatim in docs 1, 2, 6 — the minimal (doc_id, start) copy in
    // doc 1 keeps its text, docs 2 and 6 are cut. Docs 3/4 share grams
    // but their merged island EXTENTS differ ("g h i j" vs "g h"+"i j"),
    // so every identity is a singleton and keep-one leaves them whole —
    // the documented divergence from remove-all.
    val df = Seq(
      (1L, "a b c d e f"), (2L, "a b c x e f"), (6L, "a b c q e f"),
      (3L, "g h i j"), (4L, "g h w i j"),
      (5L, "z z z z z")).toDF("doc_id", "text")
    val got = Dedup.keepOneDupSpans(df, "doc_id", "text", n = 2)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L), "every doc keeps a row")
    assert(got(1L) == ((6L, 6L, "a b c d e f")), s"first copy keeps its text: ${got(1L)}")
    assert(got(2L) == ((6L, 1L, "x")), s"later copy cut: ${got(2L)}")
    assert(got(6L) == ((6L, 1L, "q")), s"third copy cut: ${got(6L)}")
    assert(got(3L) == ((4L, 4L, "g h i j")),
      s"singleton island extent must be kept: ${got(3L)}")
    assert(got(4L) == ((5L, 5L, "g h w i j")), s"${got(4L)}")
    assert(got(5L) == ((5L, 5L, "z z z z z")), "span-free doc passes through whole")
    // keep-one never removes more than remove-all does
    val cutAll = Dedup.cutDupSpans(df, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    got.foreach { case (id, (_, kept, _)) =>
      assert(kept >= cutAll(id), s"doc $id: keep-one kept $kept < remove-all ${cutAll(id)}")
    }
  }

  test("dedup: keep-best keeps quality-pass over longer-fail, longest among passes, min id on ties") {
    // all-integer selection order (keep DESC, n_tokens DESC, doc_id):
    // doc 1 is the LONGEST in its cluster but fails the quality cascade
    // (repetitive_unigram), so quality-passing doc 3 wins over both it
    // and the shorter passing doc 2; singletons survive as themselves;
    // an exact (keep, n_tokens) tie falls to the minimal doc_id
    val pass16a = "the alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november oscar"
    val pass16b = "the apple berry cherry damson elder feijoa grape honey icaco jambul kiwi lemon mango nutmeg olive"
    val pass20 = "the papa quebec romeo sierra tango uniform victor whiskey xray yankee zulu alpha2 bravo2 charlie2 delta2 echo2 foxtrot2 golf2 hotel2"
    val fail30 = "the " + Seq.fill(29)("zz").mkString(" ")
    // docs 7/8: ZERO-token members (qualityFilter emits no row for
    // them) — the one-row-per-cluster contract must still hold: an
    // empty doc loses to any scored member (8 in doc 5's cluster) and
    // survives only as the min-id member of an all-empty cluster (7)
    val docs = Seq(
      (1L, fail30), (2L, pass16a), (3L, pass20),
      (4L, pass16b), (5L, pass16a), (6L, pass16b),
      (7L, "   "), (8L, "")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (5L, 8L)).toDF("doc_a", "doc_b")
    val got = Dedup.keepBest(docs, "doc_id", "text", pairs, iterations = 3)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == Set(1L, 4L, 5L, 7L), s"one survivor per cluster: ${got.keySet}")
    assert(got(1L) == ((3L, 20L, 3L)),
      s"quality-pass doc 3 must beat longer-but-failing doc 1: ${got(1L)}")
    assert(got(4L) == ((4L, 16L, 1L)), s"singleton survives as itself: ${got(4L)}")
    assert(got(5L) == ((5L, 16L, 3L)),
      s"(keep, n_tokens) tie falls to min id; empty member 8 counted but never wins: ${got(5L)}")
    assert(got(7L) == ((7L, 0L, 1L)),
      s"all-empty singleton cluster must still emit its row: ${got(7L)}")
  }

  test("dedup: keepBestFromLabels — survivors invariant under deeper labeling on a bounded-diameter graph") {
    // keepBest's selection depends only on the label PARTITION: on a
    // fixture whose pair graph has diameter <= 3, the fixed 3-round
    // unroll already reaches the fixed point, so the converged labeling
    // (production) and a deeper unroll must pick the SAME survivors
    // through the shared keepBestFromLabels tail
    val pass16a = "the alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november oscar"
    val pass16b = "the apple berry cherry damson elder feijoa grape honey icaco jambul kiwi lemon mango nutmeg olive"
    val pass20 = "the papa quebec romeo sierra tango uniform victor whiskey xray yankee zulu alpha2 bravo2 charlie2 delta2 echo2 foxtrot2 golf2 hotel2"
    val fail30 = "the " + Seq.fill(29)("zz").mkString(" ")
    val docs = Seq(
      (1L, fail30), (2L, pass16a), (3L, pass20),
      (4L, pass16b), (5L, pass16a), (6L, pass16b),
      (7L, "   "), (8L, "")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (5L, 8L)).toDF("doc_a", "doc_b")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val viaUnroll = rows(Dedup.keepBest(docs, "doc_id", "text", pairs, iterations = 3))
    val viaConverged = rows(Dedup.keepBestFromLabels(
      Dedup.clusterLabelsConverged(docs, "doc_id", pairs), docs, "doc_id", "text"))
    val viaDeeper = rows(Dedup.keepBestFromLabels(
      Dedup.clusterLabels(docs, "doc_id", pairs, iterations = 6), docs, "doc_id", "text"))
    assert(viaConverged == viaUnroll,
      s"converged labels changed survivors:\nconv=$viaConverged\nunroll=$viaUnroll")
    assert(viaDeeper == viaUnroll,
      s"deeper unroll changed survivors:\ndeep=$viaDeeper\nunroll=$viaUnroll")
  }

  test("dedup: converged keepBest equals dedup_keep_best's unroll on the harness corpus") {
    // the nearDupPipeline precedent (r18 verdict item 6): the fixture
    // pin above proves survivor invariance on a toy graph; this pin
    // exercises the PRODUCTION path — keepBestFromLabels over
    // clusterLabelsConverged — against the registered dedup_keep_best
    // query (the oracle-checked 3-round unroll) on the real sf0.01
    // corpus with its real LSH pair set. The corpus' near-dup
    // components are bounded-diameter by construction there, so the
    // two labelings must realize the same partition and the shared
    // keepBestFromLabels tail the same survivors, row for row.
    val sf001 = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, sf001)
    val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, rowsPerBand = 8)
      .filter(col("jaccard") >= 0.5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val viaQuery = rows(SparkEntry.queries("dedup_keep_best")(spark, sf001))
    val viaConverged = rows(Dedup.keepBestFromLabels(
      Dedup.clusterLabelsConverged(docs, "doc_id", pairs), docs, "doc_id", "text"))
    assert(viaQuery.nonEmpty, "harness corpus must produce survivor rows")
    assert(viaConverged == viaQuery,
      s"production converged path diverged from the oracle-checked unroll: " +
        s"${(viaConverged -- viaQuery).take(3)} vs ${(viaQuery -- viaConverged).take(3)}")
  }

  test("dedup: incremental spans equal the full run restricted to the batch") {
    // disjoint corpus/batch id sets ⇒ corpus df + batch df = combined
    // df, so the incremental form must reproduce dupSpans(corpus ∪
    // batch) for batch docs exactly — on real data, not a toy fixture
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter(col("doc_id") % 10 =!= 3)
    val batch = docs.filter(col("doc_id") % 10 === 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    val inc = rows(graft.ops.Dedup.dupSpansIncremental(
      batch, graft.ops.Dedup.gramDf(corpus, "doc_id", "text", 8),
      "doc_id", "text", n = 8))
    val full = rows(graft.ops.Dedup.dupSpans(docs, "doc_id", "text", n = 8)
      .filter(col("doc_id") % 10 === 3))
    assert(inc.nonEmpty, "fixture must exercise at least one batch span doc")
    assert(inc == full, s"incremental diverged:\ninc=$inc\nfull=$full")
  }

  test("dedup: incremental spans refuse a gram index built with a different n") {
    // a 2-gram table probed with 3-gram keys matches nothing and would
    // silently report a clean corpus — the n column makes it raise
    val docs = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val idx = graft.ops.Dedup.gramDf(docs, "doc_id", "text", n = 2)
    val e = intercept[IllegalArgumentException] {
      graft.ops.Dedup.dupSpansIncremental(docs, idx, "doc_id", "text", n = 3)
    }
    assert(e.getMessage.contains("built with n=2"), e.getMessage)
  }

  test("contamination: shared trigrams flagged, boilerplate shingle df-capped") {
    val train = Seq(
      (1L, "a b c d e f"),        // trigrams: abc bcd cde def
      (2L, "p q r s t u"),        // unrelated
      (3L, "m n o boiler plate line"),
      (4L, "x1 x2 boiler plate line"),
      (5L, "y1 y2 boiler plate line")
    ).toDF("doc_id", "text")
    val test_ = Seq(
      (100L, "a b c d x y"),          // shares abc, bcd with doc 1
      (101L, "z1 z2 boiler plate line") // shares ONLY the boilerplate trigram
    ).toDF("doc_id", "text")
    val got = Dedup.contamination(train, test_, "doc_id", "text", n = 3, minHits = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    // doc 100: 2 shared of its 4 distinct trigrams
    assert(got.keySet == Set((100L, 1L)), s"only the genuine overlap, got $got")
    assert(got((100L, 1L)) == ((2L, 0.5)))
    // with minHits=1 the boilerplate trigram (df=3 in train) pairs doc 101
    // with three train docs — until the df cap excludes it
    val loose = Dedup.contamination(train, test_, "doc_id", "text", n = 3, minHits = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((101L, 3L), (101L, 4L), (101L, 5L)).subsetOf(loose))
    val capped = Dedup.contamination(train, test_, "doc_id", "text", n = 3, minHits = 1,
        maxShingleDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.exists(_._1 == 101L),
      s"df-capped boilerplate must not create pairs, got $capped")
  }

  test("repetitionStats: hand-computed unigram/bigram/trigram fractions") {
    val df = Seq(
      (1L, "a a a b"),       // top uni 3/4; bigrams aa aa ab → top 2/3; trigrams aaa aab → no dup
      (2L, "x y x y x y"),   // top uni 3/6; bigrams xy yx xy yx xy → top 3/5; trigrams xyx yxy xyx yxy → dup 2/4
      (3L, "solo")           // no bigrams/trigrams → 0.0
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(1L) == ((4L, 0.75, 0.666667, 0.0)))
    assert(got(2L) == ((6L, 0.5, 0.6, 0.5)))
    assert(got(3L) == ((1L, 1.0, 0.0, 0.0)))
  }

  test("dedup: simhash of permuted doc equals original (bag semantics)") {
    val df = Seq((1L, "a b c"), (2L, "c b a"), (3L, "q r s t u v")).toDF("doc_id", "text")
    val h = Dedup.simHash(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(2L) && h(1L) != h(3L))
  }

  test("fingerprint: order-sensitive — permuted doc differs") {
    val df = Seq((1L, "a b c"), (2L, "c b a")).toDF("doc_id", "text")
    val f = TextAnalysis.fingerprint(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f(1L) != f(2L))
  }

  test("multimodal: resize bounds payload size, keeps small media intact, deterministic") {
    val docs = Tables.documents(spark, sf0001).limit(20)
    val media = Multimodal.withMedia(docs, "doc_id", "text")
    val resized = Multimodal.resizeMedia(media, targetBytes = 64)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1), r.getLong(2), r.getLong(3)))
    assert(resized.nonEmpty)
    resized.foreach { case (_, out, orig, now) =>
      assert(now <= 64, s"resized payload $now > target")
      assert(now == math.min(orig, 64L), "small media must pass through untouched")
      assert(out.length.toLong == now)
    }
    // pure function of the input bytes: recompute driver-side and compare
    val byId = media.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    resized.foreach { case (id, out, _, _) =>
      assert(out.sameElements(Multimodal.resizeStub(byId(id), 64)))
    }
  }

  test("multimodal: partition-batched feature extraction, deterministic stub") {
    val docs = Tables.documents(spark, sf0001).limit(10)
    val feats = Multimodal.extractFeatures(
      Multimodal.withMedia(docs, "doc_id", "text"), dim = 8, frameSize = 64)
    val rows = feats.collect()
    assert(rows.length == 10)
    assert(rows.forall(_.features.length == 8))
    assert(rows.forall(r => r.n_frames == (r.n_bytes + 63) / 64))
    // deterministic: same input → same features
    val again = Multimodal.extractFeatures(
      Multimodal.withMedia(docs, "doc_id", "text"), dim = 8, frameSize = 64).collect()
    assert(rows.map(_.features.toSeq).toSet == again.map(_.features.toSeq).toSet)
  }

  test("multimodal near-dup: identical media at Hamming 0, edits stay close, unrelated spread") {
    // identical payloads -> identical signature; a small mid-payload
    // insertion (the planted-near-dup shape) must stay within a few
    // bits because only the features overlapping the edit change
    val base = "the quick brown fox jumps over the lazy dog again and again until dusk " * 4
    val docs = Seq(
      (1L, base),
      (2L, base),                                          // exact dup
      (3L, base.patch(60, "XY", 0)),                       // 2-char insertion
      (4L, (1 to 40).map(i => s"z${i * 7919}").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val ph = Multimodal.perceptualHash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ph.size == 4)
    assert(ph(1L) == ph(2L), "identical media must hash identically")
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(ph(1L), ph(3L)) <= 6,
      s"small insertion moved ${hamming(ph(1L), ph(3L))} bits")
    assert(hamming(ph(1L), ph(4L)) >= 8,
      s"unrelated media only ${hamming(ph(1L), ph(4L))} bits apart")
    // the pair verb finds the dup cluster and never an unrelated pair
    val pairs = Multimodal.nearDupPairs(docs, "doc_id", "text",
        prefixBits = 8, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.contains((1L, 2L, 0L)), s"exact dup missing from $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated doc must not pair: $pairs")
    // signature is a pure function of content: partition-invariant
    val again = Multimodal.perceptualHash(docs.repartition(7), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == ph, "signature must not depend on partitioning")
    // degenerate inputs: empty payload drops; short payload (< gramLen)
    // still gets a signature from its whole content
    val edge = Seq((1L, ""), (2L, "ab")).toDF("doc_id", "text")
    val eh = Multimodal.perceptualHash(edge, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(eh.keySet == Set(2L), s"empty drops, short survives: $eh")
  }

  test("profile-backed data card equals the raw-text card row for row") {
    // pipeline_data_card_inc derives the card from the STORED per-doc
    // profile + vocab tables; same six metrics, same oracle — so the
    // two registry entries must agree exactly on the same corpus
    val raw = SparkEntry.queries("pipeline_data_card")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val inc = SparkEntry.queries("pipeline_data_card_inc")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(inc == raw, s"profile-backed card diverged:\nraw=$raw\ninc=$inc")
  }

  test("profile-backed per-source cards equal the raw-text cards row for row") {
    // same contract as the global pin above, per source: the stored
    // profile + (source, term) tables must reproduce sourceCards
    // exactly (value read null-safely — quality is NULL for a source
    // no doc of which reached the cascade)
    def rows(q: String) = SparkEntry.queries(q)(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    val raw = rows("pipeline_source_cards")
    val inc = rows("pipeline_source_cards_inc")
    assert(raw.nonEmpty && inc == raw,
      s"profile-backed source cards diverged:\nraw=$raw\ninc=$inc")
  }

  test("streaming: incremental hourly agg equals the batch plan") {
    val tmp = java.nio.file.Files.createTempDirectory("evstream").toString
    Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(tmp)
    val streamed = EventStream.runOnce(spark, tmp, "ev_test")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = Relational.eventsHourly(spark, sf0001)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch)
  }

  test("streaming index build: chunks embedded + upserted; re-ingest replaces, not appends") {
    val in = java.nio.file.Files.createTempDirectory("ixin").toString
    val store = java.nio.file.Files.createTempDirectory("ixstore").toString + "/points"
    val docs = Tables.documents(spark, sf0001).limit(20)
      .select(col("doc_id"), col("text"))
    docs.write.mode("append").parquet(in)
    val q = EventStream.indexStream(spark, in, store, dim = 8)
    try {
      q.processAllAvailable()
      val afterFirst = spark.read.parquet(store)
      val expected = graft.ops.VectorOps.embedTextDistributed(
        Chunker.chunk(docs, Seq("doc_id"), separator = " the ", minLen = 20)
          .withColumn("chunk_id", col("doc_id") * 1000 + col("chunk_index")),
        Seq("chunk_id", "doc_id", "chunk_index", "chunk_text"), "chunk_text", 8)
      assert(afterFirst.count() == expected.count(), "stream must match the batch pipeline")
      // re-ingest the same docs: upsert semantics → same cardinality
      docs.write.mode("append").parquet(in)
      q.processAllAvailable()
      assert(spark.read.parquet(store).count() == expected.count(),
        "re-ingesting a doc must replace its chunks, not append duplicates")
      // re-ingest SHRUNK versions: docs now chunk into exactly one piece
      // each — their old tail chunks must disappear from the store
      docs.select(col("doc_id"), lit("replacement text, single chunk").as("text"))
        .write.mode("append").parquet(in)
      q.processAllAvailable()
      val perDoc = spark.read.parquet(store)
        .groupBy("doc_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perDoc.values.forall(_ == 1L),
        s"shrunk docs must drop their stale tail chunks, got $perDoc")
    } finally q.stop()
  }

  test("streaming index build: a doc re-ingested with no chunk-sized text keeps no chunks") {
    val in = java.nio.file.Files.createTempDirectory("ixshort-in").toString
    val store = java.nio.file.Files.createTempDirectory("ixshort-st").toString + "/points"
    Tables.documents(spark, sf0001).limit(5).select(col("doc_id"), col("text"))
      .write.mode("append").parquet(in)
    val q = EventStream.indexStream(spark, in, store, dim = 8)
    try {
      q.processAllAvailable()
      val before = spark.read.parquet(store)
      val victim = before.agg(min(col("doc_id"))).head().getLong(0)
      val others = before.filter(col("doc_id") =!= victim).count()
      assert(others > 0, "fixture needs docs besides the re-ingested one")
      // shorter than the chunker's minLen = 20: the new version yields
      // no chunk at all, so nothing of the old version may stay
      Seq((victim, "too short")).toDF("doc_id", "text")
        .write.mode("append").parquet(in)
      q.processAllAvailable()
      val after = spark.read.parquet(store)
      assert(after.filter(col("doc_id") === victim).count() == 0,
        s"doc $victim was re-ingested without chunkable text; its old chunks must go")
      assert(after.count() == others, "the other docs' chunks must be untouched")
    } finally q.stop()
  }

  test("index stream restart: checkpoint resumes at the first unprocessed batch") {
    val in = java.nio.file.Files.createTempDirectory("ixrst-in").toString
    val store = java.nio.file.Files.createTempDirectory("ixrst-st").toString + "/points"
    val ckpt = java.nio.file.Files.createTempDirectory("ixrst-ck").toString
    val docs = Tables.documents(spark, sf0001).filter(col("doc_id") < 30)
      .select(col("doc_id"), col("text"))
    docs.filter(col("doc_id") < 15).write.mode("append").parquet(in)
    val q1 = EventStream.indexStream(spark, in, store, dim = 8, checkpointDir = Some(ckpt))
    try q1.processAllAvailable() finally q1.stop()
    val afterB1 = spark.read.parquet(store).count()
    // the restarted query (same checkpoint) must see ONLY the new files
    docs.filter(col("doc_id") >= 15).write.mode("append").parquet(in)
    val q2 = EventStream.indexStream(spark, in, store, dim = 8, checkpointDir = Some(ckpt))
    try {
      q2.processAllAvailable()
      // q1 committed batch 0, so the restarted query must plan from
      // batch 1 — replanning batch 0 would mean the checkpoint was
      // ignored. (numInputRows is NOT the right probe here: the upsert
      // branch scans the micro-batch twice, doubling that metric.)
      val batchIds = q2.recentProgress.map(_.batchId)
      assert(batchIds.nonEmpty && batchIds.min >= 1,
        s"restart must resume after q1's committed batch, planned $batchIds")
    } finally q2.stop()
    val st = spark.read.parquet(store)
    assert(st.select("doc_id").distinct().count() == 30, "all docs indexed across the restart")
    assert(st.select("chunk_id").distinct().count() == st.count(), "no duplicate chunks")
    assert(st.count() > afterB1)
  }

  test("streaming: watermarked dedup collapses at-least-once redelivery to the distinct set") {
    val tmp = java.nio.file.Files.createTempDirectory("evdedup").toString
    val ev = Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .limit(200)
    // simulate at-least-once: every event delivered twice
    ev.union(ev).write.mode("overwrite").parquet(tmp)
    val streamed = EventStream.runDedupOnce(spark, tmp, "ev_dedup_test")
    assert(streamed.count() == ev.count(),
      "each redelivered event must survive exactly once")
    assert(streamed.select("event_id").distinct().count() == ev.count())
  }

  test("streaming: interval join equals batch semantics, boundary clicks handled exactly") {
    val tmp = java.nio.file.Files.createTempDirectory("evjoin").toString
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    // purchase for user 1 at noon; clicks straddle every boundary of the
    // [ts-6h, ts) window, plus a same-time click from another user
    Seq(
      (1L, t("2024-01-01 12:00:00"), 1L, "click", 0.0),    // == purchase ts: excluded
      (2L, t("2024-01-01 11:59:59"), 1L, "click", 0.0),    // inside: included
      (3L, t("2024-01-01 06:00:00"), 1L, "click", 0.0),    // == ts-6h: included (>=)
      (4L, t("2024-01-01 05:59:59"), 1L, "click", 0.0),    // before window: excluded
      (5L, t("2024-01-01 11:59:59"), 2L, "click", 0.0),    // other user: excluded
      (6L, t("2024-01-01 11:00:00"), 1L, "view", 0.0),     // other type: excluded
      (100L, t("2024-01-01 12:00:00"), 1L, "purchase", 9.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(tmp)
    val got = EventStream.runJoinOnce(spark, tmp, "ev_join_test")
      .select("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 2L), (100L, 3L)),
      s"interval-join boundary semantics wrong: $got")
  }

  test("curation pipeline: verdict precedence across tiers") {
    val boiler = "shared boilerplate banner"
    def words(p: String) = (1 to 6).map(i => s"${p}word$i").mkString(" ")
    def body(p: String) = s"${words(p + "a")} the ${words(p + "b")} the ${words(p + "c")}"
    val docs = Seq(
      1L -> s"$boiler the ${body("x")}",
      2L -> s"$boiler the ${body("y")}",
      3L -> s"$boiler the ${body("z")}",
      4L -> boiler, // every segment is boilerplate (df 4 >= 3)
      5L -> body("dup"),
      6L -> body("dup"), // exact clean-text duplicate of 5, larger id
      7L -> "tiny" // survives cleaning, fails the cascade's too_short
    ).toDF("doc_id", "text")
    val v = Curation.curate(docs, "doc_id", "text", " the ", minDocs = 3, samplePct = 100)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v(4L) == "empty_after_clean", s"$v")
    assert(v(7L) == "too_short", s"$v")
    assert(v(5L) == "kept" && v(6L) == "duplicate", s"$v")
    assert(Seq(1L, 2L, 3L).forall(v(_) == "kept"), s"$v")
    // the sample tier redistributes ONLY the kept tier: every earlier
    // verdict is unchanged by the rate
    val s1 = Curation.curate(docs, "doc_id", "text", " the ", minDocs = 3, samplePct = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s1.filter(kv => kv._2 == "kept" || kv._2 == "sampled_out").keySet
      == v.filter(_._2 == "kept").keySet, s"$s1")
  }

  test("curation durable staging: Parquet-staged verdicts identical to in-plan form") {
    // the stagePath overload swaps localCheckpoint blocks for
    // restartable Parquet stages — the verdicts must not move, and the
    // staged cleaned corpus must actually exist at the stage path
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val inPlan = Curation.curate(docs, "doc_id", "text", " the ", minDocs = 3, samplePct = 80)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val tmp = java.nio.file.Files.createTempDirectory("curate_stage").toString
    val durable = Curation
      .curate(docs, "doc_id", "text", " the ", minDocs = 3, samplePct = 80, stagePath = tmp)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(durable == inPlan, "staged and in-plan verdicts diverged")
    assert(inPlan.values.toSet.contains("kept"))
    val staged = spark.read.parquet(s"$tmp/cleaned")
    assert(staged.count() == docs.count(), "staged cleaned corpus must cover every doc")
    assert(staged.columns.contains("clean_text"))
  }

  test("pipeline_e2e durable staging: 7-stage Parquet form identical to checkpointed form") {
    // the 100-TB execution form of the composed curation chain: every
    // lazy-localCheckpoint boundary becomes a Parquet stage
    // (SparkEntryExt.pipelineE2eStaged). One shared chain body feeds
    // both cuts, so this pin is about the CUT SEMANTICS — a Parquet
    // write/read round-trip must not move a single packed row (schema
    // round-trip, row order via the explicit orderBy, and no
    // checkpoint-block-vs-storage divergence anywhere in 7 stages).
    val sf001 = "/root/testdata/sf0.01"
    def key(r: org.apache.spark.sql.Row) = r.toSeq.map(String.valueOf).mkString("|")
    val ckpt = SparkEntryExt.pipelineE2eChain(spark, sf001,
      (compute, _) => compute().localCheckpoint(false)).collect().map(key)
    val tmp = java.nio.file.Files.createTempDirectory("e2e_stage").toString
    val staged = SparkEntryExt.pipelineE2eStaged(spark, sf001, tmp).collect().map(key)
    assert(ckpt.nonEmpty, "chain produced no packed rows at sf0.01")
    assert(staged.toSeq == ckpt.toSeq, "staged and checkpointed pipeline_e2e diverged")
    // the staged boundaries must actually exist as readable tables —
    // the restartability/ingest claim, not just a scratch artifact
    for (stage <- Seq("cleaned", "qdocs", "sdocs", "pool", "keyed")) {
      assert(spark.read.parquet(s"$tmp/$stage").count() > 0, s"empty stage $stage")
    }

    // --- restart semantics, both sides of the resume contract ---
    def listing(stage: String): Seq[(String, Long, Long)] = {
      val d = new java.io.File(s"$tmp/$stage")
      d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).sortBy(_._1)
    }
    val before = Seq("cleaned", "qdocs", "sdocs", "pool", "keyed").map(s => s -> listing(s))
    // (a) full resume over a completed run: every stage table is read,
    // none recomputed or rewritten (file-level identity, the
    // upsertPartitioned discipline), output identical
    val resumed = SparkEntryExt.pipelineE2eStaged(spark, sf001, tmp, resume = true)
      .collect().map(key)
    assert(resumed.toSeq == ckpt.toSeq, "resumed run diverged")
    for ((s0, b) <- before)
      assert(listing(s0) == b, s"resume rewrote completed stage $s0")
    // (b) partial resume: kill the last two stages (as a mid-run crash
    // would) — upstream tables must stay untouched while the dead
    // stages recompute from them, and the output must not move
    def rmStage(stage: String): Unit = {
      val d = new java.io.File(s"$tmp/$stage")
      d.listFiles().foreach(_.delete()); d.delete()
      assert(!d.exists)
    }
    rmStage("pool"); rmStage("keyed")
    val partial = SparkEntryExt.pipelineE2eStaged(spark, sf001, tmp, resume = true)
      .collect().map(key)
    assert(partial.toSeq == ckpt.toSeq, "partial resume diverged")
    for ((s0, b) <- before.take(3))
      assert(listing(s0) == b, s"partial resume rewrote upstream stage $s0")
    assert(spark.read.parquet(s"$tmp/pool").count() > 0, "pool stage not rebuilt")
    // (c) cascade: killing a MIDDLE stage must recompute everything
    // downstream of it too — a committed pool/keyed derived from the
    // PREVIOUS sdocs generation must not be stitched to a fresh sdocs
    val afterB = Seq("cleaned", "qdocs", "sdocs", "pool", "keyed").map(s => s -> listing(s))
    rmStage("sdocs")
    val cascaded = SparkEntryExt.pipelineE2eStaged(spark, sf001, tmp, resume = true)
      .collect().map(key)
    assert(cascaded.toSeq == ckpt.toSeq, "cascaded resume diverged")
    for ((s0, b) <- afterB.take(2))
      assert(listing(s0) == b, s"cascade rewrote upstream stage $s0")
    for ((s0, b) <- afterB.drop(2))
      assert(listing(s0) != b, s"cascade did NOT rebuild downstream stage $s0")
  }

  test("incremental curation: quality gate first, then exact/near corpus dedup") {
    def words(p: String) = (1 to 6).map(i => s"${p}w$i").mkString(" ")
    def body(p: String) = s"${words(p + "a")} the ${words(p + "b")} the ${words(p + "c")}"
    val corpus = Seq(100L -> body("c1"), 101L -> body("c2"), 102L -> body("c3"))
      .toDF("doc_id", "text")
    val batch = Seq(
      1L -> body("c1"), // exact copy of corpus doc 100
      2L -> (body("c2") + " extraw"), // near-dup of corpus doc 101
      3L -> "tiny", // fails the quality gate before any dedup tier
      4L -> body("fresh") // genuinely new
    ).toDF("doc_id", "text")
    val v = Curation
      .curateIncremental(corpus, batch, "doc_id", "text",
        shingleN = 3, numHashes = 16, rowsPerBand = 8, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v == Map(1L -> "exact_dup", 2L -> "near_dup", 3L -> "too_short", 4L -> "new"),
      s"$v")
  }

  test("adaptive quality thresholds: corpus percentiles trim exactly the tails") {
    // doc i has i distinct tokens -> n_tokens = 1..10; p10/p90 of that
    // (p·(n−1) interpolation) are 1.9 and 9.1, so exactly docs 1 and 10
    // fall outside the band; all-unique tokens keep ttr at 1.0 = ttr_lo
    val docs = (1 to 10).map(i =>
      (i.toLong, (1 to i).map(j => s"w${i}_$j").mkString(" "))).toDF("doc_id", "text")
    val out = TextAnalysis.adaptiveQualityFilter(docs, "doc_id", "text", pLow = 0.1, pHigh = 0.9)
      .select("doc_id", "reason")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "short_tail" && out(10L) == "long_tail", s"tails: $out")
    assert((2L to 9L).forall(out(_) == "ok"), s"band: $out")
  }

  test("unigram LM scoring: hand-computed NLL and OOV rate; floor keeps rare tokens finite") {
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    // corpus: a->3, b->1, c->1; total 5; minCount=2 -> b and c are OOV,
    // scored at the floor p = 2/5
    val got = TextAnalysis.unigramLogProb(docs, "doc_id", "text", minCount = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val pA = 3.0 / 5.0
    val pFloor = 2.0 / 5.0
    assert(got(1L) == ((3L, r6(1.0 / 3.0),
      r6((2 * -math.log(pA) + 1 * -math.log(pFloor)) / 3.0))), s"doc1: $got")
    assert(got(2L) == ((2L, 0.5,
      r6((-math.log(pA) - math.log(pFloor)) / 2.0))), s"doc2: $got")
  }

  test("corpus diff: added/removed/changed/unchanged decided on content hash") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val nw = Seq((2L, "b"), (3L, "c-edited"), (4L, "d")).toDF("doc_id", "text")
    val m = Store.corpusDiff(old, nw, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m == Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed", 4L -> "added"))
  }

  test("quota sampling: exact per-stratum counts, partition-invariant, short strata whole") {
    val docs = Tables.documents(spark, sf0001)
    val quotas = Map("en" -> 7, "zh" -> 2)
    val out = TextAnalysis.quotaSample(docs, "doc_id", "lang", quotas, defaultQuota = 4)
    val counts = out.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val avail = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    avail.foreach { case (lang, n) =>
      val q = quotas.getOrElse(lang, 4).toLong
      assert(counts.getOrElse(lang, 0L) == math.min(q, n),
        s"stratum $lang: want min($q, $n), got ${counts.getOrElse(lang, 0L)}")
    }
    // membership is a function of ids only — physical layout must not move it
    val b = TextAnalysis.quotaSample(docs.repartition(13), "doc_id", "lang", quotas, 4)
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet
      == b.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("compact: many small appended files collapse to few sorted ones, data intact") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    // simulate micro-batch appends: 10 batches → many small files
    (0 until 10).foreach { i =>
      Store.append(docs.filter(col("doc_id") % 10 === i).repartition(4), dir)
    }
    def nFiles = spark.read.parquet(dir).inputFiles.length
    val before = nFiles
    val expect = spark.read.parquet(dir).collect().map(_.toSeq).toSet
    val nRows = expect.size
    Store.compact(spark, dir, "doc_id", rowsPerFile = 50)
    val want = math.max(1, math.ceil(nRows / 50.0).toInt)
    assert(nFiles == want,
      s"rename-swap must preserve the range-partitioned layout exactly " +
        s"($before files -> $nFiles, wanted $want)")
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet == expect,
      "compaction must not change table contents")
  }

  test("hash sampling: identical selection across partitionings; rates honored; splits disjoint") {
    val docs = Tables.documents(spark, sf0001)
    def ids(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.hashSampleMix(df, "doc_id", "lang", Map("en" -> 80), 50)
        .select("doc_id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val a = ids(docs)
    assert(a == ids(docs.repartition(13)), "membership must not depend on partitioning")
    assert(a.nonEmpty && a.size < docs.count())
    // a row appears in exactly one split
    assert(a.groupBy(_._1).forall(_._2.size == 1))
    // raising a rate only ADDS rows (stable supersets — the ablation property)
    val wider = TextAnalysis.hashSampleMix(docs, "doc_id", "lang", Map("en" -> 90), 60)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a.map(_._1).subsetOf(wider))
  }

  test("chunker: separator with regex metacharacters splits literally") {
    val docs = Seq((1L, "alpha beta gamma. delta epsilon zeta. eta theta iota kappa"))
      .toDF("doc_id", "text")
    // '.' as separator: an unquoted regex would split on EVERY character
    val chunks = Chunker.chunk(docs, Seq("doc_id"), separator = ". ", minLen = 5)
      .select("chunk_text").collect().map(_.getString(0))
    assert(chunks.toSeq == Seq("alpha beta gamma", "delta epsilon zeta", "eta theta iota kappa"))
  }

  test("sessionize: fractional-second gap just over 30 min splits the session") {
    val dir = java.nio.file.Files.createTempDirectory("sessfrac").toString
    // gap = 1800.4 s: second-truncated arithmetic sees 1800 (same
    // session, wrong); microsecond arithmetic sees 1800400000 (split)
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00.5"), 7L, "view", 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00.9"), 7L, "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      // store ts as LONG nanoseconds, the harness events.parquet shape
      // (Tables.events converts it back to TIMESTAMP via ns div 1000)
      .withColumn("ts", unix_micros(col("ts")) * 1000)
      .write.mode("overwrite").parquet(dir + "/events.parquet")
    val got = Relational.sessionize(spark, dir)
      .select("user_id", "session_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._2).distinct.length == 2,
      s"1800.4 s gap must start a new session, got $got")
  }

  test("missing input path raises AnalysisException (S2 missing-file guard)") {
    intercept[org.apache.spark.sql.AnalysisException] {
      Tables.documents(spark, "/nonexistent-graft-path").count()
    }
  }

  test("catalog list surfaces registered collections (S8)") {
    Tables.documents(spark, sf0001).createOrReplaceTempView("s8_documents")
    val names = spark.catalog.listTables().collect().map(_.name)
    assert(names.contains("s8_documents"))
  }

  test("json-lines and orc sources round-trip the document schema") {
    val docs = Tables.documents(spark, sf0001).limit(30)
      .select("doc_id", "text", "lang", "source")
    val expect = docs.collect().map(_.toSeq).toSet
    val jdir = java.nio.file.Files.createTempDirectory("jsonl").toString + "/out"
    docs.write.json(jdir)
    val backJson = spark.read.json(jdir).select("doc_id", "text", "lang", "source")
    assert(backJson.collect().map(_.toSeq).toSet == expect)
    val odir = java.nio.file.Files.createTempDirectory("orc").toString + "/out"
    docs.write.orc(odir)
    val backOrc = spark.read.orc(odir).select("doc_id", "text", "lang", "source")
    assert(backOrc.collect().map(_.toSeq).toSet == expect)
  }

  test("binaryFile source: raw bytes + metadata, extraction as a column op (S1)") {
    val dir = java.nio.file.Files.createTempDirectory("binsrc")
    val contents = Seq("doc one: สัญญา", "doc two: มาตรา 113")
    contents.zipWithIndex.foreach { case (s, i) =>
      java.nio.file.Files.write(dir.resolve(s"d$i.bin"),
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val bin = spark.read.format("binaryFile").load(dir.toString)
    assert(bin.columns.toSet == Set("path", "modificationTime", "length", "content"))
    val extracted = bin
      .select(decode(col("content"), "UTF-8").as("text"), col("length"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(extracted == contents.map(s =>
      (s, s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong)).toSet)
  }

  test("csv: multiline quoted round-trip (S4/S5, utf-8 Thai)") {
    val tmp = java.nio.file.Files.createTempDirectory("csvrt").toString + "/out"
    val df = Seq(("line1\nline2", "20, 21, 113", "1319/2512"))
      .toDF("text", "answers", "คำพิพากษาศาลฎีกาที่")
    df.write.option("header", "true").option("escape", "\"").csv(tmp)
    val back = spark.read.option("header", "true").option("multiLine", "true")
      .option("escape", "\"").csv(tmp)
    assert(back.columns.toSeq == df.columns.toSeq)
    val r = back.first()
    assert(r.getString(0) == "line1\nline2" && r.getString(2) == "1319/2512")
  }

  test("histogramQuantiles: estimates within one bucket width of exact quantiles") {
    val orders = Tables.orders(spark, sf0001)
    val got = Relational.histogramQuantiles(orders, "o_orderpriority", "o_totalprice",
        bins = 64, qs = Seq(0.5, 0.9, 0.99))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(3)).toMap
    val exact = orders.groupBy(col("o_orderpriority"))
      .agg(expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))").as("p"),
        ((max(col("o_totalprice")) - min(col("o_totalprice"))) / 64).as("w"))
      .collect().flatMap { r =>
        val ps = r.getSeq[Double](1)
        Seq(0.5, 0.9, 0.99).zip(ps).map { case (q, p) =>
          (r.getString(0), q) -> ((p, r.getDouble(2)))
        }
      }.toMap
    assert(got.keySet == exact.keySet)
    for ((k, est) <- got) {
      val (p, w) = exact(k)
      assert(math.abs(est - p) <= w + 1e-6,
        s"$k: histogram estimate $est further than one bucket width ($w) from exact $p")
    }
  }

  test("histogramQuantiles: NULL measures ignored; all-null group vanishes") {
    val df = Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0)),
      ("c", None), ("c", None)).toDF("g", "v")
    val got = Relational.histogramQuantiles(df, "g", "v", bins = 4, qs = Seq(1.0))
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    // n counts only the two non-null values; q=1 reaches the max
    assert(got.keySet == Set("a"), s"all-null group must vanish: $got")
    assert(got("a")._1 == 2L && math.abs(got("a")._2 - 3.0) < 1e-9, s"got $got")
  }

  test("histogramQuantiles: degenerate group (all values equal) returns that value") {
    val df = Seq(("a", 5.0), ("a", 5.0), ("a", 5.0), ("b", 1.0), ("b", 3.0))
      .toDF("g", "v")
    val got = Relational.histogramQuantiles(df, "g", "v", bins = 4, qs = Seq(0.5, 1.0))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(3)).toMap
    assert(got(("a", 0.5)) == 5.0 && got(("a", 1.0)) == 5.0,
      s"zero-width group must return its single value: $got")
    // q=1.0 of group b must reach the max exactly
    assert(math.abs(got(("b", 1.0)) - 3.0) < 1e-9, s"q=1 must hit max: $got")
  }

  test("dsirSelect: target-like candidates outscore disjoint ones; zero-token docs drop") {
    val docs = Seq(
      (1L, "apple banana", "en"), (2L, "apple cherry", "en"),   // target
      (10L, "apple banana", "de"),                              // identical profile
      (11L, "apple zebra", "de"),                               // mixed
      (12L, "zebra yak xray", "de"),                            // disjoint
      (13L, "", "de")                                           // no features
    ).toDF("doc_id", "text", "lang")
    def run(frac: Double) = Curation
      .dsirSelect(docs, "doc_id", "text", col("lang") === "en",
        buckets = 1024, keepFrac = frac)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val all = run(1.0)
    // zero-token candidate has no grams and is not a candidate at all
    assert(all.keySet == Set(10L, 11L, 12L), s"candidates: $all")
    assert(all(10L)._1 == 3L && all(12L)._1 == 5L,
      s"unigrams + bigrams with multiplicity: $all")
    // importance ordering: identical-to-target > mixed > disjoint, with
    // the sign flipping from target-like to raw-like
    assert(all(10L)._2 > all(11L)._2 && all(11L)._2 > all(12L)._2,
      s"weight ordering: $all")
    assert(all(10L)._2 > 0.0 && all(12L)._2 < 0.0, s"weight signs: $all")
    // keepFrac = 0.5 of 3 candidates -> floor(1.5) = 1 kept: the top one
    assert(run(0.5).keySet == Set(10L), s"top-fraction selection: ${run(0.5)}")
  }

  test("dsirSelect: threshold selection equals enumeration through an exact weight tie") {
    // four candidates share ONE text -> identical quantized weights, so
    // the keepFrac cutoff lands INSIDE the tie set and the boundary
    // slice must hand out the slack by ascending doc_id — exactly what
    // sorting the full table on (logw DESC, doc_id) would select
    val docs = Seq(
      (1L, "x y x", "en"), (2L, "x y y", "en"),                // target
      (20L, "x y x y", "de"), (21L, "x y", "de"),              // distinct weights
      (30L, "x z", "de"), (31L, "x z", "de"),                  // the tie set:
      (32L, "x z", "de"), (33L, "x z", "de"),                  //  4 identical docs
      (40L, "q r s", "de"), (41L, "q r", "de")                 // disjoint tail
    ).toDF("doc_id", "text", "lang")
    def run(frac: Double) = Curation
      .dsirSelect(docs, "doc_id", "text", col("lang") === "en",
        buckets = 1024, keepFrac = frac)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // keepFrac = 1.0 keeps every candidate — the full weight table
    val all = run(1.0)
    assert(all.map(_._1).toSet == Set(20L, 21L, 30L, 31L, 32L, 33L, 40L, 41L),
      s"keepFrac=1.0 must keep all candidates: ${all.toSeq}")
    val tieW = all.filter(t => t._1 >= 30 && t._1 <= 33).map(_._3).distinct
    assert(tieW.length == 1, s"fixture must produce an exact weight tie: ${all.toSeq}")
    // enumeration ground truth from the full table, per keepFrac
    for (frac <- Seq(0.2, 0.4, 0.5, 0.6, 0.8)) {
      val k = math.max(1, math.floor(all.length * frac).toInt)
      val expected = all.sortBy(t => (-t._3, t._1)).take(k).toSet
      val got = run(frac).toSet
      assert(got == expected,
        s"frac=$frac: threshold selection diverged from enumeration:\ngot=$got\nexp=$expected")
    }
  }

  test("epochShuffle: seeded permutation — every doc once, dense per-shard positions, seed changes the order") {
    val docs = (0L until 100L).map(i => Tuple1(i)).toDF("doc_id")
    def run(seed: String, n: Int) = Curation.epochShuffle(docs, "doc_id", seed, n)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val a = run("epoch1", 8)
    // permutation: every doc exactly once
    assert(a.map(_._3).sorted.toSeq == (0L until 100L).toSeq, "every doc exactly once")
    // dense 0-based positions within every shard
    a.groupBy(_._1).foreach { case (sh, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (0L until rows.length).toSeq,
        s"shard $sh positions must be dense 0-based: ${rows.map(_._2).sorted.toSeq}")
    }
    // deterministic: an identical rerun is bit-identical
    assert(a.sortBy(_._3).toSeq == run("epoch1", 8).sortBy(_._3).toSeq, "reruns identical")
    // a different seed is a different permutation (overwhelmingly —
    // 100 docs all keeping (shard, pos) under a fresh hash is ~0)
    assert(a.sortBy(_._3).toSeq != run("epoch2", 8).sortBy(_._3).toSeq,
      "new seed must reshuffle")
    // nShards = 1: one shard, a dense global order
    val one = run("epoch1", 1)
    assert(one.forall(_._1 == 0) && one.map(_._2).sorted.toSeq == (0L until 100L).toSeq)
  }

  test("nbQualityScore: hand-computed log-odds, zero-token doc scores the prior, empty class -> NULL") {
    // model: cur = {doc1 "a a b", doc3 ""}, web = {doc2 "b c"}
    // V = 3, t_cur = 3, t_web = 2, prior = ln(2/1) = 0.693147
    // lr(a) = round(ln(3/6) - ln(1/5), 6) = round(ln(5/2), 6) =  0.916291
    // lr(b) = round(ln(2/6) - ln(2/5), 6) = round(ln(5/6), 6) = -0.182322
    // lr(c) = round(ln(1/6) - ln(2/5), 6) = round(ln(5/12), 6) = -0.875469
    val docs = Seq(
      (1L, "a a b", "en"), (3L, "", "en"), (2L, "b c", "de")
    ).toDF("doc_id", "text", "lang")
    val got = Curation.nbQualityScore(docs, "doc_id", "text", col("lang") === "en")
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getDouble(1)),
          if (r.isNullAt(2)) None else Some(r.getBoolean(2))))).toMap
    assert(got.keySet == Set(1L, 2L, 3L), "one row per doc")
    def close(a: Option[Double], e: Double) =
      a.exists(v => math.abs(v - e) < 1e-9)
    assert(close(got(1L)._1, 2.343407) && got(1L)._2.contains(true),
      s"doc1 = 2*lr(a) + lr(b) + ln2: ${got(1L)}")
    assert(close(got(2L)._1, -0.364644) && got(2L)._2.contains(false),
      s"doc2 = lr(b) + lr(c) + ln2: ${got(2L)}")
    assert(close(got(3L)._1, 0.693147) && got(3L)._2.contains(true),
      s"zero-token doc scores the prior alone: ${got(3L)}")
    // an empty class has no likelihood ratio: NULL everywhere, both engines
    val allCur = Curation.nbQualityScore(docs, "doc_id", "text", lit(true))
      .collect()
    assert(allCur.forall(r => r.isNullAt(1) && r.isNullAt(2)),
      "empty web class must yield NULL scores, not +/-Inf")
  }

  test("nbQualityEval: hand-computed confusion, zero-denominator metrics NULL, empty class all n_null") {
    // model: cur = {doc1 "a a b"}, web = {doc2 "b c", doc6 "a a"}
    // t_cur = 3, t_web = 4, V = 3, prior = ln(1/2) = -0.693147
    // lr(a) = lr(b) = round(ln(7/6), 6) = 0.154151; lr(c) = round(ln(7/12), 6) = -0.538997
    // doc1 = 3*lr(a) + prior = -0.230694 < 0 -> fn (curated doc rejected)
    // doc2 = lr(b) + lr(c) + prior = -1.077993 -> tn; doc6 = 2*lr(a) + prior -> tn
    val docs = Seq(
      (1L, "a a b", "en"), (2L, "b c", "de"), (6L, "a a", "de")
    ).toDF("doc_id", "text", "lang")
    val r = Curation.nbQualityEval(docs, "doc_id", "text", col("lang") === "en")
      .collect()
    assert(r.length == 1, "one summary row")
    val row = r(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
      == ((0L, 0L, 1L, 2L, 0L)), s"confusion (tp,fp,fn,tn,n_null): $row")
    assert(row.isNullAt(5), s"prec = 0/0 must be NULL, not 0 or NaN: $row")
    assert(row.getDouble(6) == 0.0 && row.getDouble(7) == 0.0, s"rec/f1 = 0: $row")
    assert(math.abs(row.getDouble(8) - 0.666667) < 1e-9, s"acc = round(2/3, 6): $row")
    // empty web class: every pred is NULL -> all docs in n_null, all metrics NULL
    val deg = Curation.nbQualityEval(docs, "doc_id", "text", lit(true)).collect()(0)
    assert((deg.getLong(0), deg.getLong(1), deg.getLong(2), deg.getLong(3), deg.getLong(4))
      == ((0L, 0L, 0L, 0L, 3L)), s"degenerate confusion: $deg")
    assert((5 to 8).forall(deg.isNullAt), s"degenerate metrics all NULL: $deg")
  }

  test("nbCalibrationBins: floor bins, both clamps, NULL scores excluded entirely") {
    // model over {doc1 8×a (en), doc2 4×z (de), doc3 "a z" (en)}:
    // lr(a) = ln 5, lr(z) = -ln 5, prior = ln 2
    // doc1 = 8·ln5 + ln2 ≈ 13.57 -> floor 13, clamps to hi = 4
    // doc2 = -4·ln5 + ln2 ≈ -5.74 -> floor -6, clamps to lo = -5
    // doc3 = ln5 - ln5 + ln2 ≈ 0.69 -> bin 0
    val docs = Seq(
      (1L, "a a a a a a a a", "en"), (2L, "z z z z", "de"), (3L, "a z", "en")
    ).toDF("doc_id", "text", "lang")
    val got = Curation.nbCalibrationBins(docs, "doc_id", "text", col("lang") === "en")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(
      -5L -> ((1L, 0L, 0.0)), 0L -> ((1L, 1L, 1.0)), 4L -> ((1L, 1L, 1.0))),
      s"clamped reliability bins: $got")
    // empty-class corpus: every score NULL -> EMPTY table (n_null is
    // nbQualityEval's to report), never a NULL bin row
    assert(Curation.nbCalibrationBins(docs, "doc_id", "text", lit(true)).count() == 0,
      "all-NULL scores must produce zero bins")
  }

  test("nbScoreBatch: composed model+score equals nbQualityScore; batch restriction; OOV terms contribute zero") {
    val docs = Seq(
      (1L, "a a b", "en"), (3L, "", "en"), (2L, "b c", "de"), (7L, "a c", "de")
    ).toDF("doc_id", "text", "lang")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getBoolean(2)))).toSet
    val full = rows(Curation.nbQualityScore(docs, "doc_id", "text", col("lang") === "en"))
    val (lr, priors) = Curation.nbModel(docs, "doc_id", "text", col("lang") === "en")
    // composed halves == the one-plan form, bit-identical (the model
    // IS the 6-dp artifact, so the summands are the same doubles)
    assert(rows(Curation.nbScoreBatch(docs, "doc_id", "text", lr, priors)) == full,
      "nbScoreBatch(nbModel) must equal nbQualityScore")
    // batch scoring = the full run restricted to the batch ids
    val batch = docs.filter(col("doc_id") % 2 === 1)
    assert(rows(Curation.nbScoreBatch(batch, "doc_id", "text", lr, priors))
      == full.filter(_._1 % 2 == 1), "batch scoring must restrict, not retrain")
    // OOV contract: a term the model never saw contributes ZERO — a
    // batch of only-OOV tokens scores exactly the prior (= the
    // zero-token doc's score)
    val oov = Seq((9L, "zz zz")).toDF("doc_id", "text")
    val got = rows(Curation.nbScoreBatch(oov, "doc_id", "text", lr, priors))
    val priorOnly = full.find(_._1 == 3L).get
    assert(got == Set((9L, priorOnly._2, priorOnly._3)),
      s"all-OOV doc must score the prior alone: $got vs $priorOnly")
  }

  test("nbScoreBatch: opt-in smoothed-OOV constant — hand-computed, additive, default unchanged") {
    // training fixture: en docs {"a a b", ""}, web docs {"b c", "a c"}
    // -> t_cur = 3 (a,a,b), t_web = 4 (b,c,a,c), vocab = {a,b,c}, v = 3
    // -> smoothed-OOV lr = ln((t_web+v)/(t_cur+v)) = ln(7/6),
    //    quantized to 0.154151; priors nd_cur = nd_web = 2 -> ln(1) = 0
    val docs = Seq(
      (1L, "a a b", "en"), (3L, "", "en"), (2L, "b c", "de"), (7L, "a c", "de")
    ).toDF("doc_id", "text", "lang")
    val (lr, priors) = Curation.nbModel(docs, "doc_id", "text", col("lang") === "en")
    val oovC = math.log(7.0 / 6.0)
    def one(df: org.apache.spark.sql.DataFrame) = {
      val r = df.collect().head
      (r.getLong(0), r.getDouble(1), r.getBoolean(2))
    }
    // all-OOV doc: score = prior + 2 * 0.154151 = 0.308302, flips the
    // keep decision that the zero-contribution default leaves at the
    // prior (0 -> pred_curated = false)
    val allOov = Seq((9L, "zz zz")).toDF("doc_id", "text")
    assert(one(Curation.nbScoreBatch(allOov, "doc_id", "text", lr, priors,
        oovLr = Some(oovC))) == ((9L, 0.308302, true)),
      "all-OOV doc must score prior + n_oov * quantized constant")
    assert(!one(Curation.nbScoreBatch(allOov, "doc_id", "text", lr, priors))._3,
      "default (no oovLr) must stay zero-contribution: prior 0 -> not kept")
    // mixed doc "a zz": lr(a) = round(ln(3/6) - ln(2/7), 6) = 0.559616,
    // so score = round(0.559616 + 0.154151 + 0, 6) = 0.713767
    val mixed = Seq((9L, "a zz")).toDF("doc_id", "text")
    assert(one(Curation.nbScoreBatch(mixed, "doc_id", "text", lr, priors,
        oovLr = Some(oovC))) == ((9L, 0.713767, true)),
      "mixed doc must add the in-vocab lr and one OOV constant")
    // in-vocab-only batch: the OOV option must change NOTHING
    val inVocab = Seq((9L, "a b c")).toDF("doc_id", "text")
    val withO = one(Curation.nbScoreBatch(inVocab, "doc_id", "text", lr, priors,
      oovLr = Some(oovC)))
    val withoutO = one(Curation.nbScoreBatch(inVocab, "doc_id", "text", lr, priors))
    assert(withO == withoutO, s"no OOV tokens -> identical score: $withO vs $withoutO")
  }

  test("nbScoreBatchOov: reads the train-time constant from priors, equals the explicit-constant path") {
    // same training fixture as the oovLr test: t_cur = 3, t_web = 4,
    // v = 3 -> priors must RECORD oov_lr = round(ln(7/6), 6) = 0.154151
    // at training time, and the in-plan form must reproduce the
    // explicit-constant path bit-for-bit on every batch shape
    val docs = Seq(
      (1L, "a a b", "en"), (3L, "", "en"), (2L, "b c", "de"), (7L, "a c", "de")
    ).toDF("doc_id", "text", "lang")
    val (lr, priors) = Curation.nbModel(docs, "doc_id", "text", col("lang") === "en")
    val pRow = priors.collect().head
    assert(pRow.getDouble(pRow.fieldIndex("oov_lr")) == 0.154151,
      s"priors must carry the quantized train-time OOV constant: $pRow")
    val oovC = math.log(7.0 / 6.0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("doc_id")).collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSeq
    for (batch <- Seq(
        Seq((9L, "zz zz")),                      // all-OOV
        Seq((9L, "a zz")),                       // mixed
        Seq((9L, "a b c")),                      // in-vocab only
        Seq((9L, "a zz"), (10L, ""), (11L, "zz b zz")))) {  // incl. zero-token
      val b = batch.toDF("doc_id", "text")
      val viaPriors = rows(Curation.nbScoreBatchOov(b, "doc_id", "text", lr, priors))
      val viaConst = rows(Curation.nbScoreBatch(b, "doc_id", "text", lr, priors,
        oovLr = Some(oovC)))
      assert(viaPriors == viaConst,
        s"priors-column path diverged from the explicit constant:\n$viaPriors\n$viaConst")
    }
  }

  test("nbScoreBatchOov degenerate corpora: empty-training oov_lr is NULL, scores stay NULL both ways") {
    // empty training corpus -> totals are NULL/0, so the recorded
    // constant must be NULL (not NaN/Infinity from ln(0/0)) and every
    // downstream score must be NULL via the empty-class guard — the
    // engines-must-agree-on-degenerate-corpora rule
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    val (lr0, pr0) = Curation.nbModel(empty, "doc_id", "text", col("lang") === "en")
    val p0 = pr0.collect().head
    assert(p0.isNullAt(p0.fieldIndex("oov_lr")),
      s"empty-corpus oov_lr must be NULL, got $p0")
    val batch = Seq((1L, "a b"), (2L, "")).toDF("doc_id", "text")
    val scored = Curation.nbScoreBatchOov(batch, "doc_id", "text", lr0, pr0)
      .orderBy(col("doc_id")).collect()
    assert(scored.length == 2 && scored.forall(r => r.isNullAt(1) && r.isNullAt(2)),
      s"empty-class corpus must NULL every score/pred: ${scored.toSeq}")
    // one-class corpus (all curated): same guard, same NULLs — and the
    // constant is still well-defined (t_web = 0 is fine: ln((0+v)/(t_cur+v)))
    val oneClass = Seq((1L, "a a", "en"), (2L, "b", "en")).toDF("doc_id", "text", "lang")
    val (lr1, pr1) = Curation.nbModel(oneClass, "doc_id", "text", col("lang") === "en")
    val p1 = pr1.collect().head
    assert(!p1.isNullAt(p1.fieldIndex("oov_lr")),
      s"one-class corpus still records a finite constant: $p1")
    val s1 = Curation.nbScoreBatchOov(batch, "doc_id", "text", lr1, pr1)
      .orderBy(col("doc_id")).collect()
    assert(s1.forall(r => r.isNullAt(1)),
      s"one-class corpus (nd_web = 0) must NULL every score: ${s1.toSeq}")
  }

  test("nb eval: NULL label lands in n_null — quadrants + n_null partition the corpus (ADVICE r17)") {
    // hand-made scored/labels tables through the composable tail: doc 3
    // has a NULL prediction, doc 4 a NULL label — BOTH must land in
    // n_null (never silently vanish), so the five columns partition
    val scored = Seq(
      (1L, Option(1.5), Option(true)), (2L, Option(-0.5), Option(false)),
      (3L, Option.empty[Double], Option.empty[Boolean]), (4L, Option(2.0), Option(true))
    ).toDF("doc_id", "score", "pred_curated")
    val labels = Seq(
      (1L, Option(true)), (2L, Option(true)), (3L, Option(false)), (4L, Option.empty[Boolean])
    ).toDF("doc_id", "label")
    val r = Curation.nbEvalFromScores(scored, labels).collect().head
    val (tp, fp, fn, tn, nNull) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert((tp, fp, fn, tn, nNull) == ((1L, 0L, 1L, 0L, 2L)),
      s"confusion (tp,fp,fn,tn,n_null): ($tp,$fp,$fn,$tn,$nNull)")
    assert(tp + fp + fn + tn + nNull == 4L, "the five columns must partition the corpus")
    // end-to-end: a NULL isCurated label flows into n_null, not nowhere
    val docs = Seq(
      (1L, "a a b", Option("en")), (2L, "b c", Option("de")), (3L, "a c", Option.empty[String])
    ).toDF("doc_id", "text", "lang")
    val e = Curation.nbQualityEval(docs, "doc_id", "text", col("lang") === "en")
      .collect().head
    assert(e.getLong(0) + e.getLong(1) + e.getLong(2) + e.getLong(3) + e.getLong(4) == 3L,
      s"NULL-label doc must be counted: $e")
    assert(e.getLong(4) == 1L, s"the NULL-label doc lands in n_null: $e")
  }

  test("bpe fertility: per-group integer sums, one-division ratios, empty group NULL") {
    // merges = [(a,b)]: "a b a b" -> 2 toks; "a a" -> untouched (pair aa
    // is not the merge); "b c" -> untouched; "" -> 0 toks
    val docs = Seq(
      (10L, "a b a b", "en", 7L), (20L, "a a a", "en", 5L),
      (30L, "b c", "th", 3L), (40L, "", "th", 0L),
      (50L, "", "de", 0L)
    ).toDF("doc_id", "text", "lang", "n_chars")
    val got = Bpe.fertility(docs, "doc_id", "text", "lang", "n_chars",
        Seq(("a", "b")))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("en", "th", "de"), s"one row per group: ${got.keySet}")
    val en = got("en")
    assert((en.getLong(1), en.getLong(2), en.getLong(3)) == ((2L, 7L, 5L)),
      s"en counts (n_docs, n_raw, n_bpe): $en")
    assert(math.abs(en.getDouble(4) - 0.714286) < 1e-9, s"en compression = round(5/7, 6): $en")
    assert(math.abs(en.getDouble(5) - 41.666667) < 1e-9, s"en toks_per_100c = round(500/12, 6): $en")
    val th = got("th")
    assert((th.getLong(1), th.getLong(2), th.getLong(3)) == ((2L, 2L, 2L)),
      s"th counts: $th")
    assert(th.getDouble(4) == 1.0, s"merge never fires in th -> compression 1.0: $th")
    assert(math.abs(th.getDouble(5) - 66.666667) < 1e-9, s"th toks_per_100c = round(200/3, 6): $th")
    val de = got("de")
    assert((de.getLong(1), de.getLong(2), de.getLong(3)) == ((1L, 0L, 0L)) &&
      de.isNullAt(4) && de.isNullAt(5),
      s"all-empty group: zero counts, NULL ratios: $de")
  }

  test("ngramCoverage: full / zero / partial contamination and the short-doc edge") {
    val corpus = Seq((100L, "the cat sat on the mat")).toDF("doc_id", "text")
    val cands = Seq(
      (1L, "the cat sat on"),       // trigrams all ⊂ corpus → 1.0
      (2L, "dogs bark at night x"), // fully novel → 0.0
      (3L, "the cat sat somewhere new here"), // 1 of 4 seen → 0.25
      (4L, "too short")             // < 3 tokens → absent
    ).toDF("doc_id", "text")
    val got = Dedup.ngramCoverage(cands, corpus, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L), s"short doc must be absent: $got")
    assert(got(1L) == ((2L, 2L, 1.0)), s"doc1: ${got(1L)}")
    assert(got(2L) == ((3L, 0L, 0.0)), s"doc2: ${got(2L)}")
    assert(got(3L) == ((4L, 1L, 0.25)), s"doc3: ${got(3L)}")
  }

  test("lengthBatches: bucket bounds, batch size cap, pad_frac of a known batch") {
    // lengths 1,2,3 land in buckets 1,2,2; batchSize 2 splits bucket 2
    // docs (lengths 2,3) into one batch: pad = 1 - 5/(2*3)
    val df = Seq((1L, "a"), (2L, "a b"), (3L, "a b c"), (4L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.lengthBatches(df, "doc_id", "text", batchSize = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got.keySet == Set((1L, 0L), (2L, 0L), (4L, 0L)), s"buckets wrong: $got")
    assert(got((2L, 0L)) == ((2L, 3L, 5L, round6(1.0 - 5.0 / 6))), s"batch stats: $got")
    assert(got((1L, 0L)) == ((1L, 1L, 1L, 0.0)))
    // every batch is within the size cap
    assert(got.values.forall(_._1 <= 2L))
  }
  private def round6(x: Double): Double = math.rint(x * 1e6) / 1e6

  test("skewDiagnostics: hand-built skew — hot key shares and ratios exact") {
    // key 1 -> 90 rows, keys 2..11 -> 1 row each: n=100, 11 keys
    val df = (Seq.fill(90)(1L) ++ (2L to 11L)).toDF("k")
    val r = Relational.skewDiagnostics(df, "k").first()
    assert(r.getAs[Long]("n_rows") == 100L && r.getAs[Long]("n_keys") == 11L)
    assert(r.getAs[Long]("max_cnt") == 90L)
    assert(r.getAs[Double]("top1_share") == 0.9)
    // top 10 keys by count = hot key + 9 singletons = 99 rows
    assert(r.getAs[Double]("top10_share") == 0.99)
    assert(math.abs(r.getAs[Double]("max_over_mean") - 90.0 / (100.0 / 11)) < 1e-4)
  }

  test("curriculumStages: stage is monotone in mean_nll, boundaries split the corpus, zero-token docs absent") {
    // 8 docs engineered so their mean-NLL order is their id order:
    // doc k repeats a common token (8−k) times and carries k distinct
    // rare-ish tokens — more rare mass ⇒ higher NLL
    val docs = (0L until 8L).map { k =>
      val common = Seq.fill((8 - k).toInt)("aa")
      val rare = (0 until k.toInt).map(j => s"r${k}x$j")
      (k, (common ++ rare).mkString(" "))
    }.toDF("doc_id", "text")
    val got = TextAnalysis
      .curriculumStages(docs, "doc_id", "text", minCount = 1, nStages = 4)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(2), r.getLong(3)))).toMap
    assert(got.size == 8)
    // monotone: sorting by NLL must sort by stage too, and quartile
    // boundaries put exactly 2 docs in each stage on an 8-doc corpus
    val byNll = got.values.toSeq.sortBy(_._1)
    assert(byNll.map(_._2) == byNll.map(_._2).sorted, s"stage not monotone in NLL: $got")
    assert(got.values.groupBy(_._2).view.mapValues(_.size).toMap ==
      Map(1L -> 2, 2L -> 2, 3L -> 2, 4L -> 2), s"quartile split: $got")
    // nStages=2 halves the corpus the same way
    val halves = TextAnalysis
      .curriculumStages(docs, "doc_id", "text", minCount = 1, nStages = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(halves.values.count(_ == 1L) == 4 && halves.values.count(_ == 2L) == 4)
    // a zero-token doc has no NLL and is absent, as documented
    val withEmpty = docs.union(Seq((99L, "   ")).toDF("doc_id", "text"))
    assert(TextAnalysis.curriculumStages(withEmpty, "doc_id", "text", 1, 4)
      .filter(col("doc_id") === 99L).count() == 0L)
  }

  test("approx-percentile variants: same plan shape, divergence only inside the rank-error band") {
    // The 100x-scale path the docstrings prescribe, as a TESTED code
    // path: approxAccuracy swaps percentile -> approx_percentile in
    // the 1-row threshold broadcast and must change NOTHING else.
    def fmt(df: org.apache.spark.sql.DataFrame) = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val docs = Tables.documents(spark, sf0001)
    // --- curriculumStages ---
    val exact = TextAnalysis.curriculumStages(docs, "doc_id", "text", 1, 4)
    val approx = TextAnalysis.curriculumStages(docs, "doc_id", "text", 1, 4,
      approxAccuracy = Some(1000))
    val (pe, pa) = (fmt(exact), fmt(approx))
    assert(pa.contains("approx_percentile") && !pe.contains("approx_percentile"))
    // plan SHAPE pin: same exchange count, and neither variant plans a
    // global sort or window for the boundary (the no-ntile promise)
    def exchanges(p: String) = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges(pe) == exchanges(pa),
      s"approx variant changed the exchange count: exact=$pe\napprox=$pa")
    assert(!pa.contains("Window"), s"approx boundary must not plan a window:\n$pa")
    // rank-invariance: stages form a monotone partition of mean_nll
    // under BOTH variants, and a doc's stage can differ between them
    // only if its score sits between the two variants' boundaries —
    // i.e. within the approx sketch's rank-error band
    val e = exact.collect().map(r => r.getLong(0) -> ((r.getDouble(2), r.getLong(3)))).toMap
    val a = approx.collect().map(r => r.getLong(0) -> ((r.getDouble(2), r.getLong(3)))).toMap
    assert(e.keySet == a.keySet, "variants must cover the same docs")
    for (m <- Seq(e, a)) {
      val byNll = m.values.toSeq.sortBy(_._1)
      assert(byNll.map(_._2) == byNll.map(_._2).sorted,
        s"stage must stay monotone in mean_nll: $m")
    }
    val moved = e.keys.filter(k => e(k)._2 != a(k)._2)
    // boundary band per stage pair: [min, max] of the two variants'
    // adjacent-stage score extremes — a moved doc must sit where the
    // two boundary choices disagree
    for (k <- moved) {
      val (lo, hi) = (math.min(e(k)._2, a(k)._2), math.max(e(k)._2, a(k)._2))
      // maxOption/minOption: a side with no docs at/below lo (or
      // at/above hi) contributes ∓infinity — the NEUTRAL element under
      // the outer max/min, so the other side's bound stands alone
      // instead of the empty side throwing on an unlucky corpus/stage
      // split (and with BOTH sides empty that disjunct simply never
      // fires — stricter, not vacuous)
      def maxAt(m: Map[Long, (Double, Long)], p: Long => Boolean) =
        m.values.filter(v => p(v._2)).map(_._1).maxOption.getOrElse(Double.NegativeInfinity)
      def minAt(m: Map[Long, (Double, Long)], p: Long => Boolean) =
        m.values.filter(v => p(v._2)).map(_._1).minOption.getOrElse(Double.PositiveInfinity)
      val maxBelow = math.max(maxAt(e, _ <= lo), maxAt(a, _ <= lo))
      val minAbove = math.min(minAt(e, _ >= hi), minAt(a, _ >= hi))
      assert(e(k)._1 >= minAbove - 1e-9 || e(k)._1 <= maxBelow + 1e-9,
        s"doc $k moved stages (${e(k)._2} -> ${a(k)._2}) outside the boundary band")
    }
    // --- adaptiveQualityFilter: verdicts differ only for docs whose
    // deciding signal lies between the two variants' thresholds ---
    val fe = TextAnalysis.adaptiveQualityFilter(docs, "doc_id", "text", 0.1, 0.9)
    val fa = TextAnalysis.adaptiveQualityFilter(docs, "doc_id", "text", 0.1, 0.9,
      approxAccuracy = Some(1000))
    assert(fmt(fa).contains("approx_percentile"))
    assert(exchanges(fmt(fe)) == exchanges(fmt(fa)),
      "adaptive cascade: approx variant changed the exchange count")
    case class V(nTok: Long, ttr: Double, tokLo: Double, tokHi: Double,
      ttrLo: Double, keep: Boolean)
    def read(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => r.getLong(0) ->
      V(r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
        r.getDouble(5), r.getBoolean(7))).toMap
    val (ve, va) = (read(fe), read(fa))
    assert(ve.keySet == va.keySet)
    val flipped = ve.keys.filter(k => ve(k).keep != va(k).keep)
    for (k <- flipped) {
      val (x, y) = (ve(k), va(k))
      val inBand =
        (x.nTok >= math.min(x.tokLo, y.tokLo) && x.nTok <= math.max(x.tokLo, y.tokLo)) ||
        (x.nTok >= math.min(x.tokHi, y.tokHi) && x.nTok <= math.max(x.tokHi, y.tokHi)) ||
        (x.ttr >= math.min(x.ttrLo, y.ttrLo) && x.ttr <= math.max(x.ttrLo, y.ttrLo))
      assert(inBand, s"doc $k flipped keep outside the threshold band: exact=$x approx=$y")
    }
  }

  test("ngramDiversity: hand-computed counts, ratios, entropy; short docs skip high n") {
    val docs = Seq((1L, "a a b"), (2L, "a b")).toDF("doc_id", "text")
    val got = TextAnalysis.ngramDiversity(docs, "text", maxN = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // unigrams: 5 tokens, {a:3, b:2} — H = ln5 − (3ln3+2ln2)/5, in bits
    assert(got(1L) == ((5L, 2L, 0.4, 0.970951)), s"unigram row: $got")
    // bigrams: {"a a":1, "a b":2}; doc 2 contributes its single bigram
    assert(got(2L) == ((3L, 2L, 0.666667, 0.918296)), s"bigram row: $got")
    // trigrams: only doc 1 is long enough — a 1-gram distribution has H=0
    assert(got(3L) == ((1L, 1L, 1.0, 0.0)), s"trigram row: $got")
    // a corpus of one repeated token: zero diversity at n=1
    val mono = Seq((1L, "x x x x")).toDF("doc_id", "text")
    val m1 = TextAnalysis.ngramDiversity(mono, "text", maxN = 1).first()
    assert(m1.getLong(1) == 4L && m1.getLong(2) == 1L && m1.getDouble(4) == 0.0)
    // all-empty corpus: no gram groups, no rows
    val empty = Seq((1L, "   ")).toDF("doc_id", "text")
    assert(TextAnalysis.ngramDiversity(empty, "text", maxN = 2).count() == 0L)
  }
}
