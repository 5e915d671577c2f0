package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** The curation-pipeline family (`pipeline_*`): composed curation
  * chains (the end-to-end `pipeline_e2e`, checkpointed or staged), DSIR
  * and epoch shuffling, data cards, curriculum staging and the NB
  * quality classifier with its stored models. Each registration carries
  * its Spark builder and its DuckDB oracle.
  */
object SparkEntryExt {

  import OracleSql.{clusterLabelCtesFrom, h32Sql, minhashBandsCte, minhashPairsBodyFrom, ngramSql,
    toksSql}

  /** Incoming-batch selector modulus for `pipeline_nb_inc` /
    * `stream_nb_score` — ONE definition feeds the Spark registry
    * filters, the streaming runner's batch split, and the SQL
    * oracle's WHERE literal (the `spanN` discipline).
    */
  private[graft] val nbBatchMod = 7

  /** Calibration-bin clamp range for `pipeline_nb_bins` — ONE
    * definition feeds the Spark registry call and the SQL oracle's
    * greatest/least literals (the `spanN` discipline).
    */
  private val nbBinLo = -5
  private val nbBinHi = 4

  /** `pipeline_epoch_shuffle` knobs — ONE definition feeds the Spark
    * registry call and every literal in the oracle SQL (the seed
    * string appears in the hash input, the shard count twice: the
    * mod projection and the window partition), so a tweak to either
    * side cannot silently break engine/oracle parity (the `spanN`
    * discipline).
    */
  private val epochSeed = "epoch1"
  private val epochShards = 8

  /** NB TRAINING CTEs parameterized by the training predicate
    * (mirrors [[graft.ops.Curation.nbModel]] with `lang = 'en'` as the
    * curated class); ends at `lr(term, lr)` + `pr(nd_cur, nd_web)`
    * with `tot(t_cur, t_web, v)` in scope. ONE definition, two
    * consumers: [[nbScoreCtes]] (full-corpus, `TRUE`) and
    * `pipeline_nb_oov` (corpus-minus-batch — the train/serve split
    * that makes the batch genuinely OOV-bearing).
    */
  private def nbTrainCtes(pred: String): String =
    s"""tl AS (SELECT doc_id, lang = 'en' AS cur, $toksSql AS t FROM documents WHERE $pred),
       |tok AS (SELECT doc_id, cur, unnest(t) AS term FROM tl),
       |tc AS (
       |  SELECT term,
       |    CAST(sum(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS c_cur,
       |    CAST(sum(CASE WHEN cur THEN 0 ELSE 1 END) AS BIGINT) AS c_web
       |  FROM tok GROUP BY term),
       |tot AS (
       |  SELECT CAST(sum(c_cur) AS BIGINT) AS t_cur,
       |    CAST(sum(c_web) AS BIGINT) AS t_web, count(*) AS v
       |  FROM tc),
       |lr AS (
       |  SELECT term,
       |    round(ln((c_cur + 1)::DOUBLE / (t_cur + v)) -
       |          ln((c_web + 1)::DOUBLE / (t_web + v)), 6) AS lr
       |  FROM tc, tot),
       |pr AS (
       |  SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nd_cur,
       |    CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS nd_web
       |  FROM documents WHERE $pred)""".stripMargin

  /** NB quality-classifier CTEs: full-corpus training + full-corpus
    * scoring; ends at `sc(doc_id, score)`. ONE definition, four
    * consumers (`pipeline_nb_quality`, `pipeline_nb_eval`,
    * `pipeline_nb_bins`, `nbIncSql` and its `_inc` report derivatives)
    * — the dataCardSql discipline.
    */
  private lazy val nbScoreCtes: String =
    s"""${nbTrainCtes("TRUE")},
       |dt AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term),
       |ds AS (SELECT doc_id, sum(c * lr) AS s FROM dt JOIN lr USING (term) GROUP BY doc_id),
       |sc AS (
       |  SELECT d.doc_id,
       |    CASE WHEN pr.nd_cur = 0 OR pr.nd_web = 0 THEN NULL
       |      ELSE round(coalesce(ds.s, 0.0) + ln(pr.nd_cur::DOUBLE / pr.nd_web), 6)
       |    END AS score
       |  FROM documents d LEFT JOIN ds ON d.doc_id = ds.doc_id, pr)""".stripMargin

  /** Run `body` with `spark.sql.shuffle.partitions` sized for a
    * VOCAB-KEYED exchange over `d`'s documents, restoring the session
    * value after. A vocab-keyed final aggregate (term/pair distincts,
    * per-term model counts) holds one hash-map entry per SURVIVING
    * key, so its per-task working set is vocab-sized, not token-sized
    * — on a vocab-heavy corpus the session's fixed partition count
    * under-splits it (measured: 5M docs with ~1000× the base vocab
    * OOM'd a 48 GB heap across 32 final partitions at the r18 1000×
    * smoke). Sizing: one partition per [[VolumeConf]]'s bytes-per-
    * partition constant of source parquet (text explodes 3–5× off
    * parquet encoding, and keys dominate the map), floored at the
    * session constant, capped at 2048 — the arithmetic a production
    * job does with its cluster's task size. A scoped
    * conf override (not `repartition`) so the map-side PARTIAL
    * aggregate stays in the plan — an explicit repartition below the
    * aggregate would ship every raw token occurrence across the
    * exchange instead of per-input-partition-distinct keys. The
    * session constant stays right for the row-keyed exchanges
    * (doc_id-sized state) everywhere else.
    *
    * Sizing input: the FULL `documents.parquet` byte size of `d`, not
    * the (possibly filtered) DataFrame the caller trains on — e.g.
    * [[nbOovModelIndex]] trains on corpus-minus-batch. That is
    * deliberate: the partition count only needs an UPPER bound on the
    * training input's volume (a filtered corpus gets at most a few
    * partitions more than it strictly needs, and AQE coalescing
    * absorbs the slack), and the full-table size is readable without
    * resolving the caller's plan. A caller feeding a frame NOT derived
    * from `d`'s documents table must not use this helper.
    *
    * The set/restore is serialized under [[vocabShuffleLock]]: the
    * conf key is SESSION-shared mutable state, and two index builders
    * racing here ([[Memo]] only serializes per build) could
    * interleave set/restore and leave one build under-split or the
    * session constant clobbered with a stale value.
    */
  private val vocabShuffleLock = new Object
  private def withVocabSizedShuffle[T](s: SparkSession, d: String)(body: => T): T =
    vocabShuffleLock.synchronized {
      val docBytes = {
        val p = new org.apache.hadoop.fs.Path(s"$d/documents.parquet")
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
      }
      val parts = VolumeConf.volumeSizedPartitions(docBytes,
        s.sessionState.conf.numShufflePartitions)
      // Under AQE + partition coalescing, SQLConf.numShufflePartitions
      // reads `coalescePartitions.initialPartitionNum` whenever that
      // key is SET — and the harness sessions (GraftSession) set
      // it volume-sized. Overriding only `spark.sql.shuffle.partitions`
      // would be silently shadowed there (today the two sizings share
      // VolumeConf over the same directory so the shadowing is
      // harmless, but the moment they diverge the vocab build would
      // fall back to the session width with no error), so the scoped
      // override sets BOTH keys and restores both — the AQE key back
      // to its prior value, or unset if the session never set it.
      // (Only the AQE key can be GENUINELY unset: shuffle.partitions
      // has a registered default, so getOption always reads back a
      // value and the restore re-applies it — behaviorally identical
      // to unset, just not symmetric in the conf map.)
      val keys = Seq("spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      val prev = keys.map(k => k -> s.conf.getOption(k))
      keys.foreach(k => s.conf.set(k, parts.toString))
      try body finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
    }

  /** Per-doc profile + vocab tables, materialized ONCE per sfDir per
    * JVM (the [[bqSigIndex]] discipline applied to corpus reporting):
    * the profile carries the tokenize + quality-cascade results
    * ([[TextAnalysis.docProfile]]), the `_vocab` side table the
    * distinct whitespace terms. `pipeline_data_card_inc` then derives
    * the card from these narrow tables — the ingest-time step that
    * drops the cascade cost out of every card refresh.
    */
  private val docProfileIndex = Memo.table("doc_profile") { (s, d, tbl) =>
    val docs = Tables.documents(s, d)
    TextAnalysis.docProfile(docs, "doc_id", "text")
      .write.mode("overwrite").option("path", Memo.tablePath(tbl)).saveAsTable(tbl)
    // (source, term) distinct pairs — the per-SOURCE vocab side
    // table `pipeline_source_cards_inc` reads; vocab-keyed final
    // state, so the exchange is volume-sized (the OOM lesson —
    // see withVocabSizedShuffle)
    withVocabSizedShuffle(s, d) {
      docs.select(col("source"), explode(Dedup.tokens(col("text"))).as("term"))
        .distinct()
        .write.mode("overwrite").option("path", Memo.tablePath(tbl + "_srcvocab"))
        .saveAsTable(tbl + "_srcvocab")
      // the global vocab is the pair table's term projection — derive
      // it from the NARROW stored table rather than paying a second
      // full-corpus tokenize+explode pass
      s.table(tbl + "_srcvocab").select(col("term")).distinct()
        .write.mode("overwrite").option("path", Memo.tablePath(tbl + "_vocab"))
        .saveAsTable(tbl + "_vocab")
    }
  }

  /** Stored NB quality-classifier model — the trained `(term, lr)`
    * table (bucketed by `term`: batch scoring's vocab join gets no
    * model-side exchange and one scan task per bucket — the
    * bqSigIndex under-splitting lesson) plus the 1-row `_prior`
    * doc-count side table. Trained ONCE per corpus snapshot
    * ([[graft.ops.Curation.nbModel]]); `pipeline_nb_inc` scores
    * incoming batches against it without ever re-tokenizing the
    * corpus.
    */
  private[graft] val nbModelIndex = Memo.table("nb_model") { (s, d, tbl) =>
    val (lr, priors) = Curation.nbModel(Tables.documents(s, d),
      "doc_id", "text", col("lang") === "en")
    // the per-term class-count aggregate's final state is vocab-sized
    // — volume-size its exchange (the docProfileIndex OOM lesson)
    withVocabSizedShuffle(s, d) {
      lr.write.mode("overwrite").option("path", Memo.tablePath(tbl))
        .bucketBy(8, "term").saveAsTable(tbl)
    }
    priors.write.mode("overwrite").option("path", Memo.tablePath(tbl + "_prior"))
      .saveAsTable(tbl + "_prior")
  }

  /** [[nbModelIndex]] trained on the corpus MINUS the scoring batch
    * (`doc_id % nbBatchMod <> 0`) — `pipeline_nb_oov`'s artifact: the
    * train/serve split is what makes the batch genuinely OOV-bearing,
    * so the stored `oov_lr` constant (recorded by `nbModel` at
    * training time) actually exercises. Same layout discipline
    * (`bucketBy(8, term)` + 1-row priors side table).
    */
  private[graft] val nbOovModelIndex = Memo.table("nb_oov_model") { (s, d, tbl) =>
    val (lr, priors) = Curation.nbModel(
      Tables.documents(s, d).filter(col("doc_id") % nbBatchMod =!= 0),
      "doc_id", "text", col("lang") === "en")
    withVocabSizedShuffle(s, d) {
      lr.write.mode("overwrite").option("path", Memo.tablePath(tbl))
        .bucketBy(8, "term").saveAsTable(tbl)
    }
    priors.write.mode("overwrite").option("path", Memo.tablePath(tbl + "_prior"))
      .saveAsTable(tbl + "_prior")
  }

  /** Shared oracle for `pipeline_nb_inc` AND `stream_nb_score` (the
    * streaming crawl filter over the same stored NB model — per-DOC
    * purity makes micro-batch slicing invisible, so both check
    * against one SQL: the full score table restricted to the batch).
    */
  private[graft] lazy val nbIncSql: String =
    s"""WITH $nbScoreCtes
       |SELECT doc_id, score, score > 0 AS pred_curated
       |FROM sc WHERE doc_id % $nbBatchMod = 0
       |ORDER BY doc_id""".stripMargin

  /** Shared oracle for `pipeline_nb_oov` AND `stream_nb_oov` (the
    * [[nbIncSql]] pairing applied to the OOV-aware form): training
    * CTEs under the corpus-minus-batch predicate (nbTrainCtes —
    * single-sourced), batch terms LEFT-join the vocab so absent terms
    * pick up the smoothed constant
    * `o = round(ln((t_web+v)/(t_cur+v)), 6)` — the same train-time
    * totals the engine's stored `oov_lr` records. Per-DOC purity
    * makes micro-batch slicing invisible, so the batch and streaming
    * forms check against this ONE SQL.
    */
  private[graft] lazy val nbOovSql: String =
    s"""WITH ${nbTrainCtes(s"doc_id % $nbBatchMod <> 0")},
       |bl AS (SELECT doc_id, $toksSql AS t FROM documents WHERE doc_id % $nbBatchMod = 0),
       |btok AS (SELECT doc_id, unnest(t) AS term FROM bl),
       |bdt AS (SELECT doc_id, term, count(*) AS c FROM btok GROUP BY doc_id, term),
       |oc AS (SELECT round(ln((t_web + v)::DOUBLE / (t_cur + v)), 6) AS o FROM tot),
       |bds AS (
       |  SELECT doc_id,
       |    sum(c * coalesce(lr, 0.0)) +
       |      (SELECT o FROM oc) * CAST(sum(CASE WHEN lr IS NULL THEN c ELSE 0 END) AS DOUBLE) AS s
       |  FROM bdt LEFT JOIN lr USING (term) GROUP BY doc_id),
       |bsc AS (
       |  SELECT b.doc_id,
       |    CASE WHEN pr.nd_cur = 0 OR pr.nd_web = 0 THEN NULL
       |      ELSE round(coalesce(bds.s, 0.0) + ln(pr.nd_cur::DOUBLE / pr.nd_web), 6)
       |    END AS score
       |  FROM bl b LEFT JOIN bds ON b.doc_id = bds.doc_id, pr)
       |SELECT doc_id, score, score > 0 AS pred_curated
       |FROM bsc ORDER BY doc_id""".stripMargin

  /** Confusion-matrix report tail over a score relation
    * `src(doc_id, score)` — ONE definition, two consumers
    * (`pipeline_nb_eval` over the full `sc`, `pipeline_nb_eval_inc`
    * over the batch restriction): the [[nbTrainCtes]] discipline
    * applied to the report END of the chain, so a fix to the
    * quadrant/n_null logic (e.g. r18's `OR d.lang IS NULL`) can never
    * land in one copy and miss the other.
    */
  private def nbEvalReportSql(src: String): String =
    s"""cm AS (
       |  SELECT
       |    CAST(sum(CASE WHEN score > 0 AND d.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN score > 0 AND d.lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN NOT (score > 0) AND d.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |    CAST(sum(CASE WHEN NOT (score > 0) AND d.lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       |    CAST(sum(CASE WHEN score IS NULL OR d.lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
       |  FROM $src JOIN documents d USING (doc_id))
       |SELECT tp, fp, fn, tn, n_null,
       |  round(tp::DOUBLE / nullif(tp + fp, 0), 6) AS prec,
       |  round(tp::DOUBLE / nullif(tp + fn, 0), 6) AS rec,
       |  round((2 * tp)::DOUBLE / nullif(2 * tp + fp + fn, 0), 6) AS f1,
       |  round((tp + tn)::DOUBLE / nullif(tp + fp + fn + tn, 0), 6) AS acc
       |FROM cm""".stripMargin

  /** Calibration-bins report tail over a score relation
    * `src(doc_id, score)` — [[nbEvalReportSql]]'s twin
    * (`pipeline_nb_bins` / `pipeline_nb_bins_inc`).
    */
  private def nbBinsReportSql(src: String): String =
    s"""SELECT greatest($nbBinLo, least($nbBinHi, CAST(floor(score) AS BIGINT))) AS bin,
       |  CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_cur,
       |  round(sum(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS frac_cur
       |FROM $src JOIN documents d USING (doc_id)
       |WHERE score IS NOT NULL
       |GROUP BY 1
       |ORDER BY bin""".stripMargin

  /** The `pipeline_e2e` chain with a pluggable stage-boundary cut —
    * ONE body serves both execution forms so they cannot drift: the
    * registered query cuts with [[Lineage.local]], a long cluster run
    * with [[Lineage.staged]], which lays out
    * `stagePath/{cleaned,qdocs,sdocs,pool,keyed}`.
    */
  private[graft] def pipelineE2eChain(s: SparkSession, d: String,
      cut: Lineage.Cut): DataFrame = {
    val docs = Tables.documents(s, d)
    val cleaned = cut(() => Clean.removeBoilerplate(docs, "doc_id", "text",
        sep = " the ", minDocs = 3)
      .filter(col("n_kept") > 0)
      .select(col("doc_id"), col("clean_text").as("text")), "cleaned")
    val qdocs = cut(() => {
      val okIds = TextAnalysis.qualityFilter(cleaned, "doc_id", "text")
        .filter(col("reason") === "ok").select(col("doc_id"))
      cleaned.join(okIds, Seq("doc_id"))
    }, "qdocs")
    val sdocs = cut(() => {
      val pairs = Dedup.minHashLsh(qdocs, "doc_id", "text",
          shingleN = 3, numHashes = 16, rowsPerBand = 8)
        .filter(col("jaccard") >= 0.5)
      val survivors = Dedup.keepBest(qdocs, "doc_id", "text", pairs)
        .select(col("doc_id"))
      qdocs.join(survivors, Seq("doc_id"))
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    }, "sdocs")
    val pool = cut(() => {
      val dsirSel = Curation.dsirSelect(sdocs, "doc_id", "text",
        isTarget = col("lang") === "en", buckets = 256, keepFrac = 0.25)
      sdocs.filter(col("lang") === "en")
        .unionByName(sdocs.join(dsirSel.select(col("doc_id")), Seq("doc_id")))
    }, "pool")
    val keyed = cut(() => {
      val mixed = TextAnalysis.tokenBudgetSample(pool, "doc_id", "lang", "text",
        budgets = Map("en" -> 6000L, "zh" -> 1500L), defaultBudget = 2000L)
      val selected = pool.join(mixed.select(col("doc_id")), Seq("doc_id"))
      val order = Curation.epochShuffle(selected, "doc_id",
        seed = epochSeed, nShards = epochShards)
      selected.join(order, Seq("doc_id"))
        .withColumn("__ord", col("shard").cast("long") * lit(1L << 40) + col("pos"))
    }, "keyed")
    val packed = TextAnalysis.packSequences(keyed, "__ord", "text", seqLen = 512)
    packed.select(col("doc_id").as("__ord"), col("n_tokens"),
        col("seq_start"), col("seq_end"), col("offset"))
      .join(keyed.select(col("__ord"), col("doc_id"), col("lang"),
        col("shard"), col("pos")), Seq("__ord"))
      .select(col("doc_id"), col("lang"), col("shard"), col("pos"),
        col("n_tokens"), col("seq_start"), col("seq_end"), col("offset"))
      .orderBy(col("shard"), col("pos"))
  }

  val entries: Seq[Query] = Seq(
    // composed mix -> pack: token-budget selection feeding sequence
    // packing — the last two stages of a pretraining data pipeline in
    // one lazy plan (Catalyst prunes doc columns through the join)
    // budget selection (q_token_budget's form) piped into the packing
    // cumsum (q_pack_sequences' form) — one SQL chain, same constants
    Query("pipeline_mix_pack", s"""WITH t AS (
         |  SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    ${h32Sql("doc_id::VARCHAR")} AS h
         |  FROM documents),
         |w AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM t WHERE n_tokens > 0),
         |sel AS (
         |  SELECT doc_id, n_tokens FROM w
         |  WHERE cum_before < CASE lang WHEN 'en' THEN 6000 WHEN 'zh' THEN 1500 ELSE 2000 END),
         |c AS (
         |  -- CAST: see q_pack_sequences — HUGEINT window sums must not
         |  -- reach the compared output
         |  SELECT doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
         |  FROM sel)
         |SELECT doc_id, n_tokens,
         |  prev // 512 AS seq_start,
         |  (prev + n_tokens - 1) // 512 AS seq_end,
         |  prev % 512 AS offset
         |FROM c
         |ORDER BY doc_id""".stripMargin)((s, d) => {
      val docs = Tables.documents(s, d)
      val sel = TextAnalysis.tokenBudgetSample(docs, "doc_id", "lang", "text",
        budgets = Map("en" -> 6000L, "zh" -> 1500L), defaultBudget = 2000L)
      TextAnalysis.packSequences(
          docs.join(sel.select(col("doc_id")), "doc_id"),
          "doc_id", "text", seqLen = 512, docsPerShard = 100)
        .orderBy(col("doc_id"))
    }),
    // steady-state incremental curation: quality-gate the %10==3 batch,
    // then exact/near dedup against the corpus — one verdict per doc
    // same fragments as dedup_incremental + the quality gate on the
    // batch side; near includes exact pairs but max(level) resolves
    // identically to the Spark side's anti-joined tiers
    Query("pipeline_curate_inc", s"""WITH $minhashBandsCte,
         |pb_src AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 3),
         |${OracleSql.qualityCtes("icq", "pb_src")},
         |okids AS (SELECT doc_id FROM icq_r WHERE reason = 'ok'),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
         |  FROM bands a
         |  JOIN okids o ON a.doc_id = o.doc_id
         |  JOIN bands b ON a.band = b.band AND a.key = b.key
         |  WHERE b.doc_id % 10 <> 3),
         |sets AS (SELECT doc_id, list(DISTINCT h) AS s FROM shh GROUP BY doc_id),
         |ex AS (
         |  SELECT b.doc_id AS new_id, c.doc_id AS corpus_id
         |  FROM documents b
         |  JOIN okids o ON b.doc_id = o.doc_id
         |  JOIN documents c ON sha256(b.text) = sha256(c.text)
         |  WHERE c.doc_id % 10 <> 3),
         |near AS (
         |  SELECT new_id, corpus_id
         |  FROM cand
         |  JOIN sets sa ON cand.new_id = sa.doc_id
         |  JOIN sets sb ON cand.corpus_id = sb.doc_id
         |  WHERE len(list_intersect(sa.s, sb.s))::DOUBLE /
         |      len(list_distinct(list_concat(sa.s, sb.s))) >= 0.5),
         |lvl AS (
         |  SELECT new_id AS doc_id, max(l) AS lvl FROM (
         |    SELECT new_id, 2 AS l FROM ex
         |    UNION ALL SELECT new_id, 1 FROM near)
         |  GROUP BY 1)
         |SELECT b.doc_id,
         |  CASE WHEN r.reason <> 'ok' THEN r.reason
         |       WHEN l.lvl = 2 THEN 'exact_dup'
         |       WHEN l.lvl = 1 THEN 'near_dup'
         |       ELSE 'new' END AS verdict
         |FROM pb_src b
         |LEFT JOIN icq_r r USING (doc_id)
         |LEFT JOIN lvl l USING (doc_id)
         |ORDER BY doc_id""".stripMargin)((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.curateIncremental(
          docs.filter(col("doc_id") % 10 =!= 3),
          docs.filter(col("doc_id") % 10 === 3),
          "doc_id", "text", shingleN = 3, numHashes = 16, rowsPerBand = 8, threshold = 0.5)
        .orderBy(col("doc_id"))
    }),
    // end-to-end curation chain (clean → quality → dedup → sample) in
    // one lazy plan; re-keyed copies seed the duplicate tier (negative
    // re-key — see dedup_profile — so the seeding stays collision-free
    // when the same query runs on inflated corpora)
    // composed curation chain; the duplicate tier is exercised by the
    // seeded re-keyed copies (doc_id % 13 == 0 re-inserted at the
    // collision-free negative re-key -(doc_id)-1)
    Query("pipeline_curate", s"""WITH seeded AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT -doc_id - 1 AS doc_id, text FROM documents WHERE doc_id % 13 = 0),
         |${OracleSql.cleanCtes("cl", "seeded")},
         |cq_src AS (SELECT doc_id, clean_text AS text FROM cl_out WHERE n_kept > 0),
         |${OracleSql.qualityCtes("cq", "cq_src")},
         |ok AS (
         |  SELECT o.doc_id, sha256(o.clean_text) AS ch
         |  FROM cl_out o JOIN cq_r r USING (doc_id) WHERE r.reason = 'ok'),
         |reps AS (SELECT ch, min(doc_id) AS rep FROM ok GROUP BY ch),
         |wr AS (SELECT o.doc_id, r.rep FROM ok o JOIN reps r USING (ch))
         |SELECT c.doc_id,
         |  CASE WHEN c.n_kept = 0 THEN 'empty_after_clean'
         |       WHEN qr.reason <> 'ok' THEN qr.reason
         |       WHEN c.doc_id <> w.rep THEN 'duplicate'
         |       WHEN ${h32Sql("c.doc_id::VARCHAR")} % 100 >= 80 THEN 'sampled_out'
         |       ELSE 'kept' END AS verdict
         |FROM cl_out c
         |LEFT JOIN cq_r qr USING (doc_id)
         |LEFT JOIN wr w USING (doc_id)
         |ORDER BY doc_id""".stripMargin)((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val seeded = docs.unionByName(
        docs.filter(col("doc_id") % 13 === 0)
          .withColumn("doc_id", -col("doc_id") - 1))
      Curation.curate(seeded, "doc_id", "text", sep = " the ", minDocs = 3, samplePct = 80)
        .orderBy(col("doc_id"))
    }),
    // DSIR importance resampling: keep the quarter of non-English docs
    // whose hashed-unigram+bigram profile scores highest under the
    // English-docs-as-target vs raw-pool log-likelihood ratio
    // DSIR selection: hashed unigram+bigram cell counts (one pass,
    // conditional sums), 6-dp-rounded log-ratio model, per-candidate
    // weighted sum, deterministic top-quarter by the QUANTIZED
    // (round(logw, 6) DESC, doc_id) — the selected set is a total
    // function of the 6-dp artifact, not of float summation order
    Query("pipeline_dsir",
      s"""WITH tl AS (SELECT doc_id, lang = 'en' AS tgt, $toksSql AS t FROM documents),
         |gr AS (
         |  SELECT doc_id, tgt, ${h32Sql("g")} % 256 AS b
         |  FROM (SELECT doc_id, tgt, unnest(list_concat(t, ${ngramSql("t", 2)})) AS g
         |        FROM tl)),
         |bc AS (
         |  SELECT b,
         |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |    CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS cr
         |  FROM gr GROUP BY 1),
         |tot AS (SELECT sum(ct)::DOUBLE AS tt, sum(cr)::DOUBLE AS tr FROM bc),
         |m AS (
         |  SELECT b, round(ln((ct + 1.0) / (tt + 256.0))
         |    - ln((cr + 1.0) / (tr + 256.0)), 6) AS lr
         |  FROM bc, tot),
         |db AS (SELECT doc_id, b, count(*) AS c FROM gr WHERE NOT tgt GROUP BY 1, 2),
         |w AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
         |    sum(c::DOUBLE * lr) AS logw
         |  FROM db JOIN m USING (b) GROUP BY 1),
         |cnt AS (SELECT count(*) AS n FROM w),
         |sel AS (
         |  SELECT doc_id, n_grams, round(logw, 6) AS logw,
         |    row_number() OVER (ORDER BY round(logw, 6) DESC, doc_id) AS rn
         |  FROM w)
         |SELECT doc_id, n_grams, logw
         |FROM sel, cnt
         |WHERE rn <= greatest(1, CAST(floor(n * 0.25) AS BIGINT))
         |ORDER BY doc_id""".stripMargin)((s, d) =>
      Curation.dsirSelect(Tables.documents(s, d), "doc_id", "text",
        isTarget = col("lang") === "en", buckets = 256, keepFrac = 0.25)),
    // THE integration surface a production corpus build runs, composed
    // as ONE oracle-checked chain (r18 verdict item 7): clean →
    // quality gate → keep-best near-dup dedup → DSIR threshold select
    // (en survivors are the target and all pass; the selected quarter
    // of non-en survivors joins them) → per-lang token-budget mix →
    // seeded epoch shuffle → sequence packing in the SHUFFLED order.
    // Every stage is the registered operator with its registered
    // knobs; what this query adds is the CROSS-OPERATOR contract
    // surface (id uniqueness, zero-token row loss, text-version
    // consistency — the class the r17 keepBest bug lived in), which
    // only an end-to-end oracle can catch. Stage boundaries carry lazy
    // localCheckpoints (the curate fan-out discipline — each stage's
    // output feeds 2+ consumers); at 100 TB each boundary is a staged
    // parquet table instead (the same chain cut with Lineage.staged —
    // staged ≡ checkpointed is pinned row-for-row in OpsSpec).
    // Packing consumes the epoch order via a synthetic monotone key
    // shard·2^40 + pos (pos is dense within shard, so lexicographic
    // (shard, pos) order is preserved for any corpus below 2^40 docs
    // per shard); packSequences' cumsum is order-key-agnostic
    // (property-tested identity for any sharding).
    // the composed end-to-end curation chain: every stage's SQL is the
    // registered operator's own oracle form, chained over the previous
    // stage's survivors (clean/quality via the shared CTE builders,
    // minhash+labels via the parameterized bodies over the
    // quality-passed cleaned corpus, DSIR/mix/shuffle/pack as the
    // pipeline_dsir / pipeline_mix_pack / pipeline_epoch_shuffle
    // fragments with the same engine-matched constants)
    Query("pipeline_e2e", s"""WITH ${OracleSql.cleanCtes("cl", "documents")},
         |cq_src AS MATERIALIZED (
         |  SELECT doc_id, clean_text AS text FROM cl_out WHERE n_kept > 0),
         |${OracleSql.qualityCtes("cq", "cq_src")},
         |qr AS MATERIALIZED (SELECT doc_id, n_tokens, reason FROM cq_r),
         |qd AS MATERIALIZED (
         |  SELECT s.doc_id, s.text FROM cq_src s JOIN qr r USING (doc_id)
         |  WHERE r.reason = 'ok'),
         |${minhashPairsBodyFrom("qd")},
         |${clusterLabelCtesFrom("qd")},
         |kb AS (
         |  -- keepBest's total order is (keep DESC, n_tokens DESC, doc_id);
         |  -- every qd member has reason = 'ok' so keep is uniformly true
         |  -- and drops out of the ranking
         |  SELECT doc_id FROM (
         |    SELECT l.doc_id,
         |      row_number() OVER (PARTITION BY l.label
         |        ORDER BY r.n_tokens DESC, l.doc_id) AS rn
         |    FROM labels l JOIN qr r USING (doc_id))
         |  WHERE rn = 1),
         |sd AS MATERIALIZED (
         |  SELECT k.doc_id, q.text, d.lang
         |  FROM kb k JOIN qd q USING (doc_id) JOIN documents d USING (doc_id)),
         |dtl AS (SELECT doc_id, lang = 'en' AS tgt, $toksSql AS t FROM sd),
         |dgr AS MATERIALIZED (
         |  SELECT doc_id, tgt, ${h32Sql("g")} % 256 AS b
         |  FROM (SELECT doc_id, tgt, unnest(list_concat(t, ${ngramSql("t", 2)})) AS g
         |        FROM dtl)),
         |dbc AS MATERIALIZED (
         |  SELECT b,
         |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |    CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS cr
         |  FROM dgr GROUP BY 1),
         |dtot AS (SELECT sum(ct)::DOUBLE AS tt, sum(cr)::DOUBLE AS tr FROM dbc),
         |dm AS (
         |  SELECT b, round(ln((ct + 1.0) / (tt + 256.0))
         |    - ln((cr + 1.0) / (tr + 256.0)), 6) AS lr
         |  FROM dbc, dtot),
         |ddb AS (SELECT doc_id, b, count(*) AS c FROM dgr WHERE NOT tgt GROUP BY 1, 2),
         |dw AS MATERIALIZED (
         |  SELECT doc_id, sum(c::DOUBLE * lr) AS logw
         |  FROM ddb JOIN dm USING (b) GROUP BY 1),
         |dcnt AS (SELECT count(*) AS n FROM dw),
         |dsel AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY round(logw, 6) DESC, doc_id) AS rn
         |    FROM dw), dcnt
         |  WHERE rn <= greatest(1, CAST(floor(n * 0.25) AS BIGINT))),
         |pool AS (
         |  SELECT doc_id, lang FROM sd WHERE lang = 'en'
         |  UNION ALL
         |  SELECT s.doc_id, s.lang FROM sd s JOIN dsel USING (doc_id)),
         |mx AS (
         |  SELECT p.doc_id, p.lang, r.n_tokens, ${h32Sql("p.doc_id::VARCHAR")} AS h
         |  FROM pool p JOIN qr r USING (doc_id) WHERE r.n_tokens > 0),
         |mw AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM mx),
         |msel AS (
         |  SELECT doc_id, lang, n_tokens FROM mw
         |  WHERE cum_before < CASE lang WHEN 'en' THEN 6000 WHEN 'zh' THEN 1500 ELSE 2000 END),
         |eo AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(hh % $epochShards AS INT) AS shard,
         |    CAST(row_number() OVER (PARTITION BY hh % $epochShards ORDER BY hh, doc_id) - 1
         |      AS BIGINT) AS pos
         |  FROM (SELECT *, ${h32Sql(s"'$epochSeed:' || CAST(doc_id AS VARCHAR)")} AS hh
         |        FROM msel)),
         |pk AS (
         |  -- CAST: see q_pack_sequences — HUGEINT window sums must not
         |  -- reach the compared output
         |  SELECT *, CAST(coalesce(sum(n_tokens) OVER (ORDER BY shard, pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
         |  FROM eo)
         |SELECT doc_id, lang, shard, pos, n_tokens,
         |  prev // 512 AS seq_start,
         |  (prev + n_tokens - 1) // 512 AS seq_end,
         |  prev % 512 AS offset
         |FROM pk
         |ORDER BY shard, pos""".stripMargin)((s, d) =>
      pipelineE2eChain(s, d, Lineage.local)),
    // reproducible training-order: seeded hash-mod shards + dense
    // within-shard positions; no global sort anywhere (the one
    // exchange is the shard exchange, per-task state is one shard)
    Query("pipeline_epoch_shuffle", s"""WITH h AS (
         |  SELECT doc_id, ${h32Sql(s"'$epochSeed:' || CAST(doc_id AS VARCHAR)")} AS hh
         |  FROM documents)
         |SELECT CAST(hh % $epochShards AS INT) AS shard,
         |  CAST(row_number() OVER (PARTITION BY hh % $epochShards ORDER BY hh, doc_id) - 1 AS BIGINT) AS pos,
         |  doc_id
         |FROM h
         |ORDER BY shard, pos""".stripMargin)((s, d) =>
      Curation.epochShuffle(Tables.documents(s, d), "doc_id",
          seed = epochSeed, nShards = epochShards)
        .orderBy(col("shard"), col("pos"))),
    // CCNet/GPT-3-style quality classifier with the countable model:
    // multinomial NB trained on the corpus' own curated split (en as
    // the reference class, the dsir convention), per-doc log-odds
    // score + quantized keep decision
    Query("pipeline_nb_quality", s"""WITH $nbScoreCtes
         |SELECT doc_id, score, score > 0 AS pred_curated
         |FROM sc
         |ORDER BY doc_id""".stripMargin)((s, d) =>
      Curation.nbQualityScore(Tables.documents(s, d), "doc_id", "text",
          isCurated = col("lang") === "en")
        .orderBy(col("doc_id"))),
    // calibration of the NB quality classifier against its training
    // label: all-integer confusion quadrants (NULL preds -> n_null),
    // each metric ONE exact-integer division rounded to 6 dp
    Query("pipeline_nb_eval", s"""WITH $nbScoreCtes,
         |${nbEvalReportSql("sc")}""".stripMargin)((s, d) =>
      Curation.nbQualityEval(Tables.documents(s, d), "doc_id", "text",
        isCurated = col("lang") === "en")),
    // calibration reliability table: integer log-odds bins vs
    // empirical curated fraction (monotone frac_cur = well-calibrated
    // scores); floor on the 6-dp-quantized score = exact boundaries
    Query("pipeline_nb_bins", s"""WITH $nbScoreCtes
         |${nbBinsReportSql("sc")}""".stripMargin)((s, d) =>
      Curation.nbCalibrationBins(Tables.documents(s, d), "doc_id", "text",
          isCurated = col("lang") === "en", lo = nbBinLo, hi = nbBinHi)
        .orderBy(col("bin"))),
    // train-once/score-forever: an incoming batch scored against the
    // STORED NB model (term-bucketed lr table + 1-row priors) — the
    // corpus tokenize/train bill was paid at model-materialization
    // time; this pass reads the batch and the vocab-sized model only
    // the stored-model batch scoring restricts the SAME score table
    // to the batch ids — model values are identical because the model
    // is the 6-dp-quantized artifact either way
    Query("pipeline_nb_inc", nbIncSql)((s, d) => {
      val tbl = nbModelIndex(s, d)
      Curation.nbScoreBatch(
          Tables.documents(s, d).filter(col("doc_id") % nbBatchMod === 0),
          "doc_id", "text", s.table(tbl), s.table(tbl + "_prior"))
        .orderBy(col("doc_id"))
    }),
    // stored-model-backed report forms (SCALING's score-once shape): the
    // batch is scored ONCE against the stored NB model and the
    // confusion/calibration reports derive from that scored table —
    // score+eval+bins share one scoring pass instead of paying the
    // in-plan corpus train bill per report
    // the stored-model report forms restrict the SAME score table to
    // the batch ids (model values are identical — the model is the
    // 6-dp-quantized artifact) and derive eval/bins over batch labels
    Query("pipeline_nb_eval_inc", s"""WITH $nbScoreCtes,
         |b AS (SELECT doc_id, score FROM sc WHERE doc_id % $nbBatchMod = 0),
         |${nbEvalReportSql("b")}""".stripMargin)((s, d) => {
      val tbl = nbModelIndex(s, d)
      val batch = Tables.documents(s, d).filter(col("doc_id") % nbBatchMod === 0)
      Curation.nbEvalFromScores(
        Curation.nbScoreBatch(batch, "doc_id", "text",
          s.table(tbl), s.table(tbl + "_prior")),
        batch.select(col("doc_id"), (col("lang") === "en").as("label")))
    }),
    Query("pipeline_nb_bins_inc", s"""WITH $nbScoreCtes,
         |b AS (SELECT doc_id, score FROM sc WHERE doc_id % $nbBatchMod = 0)
         |${nbBinsReportSql("b")}""".stripMargin)((s, d) => {
      val tbl = nbModelIndex(s, d)
      val batch = Tables.documents(s, d).filter(col("doc_id") % nbBatchMod === 0)
      Curation.nbBinsFromScores(
          Curation.nbScoreBatch(batch, "doc_id", "text",
            s.table(tbl), s.table(tbl + "_prior")),
          batch.select(col("doc_id"), (col("lang") === "en").as("label")),
          lo = nbBinLo, hi = nbBinHi)
        .orderBy(col("bin"))
    }),
    // OOV-aware crawl scoring: the model is trained on the corpus MINUS
    // the batch (so batch terms can be genuinely out-of-vocabulary) and
    // every OOV token contributes the train-time smoothed constant
    // stored in the priors artifact — the bias-correcting treatment for
    // OOV-heavy batches, fully in-plan via the stored model
    Query("pipeline_nb_oov", nbOovSql)((s, d) => {
      val tbl = nbOovModelIndex(s, d)
      Curation.nbScoreBatchOov(
          Tables.documents(s, d).filter(col("doc_id") % nbBatchMod === 0),
          "doc_id", "text", s.table(tbl), s.table(tbl + "_prior"))
        .orderBy(col("doc_id"))
    }),
    // curriculum staging: easy-to-hard quartiles of the NLL signal,
    // percentile boundaries (no global sort/ntile — see scaladoc)
    // same NLL CTEs as text_unigram_lm; quantile_cont ≡ Spark exact
    // percentile (the text_quality_adaptive parity), boundaries rounded
    // to 6 dp BEFORE the stage comparison
    Query("pipeline_curriculum",
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |dt AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2),
         |cf AS (SELECT term, count(*) AS cf FROM tok GROUP BY 1),
         |tot AS (SELECT count(*)::DOUBLE AS total FROM tok),
         |nll AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    round(sum(c::DOUBLE * -ln(greatest(cf, 5)::DOUBLE / tot.total))
         |      / sum(c)::DOUBLE, 6) AS mean_nll
         |  FROM dt JOIN cf USING (term), tot GROUP BY doc_id),
         |b AS (
         |  SELECT round(quantile_cont(mean_nll, 0.25), 6) AS b1,
         |    round(quantile_cont(mean_nll, 0.5), 6) AS b2,
         |    round(quantile_cont(mean_nll, 0.75), 6) AS b3
         |  FROM nll)
         |SELECT doc_id, n_tokens, mean_nll,
         |  CAST(CASE WHEN mean_nll <= b1 THEN 1 WHEN mean_nll <= b2 THEN 2
         |    WHEN mean_nll <= b3 THEN 3 ELSE 4 END AS BIGINT) AS stage
         |FROM nll, b ORDER BY doc_id""".stripMargin)((s, d) =>
      TextAnalysis.curriculumStages(Tables.documents(s, d), "doc_id", "text",
          minCount = 5, nStages = 4)
        .orderBy(col("doc_id"))),
    // corpus data card: the one-table profile a dataset release ships
    // (size, token mass, vocabulary, exact-dup rate, quality pass rate)
    // in long (metric, value) format — each metric is its own bounded
    // aggregate branch over the corpus; a standing deployment would
    // compute them off the already-materialized per-doc profiles
    // the data card and its layout variants share one semantics — one
    // SQL, single-sourced in OracleSql (stream_data_card is the third)
    Query("pipeline_data_card", OracleSql.dataCardSql)((s, d) => {
      val docs = Tables.documents(s, d)
      val tokStats = docs
        .select(col("doc_id"), Dedup.tokens(col("text")).as("__t"))
        .select(col("doc_id"), col("__t"), size(col("__t")).cast("long").as("__n"))
      val base = tokStats.agg(
        count(lit(1)).cast("double").as("__nd"),
        sum(col("__n")).cast("double").as("__tot"),
        round(avg(col("__n")), 6).as("__mean"))
      val vocab = tokStats.select(explode(col("__t")).as("__tok"))
        .agg(countDistinct(col("__tok")).cast("double").as("__v"))
      val clusters = docs.groupBy(sha2(col("text"), 256).as("__ch"))
        .agg(count(lit(1)).as("__cs"))
        .agg(count(lit(1)).cast("double").as("__ncl"))
      val quality = TextAnalysis.qualityFilter(docs, "doc_id", "text")
        .agg(round(avg(when(col("reason") === "ok", 1.0).otherwise(0.0)), 6).as("__okf"))
      TextAnalysis.cardRows(
        base.crossJoin(vocab).crossJoin(clusters).crossJoin(quality), Seq.empty)
    }),
    // per-source data cards: the six card metrics grouped by source —
    // the per-subset profile read next to the contamination matrix
    // before choosing mixture weights
    // the per-source card and its profile-backed layout variant share
    // one semantics — one SQL, single-sourced in OracleSql
    Query("pipeline_source_cards", OracleSql.sourceCardsSql)((s, d) =>
      TextAnalysis.sourceCards(Tables.documents(s, d), "doc_id", "text", "source")),
    // the data card derived from the STORED per-doc profiles (same six
    // metrics, same oracle): a card refresh aggregates two narrow
    // tables — the tokenize passes and the quality cascade were paid
    // once, at profile-materialization time
    Query("pipeline_data_card_inc", OracleSql.dataCardSql)((s, d) => {
      val tbl = docProfileIndex(s, d)
      TextAnalysis.dataCardFromProfiles(s.table(tbl), s.table(tbl + "_vocab"))
    }),
    // per-source cards from the SAME stored profiles (plus the
    // (source, term) side table): the card-refresh economics of
    // pipeline_data_card_inc extended to the per-subset report — only
    // the id-sized (doc_id, source) metadata column is read from the
    // corpus, never the text
    Query("pipeline_source_cards_inc", OracleSql.sourceCardsSql)((s, d) => {
      val tbl = docProfileIndex(s, d)
      TextAnalysis.sourceCardsFromProfiles(s.table(tbl),
        Tables.documents(s, d).select(col("doc_id"), col("source")),
        s.table(tbl + "_srcvocab"))
    }))
}
