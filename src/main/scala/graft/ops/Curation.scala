package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation as ONE lazy plan: boilerplate removal →
  * quality cascade → exact dedup (min-id representative) → deterministic
  * hash sampling — the preprocessing chain a pretraining corpus runs,
  * composed from the engine's own operators so Catalyst optimizes
  * ACROSS stage boundaries (column pruning reaches through the whole
  * chain; the per-doc stages share the doc_id aggregation key).
  *
  * Output: one row per input doc with the verdict naming the FIRST
  * stage that dropped it, in execution order: `empty_after_clean` (all
  * segments were boilerplate) → the quality cascade's own first-failing
  * reason (`too_short` … `low_diversity`) → `duplicate` (exact
  * clean-text collision with a smaller-id doc among quality survivors)
  * → `sampled_out` (outside the deterministic hash sample) → `kept`.
  * Filter on `verdict = 'kept'` for the curated corpus.
  *
  * Scale notes: each stage keeps its own operator's shape (segment
  * doc-frequency aggregate, signal aggregations, a (doc_id, sha256)
  * shuffle for dedup, a scan predicate for sampling) — no stage
  * multiplies another's output. The cleaned text feeds three
  * consumers here; at 100 TB you materialize the cleaned corpus once
  * (it is the natural checkpoint between ingest and curation) and run
  * quality/dedup/sample over the materialized table — pass
  * `cut = Lineage.staged(stagePath)`, verdict logic unchanged.
  */
object Curation {

  /** The curation verdict per doc. Both fan-out points — the cleaned
    * corpus and the (doc_id, reason) quality table — go through `cut`:
    * [[Lineage.local]] in-plan (the small-scale form), or
    * [[Lineage.staged]] for a long 100 TB run, which materializes the
    * same two cut points as Parquet at `stagePath/{cleaned,quality}` —
    * restartable, replicated by the storage layer, and exactly what
    * downstream training-data stages ingest. Proven output-identical in
    * OpsSpec.
    */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      sep: String, minDocs: Int, samplePct: Int,
      cut: Lineage.Cut = Lineage.local): DataFrame = {
    // validate BEFORE the first cut: a staged cut writes at call time,
    // so a late require would fire only after the full cleaned corpus
    // has been computed and written (hours of work at scale for a bad
    // argument)
    require(samplePct >= 1 && samplePct <= 100,
      s"samplePct ($samplePct) must be in [1, 100]")
    // Cutting = the "materialize the cleaned corpus once" step:
    // `cleaned` fans out to THREE consumers (quality, the dedup hash,
    // the final verdict join), and because column pruning pushes a
    // different projection into each branch, their exchanges are not
    // identical — ReuseExchange cannot dedup them and every branch
    // re-runs the segment-explode + df-aggregate + reassembly
    // (measured: 4.2 s -> ~2 s at sf0.1, 144 -> ~40 parquet scans in
    // the plan). Same cut for the quality table (two consumers: the
    // dedup gate and the verdict join).
    val cleaned = cut(() => Clean.removeBoilerplate(docs, idCol, textCol, sep, minDocs),
      "cleaned")
    // quality runs only on docs that survived cleaning: the cascade's
    // signals are undefined on empty text (and the empty verdict is
    // decided before quality anyway)
    val quality = cut(() => TextAnalysis.qualityFilter(
        cleaned.filter(col("n_kept") > 0)
          .select(col("doc_id"), col("clean_text").as("text")),
        "doc_id", "text")
      .select(col("doc_id"), col("reason").as("__q_reason")), "quality")
    // exact dedup among quality survivors: representative = min doc_id
    // per clean-text hash; only (doc_id, 64-hex sha256) shuffles
    val ok = cleaned.join(quality, Seq("doc_id"))
      .filter(col("__q_reason") === "ok")
      .select(col("doc_id"), sha2(col("clean_text"), 256).as("__ch"))
    val reps = ok.groupBy(col("__ch")).agg(min(col("doc_id")).as("__rep"))
    val withRep = ok.join(reps, "__ch").select(col("doc_id"), col("__rep"))
    cleaned
      .join(quality, Seq("doc_id"), "left")
      .join(withRep, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("n_kept") === 0, lit("empty_after_clean"))
          .when(col("__q_reason") =!= "ok", col("__q_reason"))
          .when(col("doc_id") =!= col("__rep"), lit("duplicate"))
          .when(pmod(Dedup.h32(col("doc_id").cast("string")), lit(100L)) >= samplePct,
            lit("sampled_out"))
          .otherwise(lit("kept")).as("verdict"))
  }

  /** The STEADY-STATE loop [[curate]] bootstraps: curate a NEW batch
    * against the accumulated corpus. Each batch doc gets one verdict —
    * its quality cascade reason if it fails the gate, else `exact_dup`
    * / `near_dup` if [[Dedup.incrementalDedup]] ties it to a corpus doc
    * (exact tier wins when both fire), else `new`. Only quality
    * survivors pay the dedup tiers (minhash signatures are doc-local,
    * so filtering before the band join changes cost, not semantics).
    *
    * Scale: quality is the batch-sized cascade; the dedup tiers are
    * incrementalDedup's asymmetric shape — batch×corpus band join with
    * the corpus-side hot-bucket cap, never corpus×corpus. Batch-internal
    * duplicates are [[curate]]'s job on the batch itself; this operator
    * answers "what does this batch add to the corpus".
    */
  def curateIncremental(corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val b = batch.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val c = corpus.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val quality = TextAnalysis.qualityFilter(b, "doc_id", "text")
      .select(col("doc_id"), col("reason").as("__q_reason"))
    val okB = b.join(quality.filter(col("__q_reason") === "ok").select(col("doc_id")), Seq("doc_id"))
    val dupLvl = Dedup
      .incrementalDedup(c, okB, "doc_id", "text", shingleN, numHashes, rowsPerBand, threshold)
      .groupBy(col("new_id").as("doc_id"))
      .agg(max(when(col("kind") === "exact", 2).otherwise(1)).as("__dup_lvl"))
    b.select(col("doc_id"))
      .join(quality, Seq("doc_id"), "left")
      .join(dupLvl, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__q_reason") =!= "ok", col("__q_reason"))
          .when(col("__dup_lvl") === 2, lit("exact_dup"))
          .when(col("__dup_lvl") === 1, lit("near_dup"))
          .otherwise(lit("new")).as("verdict"))
  }

  /** Leakage-free train/test split: assign docs to splits BY NEAR-DUP
    * CLUSTER, not by doc — a random per-doc split puts one copy of a
    * near-duplicate pair in train and the other in test, and the
    * eval set silently overlaps the training set (the contamination
    * that [[Dedup.decontaminate]] removes after the fact; this
    * prevents it at split time). Every cluster lands wholly in one
    * split: the split key is a portable hash of the CLUSTER label
    * (`h32`, the engine-wide convention), so the assignment is
    * deterministic, reproducible across runs/engines, and extends
    * consistently when the corpus grows — docs joining an existing
    * cluster inherit its split.
    *
    * `pairs(doc_a, doc_b)` is the near-dup edge list (e.g.
    * [[Dedup.minHashLsh]] above a jaccard threshold); `trainPct` of
    * the hash space (0..100) goes to train. Singleton docs are their
    * own cluster, and a near-dup chain of any length is one cluster.
    * Scale shape = [[Dedup.clusterLabels]] (linear label propagation,
    * run to its fixed point) plus one narrow hash projection — no new
    * shuffle.
    */
  def leakFreeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      trainPct: Int): DataFrame = {
    require(trainPct >= 0 && trainPct <= 100, s"trainPct ($trainPct) must be in [0, 100]")
    Dedup.clusterLabels(docs, idCol, pairs)
      .select(col("doc_id"), col("cluster_id"),
        when(pmod(Dedup.h32(concat_ws("|", lit("split"), col("cluster_id"))), lit(100))
            < trainPct, lit("train"))
          .otherwise(lit("test")).as("split"))
  }

  /** DSIR-style data selection with importance resampling (Xie et al.
    * 2023, NeurIPS, arXiv:2302.03169): select the raw-pool documents
    * whose hashed-n-gram profile looks most like a TARGET corpus.
    * Features are unigrams + bigrams (with multiplicity) hashed into
    * `buckets` cells; both corpora fit a Laplace-smoothed bag-of-grams
    * model over the cells, and each candidate doc scores
    * `logw = Σ_grams (ln p_target(cell) − ln p_raw(cell))` — the
    * log importance weight of the doc under target vs raw. The top
    * `keepFrac` of candidates by weight is kept (the paper's
    * deterministic top-k heuristic; its Gumbel-noise resampling is the
    * same computation plus per-doc noise, a one-line variant).
    *
    * `isTarget` marks the target rows of `docs`; every NON-target row
    * with at least one token is a selection candidate (zero-token docs
    * have no features and are dropped, documented). The per-cell
    * log-ratio is rounded to 6 dp BEFORE the per-doc weighted sum, so
    * the model — like the PQ codebooks and IVF centroids — is a
    * quantized artifact both engines agree on bit-for-bit.
    *
    * Scale shape: ONE gram explode + hash pass, aggregated straight to
    * per-doc cell counts `(doc_id, cell, c)` — ≤ `buckets` rows per doc
    * (the per-doc FEATURE VECTOR a production DSIR run stores at
    * ingest). That table is lazily lineage-cut (the [[curate]]
    * fan-out discipline) because BOTH corpus models and candidate
    * weights derive from it — without the cut, Catalyst pushes each
    * branch's predicates below the shared aggregate and the
    * explode+md5 pass (the 100× cost driver: hundreds of millions of
    * md5 calls) runs twice. Cell counts then collapse to the
    * `buckets`-row broadcast model via conditional sums — one pass for
    * both corpora — and candidate weights need one more doc_id
    * aggregation. The weight table (one compact row per candidate) is
    * lineage-cut lazily — three consumers: the weight histogram and
    * the two selection filters.
    *
    * Selection is by THRESHOLD, not enumeration: `k = keepFrac·n` is a
    * CORPUS-SIZED fraction, so `orderBy(…).limit(k)` would plan as
    * `TakeOrderedAndProject` — a single-point merge holding k rows
    * from every partition at once (fine for the kNN family's constant
    * top-k; billions of rows at 100 TB here). Instead the k-th
    * boundary weight is computed as a bounded aggregate over the
    * DISTINCT quantized weights (the packSequences two-phase sharded
    * prefix-sum, PlanSpec-pinned TakeOrdered-free): per-weight counts
    * bucket by `floor(logw)` — the within-bucket cumulative window
    * partitions by bucket (parallel; ≤ 2·10^6 distinct 6-dp weights
    * per unit interval regardless of corpus size) and only the
    * bucket-total prefix runs in one task, over the handful of integer
    * buckets the weight range spans. The 1-row boundary
    * `(w*, slack)` then broadcast-filters the candidates: keep
    * `logw > w*` (a scan predicate — no sort, no merge, no shuffle)
    * plus the `slack` lowest-doc_id docs AT the boundary weight (a
    * row_number over the boundary TIE SET only — docs whose quantized
    * weights collide exactly, a handful on any real corpus; an
    * adversarially all-identical corpus degrades this slice to a
    * single-task pass over its ties, the honest cost of an exact
    * cutoff there). The selected SET is identical to the enumeration
    * form — both realize the same total order on
    * `(round(logw, 6) DESC, doc_id)` — so the oracle is unchanged;
    * and with n and k riding the plan as a 1-row aggregate there is
    * no driver count, no `k ≤ Int.MaxValue` limit, and the whole
    * operator is again ONE lazy plan.
    * Output: `(doc_id, n_grams, logw)` ordered by doc_id.
    */
  def dsirSelect(docs: DataFrame, idCol: String, textCol: String,
      isTarget: org.apache.spark.sql.Column, buckets: Int, keepFrac: Double): DataFrame = {
    require(buckets >= 2, s"buckets ($buckets) must be >= 2")
    require(keepFrac > 0.0 && keepFrac <= 1.0, s"keepFrac ($keepFrac) must be in (0, 1]")
    // tokens materialize in their own projection (the shingles contract)
    val base = docs.select(col(idCol).as("doc_id"), isTarget.as("__t"),
      Dedup.tokens(col(textCol)).as("__toks"))
    val cells = base
      .select(col("doc_id"), col("__t"),
        explode(concat(col("__toks"), Dedup.shingles(col("__toks"), 2))).as("g"))
      .select(col("doc_id"), col("__t"),
        pmod(Dedup.h32(col("g")), lit(buckets.toLong)).as("b"))
      .groupBy(col("doc_id"), col("__t"), col("b")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val cellCounts = cells.groupBy(col("b")).agg(
      sum(when(col("__t"), col("c")).otherwise(0L)).as("ct"),
      sum(when(col("__t"), 0L).otherwise(col("c"))).as("cr"))
    val totals = broadcast(cellCounts.agg(
      sum(col("ct")).cast("double").as("__tt"), sum(col("cr")).cast("double").as("__tr")))
    val model = cellCounts.crossJoin(totals)
      .select(col("b"), round(
        log((col("ct") + 1.0) / (col("__tt") + buckets.toDouble)) -
          log((col("cr") + 1.0) / (col("__tr") + buckets.toDouble)), 6).as("lr"))
    // Compare the QUANTIZED weight (then doc_id): logw is an unordered
    // float sum of c*lr terms, so near-ties at the keepFrac cutoff
    // could flip with summation order across engines/partitionings —
    // thresholding the 6-dp-rounded artifact (the same value displayed
    // and compared downstream) makes the selected SET a total function
    // of the quantized model, the repo's quantize-before-compare rule.
    val weights = cells.filter(!col("__t"))
      .join(broadcast(model), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
        round(sum(col("c").cast("double") * col("lr")), 6).as("logw"))
      .localCheckpoint(false)
    // k-th boundary weight via the per-weight histogram: two-phase
    // prefix over (integer bucket, within-bucket distinct weights) —
    // the packSequences shape, descending
    val hist = weights.groupBy(col("logw")).agg(count(lit(1)).as("__cnt"))
      .withColumn("__bk", floor(col("logw")).cast("long"))
      .localCheckpoint(false)
    // bucket-total prefix: the only sequential step, one row per
    // integer weight bucket (the weight range spans a handful of
    // units; pmod keeps a partition spec on the tiny table — the
    // packSequences idiom)
    val wBk = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(col("__bk"), lit(1L))).orderBy(col("__bk").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val bkOffs = hist.groupBy(col("__bk")).agg(sum(col("__cnt")).as("__btot"))
      .withColumn("__bk_off", coalesce(sum(col("__btot")).over(wBk), lit(0L)))
      .select(col("__bk"), col("__bk_off"))
    // within-bucket prefix: partitioned by bucket, parallel; per-task
    // state bounded by the distinct 6-dp weights inside one unit
    // interval, independent of corpus size
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__bk")).orderBy(col("logw").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = hist.join(broadcast(bkOffs), "__bk")
      .withColumn("__above", col("__bk_off") + coalesce(sum(col("__cnt")).over(wIn), lit(0L)))
    // n and k ride the plan as a 1-row aggregate — no driver count, no
    // Int.MaxValue ceiling; the boundary weight is the unique w* with
    // cum_above(w*) < k <= cum_above(w*) + cnt(w*)
    val tot = broadcast(hist.agg(sum(col("__cnt")).as("__n")))
    // Lazy local checkpoint on the 1-row boundary: it feeds TWO joins
    // (above / atBoundary), and Catalyst inlines the sub-plan into each
    // — ReusedExchange did NOT canonicalize the two copies across the
    // upstream checkpoint cuts (verified in the executed plan: the
    // histogram windows + totals ran twice per action). The cut
    // materializes the boundary once; each branch then broadcasts a
    // 1-row ExistingRDD. NOTE: "lazy" defers only the final stage —
    // under AQE (on by default) localCheckpoint(false) executes every
    // UPSTREAM shuffle stage at construction (AdaptiveSparkPlanExec
    // materializes stages inside execute()), so calling dsirSelect
    // launches the histogram/prefix work before any action; do not
    // construct this plan on a conditional/explain-only path expecting
    // it to be free.
    val boundary = broadcast(cum.crossJoin(tot)
      .withColumn("__k", greatest(lit(1L),
        floor(col("__n") * lit(keepFrac)).cast("long")))
      .filter(col("__above") < col("__k") && col("__k") <= col("__above") + col("__cnt"))
      .select(col("logw").as("__wstar"), (col("__k") - col("__above")).as("__slack"))
      .localCheckpoint(false))
    // strictly-above docs pass on a broadcast scan predicate; the
    // boundary TIE SET (exact 6-dp collisions only) takes a ranked
    // slice by doc_id — __wstar is non-foldable, so the window keeps a
    // partition spec over the tie rows alone
    val above = weights.join(boundary, col("logw") > col("__wstar"))
      .select(col("doc_id"), col("n_grams"), col("logw"))
    val wTie = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__wstar")).orderBy(col("doc_id"))
    val atBoundary = weights.join(boundary, col("logw") === col("__wstar"))
      .withColumn("__rn", row_number().over(wTie))
      .filter(col("__rn") <= col("__slack"))
      .select(col("doc_id"), col("n_grams"), col("logw"))
    above.unionByName(atBoundary).orderBy(col("doc_id"))
  }

  /** Deterministic seeded EPOCH SHUFFLE + sharding — the reproducible
    * training-order verb: every epoch's data order must be (a) a
    * fresh pseudo-random permutation per seed, (b) bit-reproducible
    * for restarts/reruns, (c) computable WITHOUT a global sort. Each
    * doc gets `shard = h mod nShards` and a dense 0-based `pos` within
    * its shard by ascending `h` (`h` = the portable 32-bit hash of
    * `"<seed>:<doc_id>"`, ties broken by doc_id) — the training loader
    * reads shards in shard order, positions in pos order, and any
    * worker can recompute its own shard's order independently.
    *
    * Deliberately NOT a global `orderBy(h)` + row_number (a
    * single-partition window — the PlanAudit ban — or a range
    * exchange whose row_number still needs a global prefix): hash-mod
    * sharding is embarrassingly parallel, and the within-shard window
    * partitions by `shard`, so the ONE exchange is the shard exchange
    * and per-task window state is one shard. `nShards` is the scale
    * knob: pick corpus_size / target_shard_size (file-sized shards, ≥
    * cluster parallelism) so shards stay bounded at any corpus — the
    * same contract as a production WebDataset/Arrow shard layout. A
    * cross-SHARD global position, if ever needed, is
    * `pos * nShards + shard`-free: it needs the packSequences two-phase
    * sharded prefix-sum, not a bigger window.
    *
    * Output: `(shard, pos, doc_id)`, one row per doc.
    *
    * CONTRACT: `idCol` must be UNIQUE over `docs` (the
    * [[graft.ops.Bpe.applyMerges]] contract): d copies of one id get
    * the SAME hash, so the within-shard ordering of the copies is an
    * arbitrary tie-break — d rows with d distinct `pos` values in an
    * order that can differ across runs, silently breaking
    * reproducibility (the one property this verb exists to provide).
    * Callers with possibly-duplicated ids must dedup first; this
    * method does NOT `distinct` for them (an id-sized exchange every
    * honest caller would pay).
    */
  def epochShuffle(docs: DataFrame, idCol: String, seed: String,
      nShards: Int): DataFrame = {
    require(nShards >= 1, s"epochShuffle: nShards ($nShards) must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("__h"), col("doc_id"))
    docs.select(col(idCol).as("doc_id"))
      .withColumn("__h", Dedup.h32(concat(lit(seed + ":"), col("doc_id").cast("string"))))
      .withColumn("shard", (col("__h") % nShards).cast("int"))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .select(col("shard"), col("pos"), col("doc_id"))
  }

  /** Naive-Bayes QUALITY CLASSIFIER — the CCNet/GPT-3 "reference
    * corpus vs crawl" filter with the countable model: train
    * multinomial NB (add-1 smoothing over the joint vocabulary) on
    * the `isCurated` split of the corpus itself, score every doc by
    * its token log-odds `Σ c(t)·[ln P(t|cur) − ln P(t|web)] +
    * ln(prior ratio)`, and flag `pred_curated = score > 0`. The
    * trained artifact is exactly what GPT-3's quality filtering used
    * a logistic classifier for — NB's closed-form counts make the
    * model a deterministic aggregate instead of an iterative fit, so
    * the whole train+score pass is ONE lazy plan and oracle-checkable.
    *
    * Determinism discipline: the per-term log-ratio is quantized to
    * 6 dp BEFORE the per-doc sum (the summands are bit-identical
    * across engines; only addition order remains, absorbed by the
    * final 6-dp round — the dsirSelect precedent), and the keep
    * decision compares the QUANTIZED score, so a float-boundary doc
    * cannot flip sides. A corpus whose split leaves either class
    * EMPTY has no likelihood ratio: score is NULL for every doc (both
    * engines, by the same CASE guard) instead of an engine-dependent
    * ±Inf.
    *
    * Scale shape ([[graft.ops.TextAnalysis.unigramLogProb]]'s family):
    * the token explode feeds TWO aggregations — per-term class counts
    * (map-side combined straight down to vocabulary size: a tiny
    * shuffle) and per-(doc, term) counts (the one corpus-sized
    * shuffle). The 1-row totals and priors ride the plan as broadcast
    * aggregates; the vocab-sized log-ratio table broadcast-joins the
    * per-(doc, term) counts; ONE doc_id shuffle for the score
    * aggregation, LEFT-joined back so zero-token docs score on the
    * prior alone. Measured-rejected alternative: deriving the class
    * counts FROM a lazily-checkpointed (doc, term) table (one explode
    * instead of two) was ~1.4× SLOWER at 100× (39–49 s vs 29–33 s) —
    * materializing the corpus-sized count table costs more than the
    * second codegen'd explode whose output combines map-side to vocab
    * size before ever shuffling. Output: `(doc_id, score,
    * pred_curated)`.
    */
  def nbQualityScore(docs: DataFrame, idCol: String, textCol: String,
      isCurated: Column): DataFrame = {
    val (lr, priors) = nbModel(docs, idCol, textCol, isCurated)
    nbScoreBatch(docs, idCol, textCol, broadcast(lr), priors)
  }

  /** The TRAINED-model half of [[nbQualityScore]]: the vocab-sized
    * `(term, lr)` log-ratio table (6-dp quantized — the model IS the
    * quantized artifact, so any scorer of any engine reading it
    * reproduces the same summands) and the 1-row `(nd_cur, nd_web)`
    * doc-count priors. This is the pair a production pipeline
    * materializes ONCE per corpus snapshot and serves to every
    * incoming-batch scoring pass ([[nbScoreBatch]]) — the classifier
    * equivalent of the stored ANN index: training re-tokenizes the
    * corpus (the 100×-measured ~30 s bill), scoring a batch never
    * does. Store the model `bucketBy(n, term)` so batch scoring's
    * term join needs no model-side exchange AND the vocab-sized scan
    * parallelizes one task per bucket.
    *
    * The priors row also carries `oov_lr = round(ln((t_web+V)/(t_cur+V)), 6)`
    * — the add-1-smoothed log-ratio of a term NEVER seen in training,
    * recorded AT TRAINING TIME from the same totals that built the
    * model (they are not recoverable from the stored `(term, lr)`
    * table later). [[nbScoreBatchOov]] reads it in-plan; the stored
    * model stays self-contained for both OOV treatments. NULL on an
    * empty training corpus (where every score is NULL anyway).
    */
  def nbModel(docs: DataFrame, idCol: String, textCol: String,
      isCurated: Column): (DataFrame, DataFrame) = {
    val tok = docs.select(col(idCol).as("doc_id"), isCurated.as("__cur"),
      explode(Dedup.tokens(col(textCol))).as("term"))
    val termCounts = tok.groupBy(col("term")).agg(
      sum(when(col("__cur"), lit(1L)).otherwise(lit(0L))).as("c_cur"),
      sum(when(col("__cur"), lit(0L)).otherwise(lit(1L))).as("c_web"))
    val totals = broadcast(termCounts.agg(
      sum(col("c_cur")).as("t_cur"), sum(col("c_web")).as("t_web"),
      count(lit(1)).as("v")))
    val lr = termCounts.crossJoin(totals)
      .select(col("term"), round(
          log((col("c_cur") + 1).cast("double") / (col("t_cur") + col("v")).cast("double")) -
            log((col("c_web") + 1).cast("double") / (col("t_web") + col("v")).cast("double")),
          6).as("lr"))
    val priors = docs.agg(
        sum(when(isCurated, lit(1L)).otherwise(lit(0L))).as("nd_cur"),
        sum(when(isCurated, lit(0L)).otherwise(lit(1L))).as("nd_web"))
      .crossJoin(totals)
      .select(col("nd_cur"), col("nd_web"),
        round(log((col("t_web") + col("v")).cast("double") /
          (col("t_cur") + col("v")).cast("double")), 6).as("oov_lr"))
    (lr, priors)
  }

  /** The SCORING half of [[nbQualityScore]]: score `batch` against an
    * already-trained model (`(term, lr)` + 1-row priors — typically
    * [[nbModel]]'s output read back from its stored table). Same
    * output contract as [[nbQualityScore]]: `(doc_id, score,
    * pred_curated)`, zero-token docs score the prior alone,
    * empty-class priors make every score NULL. Cost is
    * batch-proportional: one tokenize pass over the batch, the term
    * join against the vocab-sized model (caller controls the join
    * strategy — pass `broadcast(model)` for a small vocab, a
    * term-bucketed stored table for a 100-TB one), ONE batch-id
    * shuffle for the score sum. The corpus never re-tokenizes —
    * that's the whole point of storing the model.
    *
    * Out-of-vocabulary contract: by default a batch term absent from
    * the model contributes ZERO to the log-odds (the inner term join
    * drops it) — the neutral treatment, pinned in OpsSpec, and the
    * right bias-free default when train and serve distributions match.
    * Crawl batches are OOV-HEAVY, and zero-contribution then biases
    * every score toward the prior; pass `oovLr =
    * Some(ln((1/(t_cur+V)) / (1/(t_web+V))))` = `ln((t_web+V)/(t_cur+V))`
    * — the add-1-smoothed log-ratio of an unseen term, from the SAME
    * training totals that built the model — and every OOV token
    * contributes that constant instead (the join turns LEFT and the
    * per-doc OOV count multiplies the 6-dp-quantized constant, so
    * determinism discipline is unchanged). The totals are train-time
    * quantities: a pipeline persisting the model records the constant
    * alongside the priors row at training time, exactly like the
    * priors themselves — the stored model stays self-contained.
    *
    * CONTRACT: `idCol` must be UNIQUE over `batch` (the
    * [[graft.ops.Bpe.applyMerges]] contract): the final LEFT join
    * keys the batch against its own per-doc scores on `doc_id`, so d
    * copies of one id multiply into d² output rows — a silent row
    * explosion, not an error. Callers with possibly-duplicated ids
    * must dedup first; this method does NOT `distinct` for them
    * (an extra id-sized exchange every honest caller would pay).
    */
  def nbScoreBatch(batch: DataFrame, idCol: String, textCol: String,
      model: DataFrame, priors: DataFrame,
      oovLr: Option[Double] = None): DataFrame = {
    val tok = batch.select(col(idCol).as("doc_id"),
      explode(Dedup.tokens(col(textCol))).as("term"))
    val dt = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
    val docScores = oovLr match {
      case None =>
        dt.join(model, "term")
          .groupBy(col("doc_id"))
          .agg(sum(col("c").cast("double") * col("lr")).as("__s"))
      case Some(o) =>
        // quantize the constant like every lr summand (6 dp, HALF_UP
        // — what round(col, 6) does), so an engine re-deriving it from
        // the same totals lands on the same bits
        val o6 = BigDecimal(o).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        dt.join(model, Seq("term"), "left")
          .groupBy(col("doc_id"))
          .agg((sum(col("c").cast("double") * coalesce(col("lr"), lit(0.0d))) +
            lit(o6) * sum(when(col("lr").isNull, col("c")).otherwise(lit(0L))).cast("double"))
            .as("__s"))
    }
    val score = when(col("nd_cur") === 0 || col("nd_web") === 0,
        lit(null).cast("double"))
      .otherwise(round(coalesce(col("__s"), lit(0.0d)) +
        log(col("nd_cur").cast("double") / col("nd_web").cast("double")), 6))
    batch.select(col(idCol).as("doc_id"))
      .join(docScores, Seq("doc_id"), "left")
      .crossJoin(broadcast(priors))
      .select(col("doc_id"), score.as("score"),
        (score > 0).as("pred_curated"))
  }

  /** [[nbScoreBatch]] with the TRAIN-TIME smoothed-OOV constant read
    * from the priors artifact's `oov_lr` column ([[nbModel]] records
    * it) — the crawl-scoring form, fully in-plan: no driver read of
    * the constant, no caller plumbing of training totals. Every batch
    * term absent from the stored model contributes `oov_lr` instead
    * of zero, so an OOV-heavy batch is not silently biased toward the
    * prior. Arithmetic is the [[nbScoreBatch]] `oovLr` path with the
    * constant applied after the priors cross-join:
    * `__s = Σ c·lr(in-vocab) + oov_lr · Σ c(OOV)` — the 6-dp-quantized
    * constant times the integer OOV token count, so the determinism
    * discipline is unchanged. A NULL `oov_lr` (empty training corpus)
    * makes `__s` NULL → prior-only, which the empty-class guard turns
    * into a NULL score anyway — both engines agree on the degenerate
    * corpus, as always.
    *
    * CONTRACT: `idCol` unique over `batch` (the [[nbScoreBatch]]
    * contract — duplicate ids multiply into d² rows through the final
    * LEFT join).
    */
  def nbScoreBatchOov(batch: DataFrame, idCol: String, textCol: String,
      model: DataFrame, priors: DataFrame): DataFrame = {
    val tok = batch.select(col(idCol).as("doc_id"),
      explode(Dedup.tokens(col(textCol))).as("term"))
    val ds = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      .join(model, Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("c").cast("double") * coalesce(col("lr"), lit(0.0d))).as("__siv"),
        sum(when(col("lr").isNull, col("c")).otherwise(lit(0L))).as("__oov"))
    val s = col("__siv") + col("oov_lr") * col("__oov").cast("double")
    val score = when(col("nd_cur") === 0 || col("nd_web") === 0,
        lit(null).cast("double"))
      .otherwise(round(coalesce(s, lit(0.0d)) +
        log(col("nd_cur").cast("double") / col("nd_web").cast("double")), 6))
    batch.select(col(idCol).as("doc_id"))
      .join(ds, Seq("doc_id"), "left")
      .crossJoin(broadcast(priors))
      .select(col("doc_id"), score.as("score"),
        (score > 0).as("pred_curated"))
  }

  /** Calibration report for [[nbQualityScore]] — the confusion matrix
    * + precision/recall/F1/accuracy of the classifier's keep decision
    * against its own training label (resubstitution separability: a
    * quality filter whose train-set accuracy is near chance isn't
    * going to curate anything; the number every quality-filtering
    * paper reports before trusting the classifier's scores on crawl
    * data).
    *
    * Determinism: the confusion counts are all-integer (a doc with a
    * NULL prediction — the empty-class corpus — OR a NULL label lands
    * in `n_null`, never in a quadrant: `when(NULL && x)` falls through
    * to 0 in both engines, and `n_null` counts BOTH nullities
    * explicitly so `tp+fp+fn+tn+n_null = |docs|` always holds — no
    * row can silently fall out of every column),
    * and every ratio is ONE division of exact integers rounded to
    * 6 dp — `precision = tp/(tp+fp)`, `recall = tp/(tp+fn)`,
    * `f1 = 2·tp/(2·tp+fp+fn)` (the direct form, not a ratio of
    * rounded ratios), `accuracy = (tp+tn)/n` — so there is no float
    * summation anywhere and a zero denominator is NULL via the same
    * guard both sides.
    *
    * Scale shape: [[nbQualityScore]]'s plan plus ONE 1-row map-side
    * combinable aggregate — the eval adds no shuffle of its own.
    * Output: one row, `(tp, fp, fn, tn, n_null, prec, rec, f1, acc)`.
    */
  def nbQualityEval(docs: DataFrame, idCol: String, textCol: String,
      isCurated: Column): DataFrame =
    nbEvalFromScores(nbQualityScore(docs, idCol, textCol, isCurated),
      docs.select(col(idCol).as("doc_id"), isCurated.as("label")))

  /** [[nbQualityEval]]'s report tail over an ALREADY-SCORED table —
    * the composable form: `scored` is any `(doc_id, score,
    * pred_curated)` frame ([[nbQualityScore]] in-plan, or
    * [[nbScoreBatch]] against the stored model — the train-once
    * economics: a pipeline wanting score+eval+bins scores ONCE and
    * derives all three reports from the one scored table, instead of
    * paying the in-plan train bill per report), `labels` a `(doc_id,
    * label)` frame. Same output contract and determinism discipline
    * as [[nbQualityEval]]; the join is the only addition, and with a
    * doc_id-partitioned scored table it co-partitions with the labels
    * scan. `doc_id` must be unique on both sides (the
    * [[nbScoreBatch]] CONTRACT — duplicate ids multiply rows through
    * the join, silently inflating every quadrant).
    */
  def nbEvalFromScores(scored: DataFrame, labels: DataFrame): DataFrame = {
    val labeled = labels.select(col("doc_id"), col("label").as("__lab"))
      .join(scored, "doc_id")
    val counts = labeled.agg(
      sum(when(col("pred_curated") && col("__lab"), lit(1L)).otherwise(lit(0L))).as("tp"),
      sum(when(col("pred_curated") && !col("__lab"), lit(1L)).otherwise(lit(0L))).as("fp"),
      sum(when(!col("pred_curated") && col("__lab"), lit(1L)).otherwise(lit(0L))).as("fn"),
      sum(when(!col("pred_curated") && !col("__lab"), lit(1L)).otherwise(lit(0L))).as("tn"),
      sum(when(col("pred_curated").isNull || col("__lab").isNull, lit(1L))
        .otherwise(lit(0L))).as("n_null"))
    counts.select(col("tp"), col("fp"), col("fn"), col("tn"), col("n_null"),
      ratio6(col("tp"), col("tp") + col("fp")).as("prec"),
      ratio6(col("tp"), col("tp") + col("fn")).as("rec"),
      ratio6(lit(2L) * col("tp"), lit(2L) * col("tp") + col("fp") + col("fn")).as("f1"),
      ratio6(col("tp") + col("tn"),
        col("tp") + col("fp") + col("fn") + col("tn")).as("acc"))
  }

  /** ONE exact-integer division rounded to 6 dp, NULL on a zero
    * denominator — the determinism-critical ratio every integer-sum
    * report shares ([[nbQualityEval]], [[graft.ops.Bpe.fertility]]).
    * A single definition so the NULL convention and precision can
    * never drift between reports (mirrors the oracle-side
    * `round(x::DOUBLE / nullif(d, 0), 6)`).
    */
  private[ops] def ratio6(num: Column, den: Column): Column =
    when(den === 0, lit(null).cast("double"))
      .otherwise(round(num.cast("double") / den.cast("double"), 6))

  /** Calibration RELIABILITY table for [[nbQualityScore]] — the
    * binned companion to [[nbQualityEval]]'s single-threshold
    * confusion: docs grouped by the integer log-odds bin
    * `clamp(floor(score), lo, hi)` with the empirical curated
    * fraction per bin. A well-calibrated classifier's `frac_cur`
    * rises monotonically with the bin and crosses 0.5 near bin 0 —
    * the plot every quality-filtering pipeline inspects before
    * trusting score-proportional sampling (rather than a hard
    * threshold) on crawl data.
    *
    * Determinism: scores are already 6-dp quantized, so `floor` has
    * exact integer boundaries (no float-boundary doc can change
    * bins); bins are integer-clamped to `[lo, hi]`; `n`/`n_cur` are
    * exact counts and `frac_cur` is ONE division of them rounded to
    * 6 dp (group existence ⇒ n ≥ 1, no zero denominator). NULL-score
    * docs (the empty-class corpus) are excluded — [[nbQualityEval]]
    * counts them in `n_null`.
    *
    * Scale shape: the NB plan + one bin-key aggregate that map-side
    * combines to ≤ `hi - lo + 1` rows. Output:
    * `(bin, n, n_cur, frac_cur)`, populated bins only.
    */
  def nbCalibrationBins(docs: DataFrame, idCol: String, textCol: String,
      isCurated: Column, lo: Int = -5, hi: Int = 4): DataFrame =
    nbBinsFromScores(nbQualityScore(docs, idCol, textCol, isCurated),
      docs.select(col(idCol).as("doc_id"), isCurated.as("label")), lo, hi)

  /** [[nbCalibrationBins]]' report tail over an ALREADY-SCORED table
    * — the composable form ([[nbEvalFromScores]]' twin): score ONCE
    * (in-plan or via the stored model), derive eval AND bins from the
    * same scored table. Contracts unchanged: `scored(doc_id, score,
    * pred_curated)`, `labels(doc_id, label)`, unique `doc_id` both
    * sides, NULL-score docs excluded (they are [[nbEvalFromScores]]'
    * `n_null`).
    */
  def nbBinsFromScores(scored: DataFrame, labels: DataFrame,
      lo: Int, hi: Int): DataFrame = {
    // no default clamp range: the shared engine/oracle constants live
    // with the registry (nbBinLo/nbBinHi) and every caller passes them
    // explicitly — a third copy of the literals here is exactly the
    // drift the r17 single-sourcing fix removed
    require(lo <= hi, s"nbBinsFromScores: lo ($lo) must be <= hi ($hi)")
    labels.select(col("doc_id"), col("label").as("__lab"))
      .join(scored, "doc_id")
      .filter(col("score").isNotNull)
      .withColumn("bin",
        greatest(lit(lo.toLong), least(lit(hi.toLong), floor(col("score")))))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__lab"), lit(1L)).otherwise(lit(0L))).as("n_cur"))
      .select(col("bin"), col("n"), col("n_cur"),
        round(col("n_cur").cast("double") / col("n").cast("double"), 6).as("frac_cur"))
  }
}
