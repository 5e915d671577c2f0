package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for corpus prep (SURVEY §2.9 / north-star):
  * quality stats, language ID, token counting, TF-IDF, fingerprinting.
  * All narrow transforms or single-shuffle aggregations; everything is
  * built-in expressions (codegen-friendly, oracle-expressible).
  */
object TextAnalysis {

  import Dedup.{h32, tokens}

  private val stopwordsByLang: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("的", "是", "在", "了", "和"))

  /** Per-doc quality stats: token counts, type-token ratio, average token
    * length, stopword ratio — the standard LLM-corpus quality scorers.
    */
  def qualityStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val n = size(toks).cast("long")
    val en = stopwordsByLang.toMap.apply("en")
    val stopHits = size(filter(toks, t => t.isin(en: _*))).cast("double")
    // zero-token guard: under ANSI SQL the per-token ratios would
    // throw DIVIDE_BY_ZERO on an empty/whitespace-only doc — the
    // ratios are undefined there, so they go NULL (the reason cascade
    // fires 'too_short' before ever reading them)
    docs.select(
      col(idCol).as("doc_id"),
      length(col(textCol)).cast("long").as("n_chars"),
      n.as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
      when(n > 0, round(aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        n.cast("double"), 6)).as("avg_token_len"),
      when(n > 0, round(size(array_distinct(toks)).cast("double") / n.cast("double"), 6))
        .as("type_token_ratio"),
      when(n > 0, round(stopHits / n.cast("double"), 6)).as("stopword_ratio"))
  }

  /** Heuristic language ID: stopword-profile hit-rate per language,
    * argmax with alphabetical tie-break (deterministic CASE cascade so
    * the oracle SQL is a literal transliteration).
    */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val n = greatest(size(toks).cast("double"), lit(1.0d))
    val scores: Seq[(String, Column)] = stopwordsByLang.map { case (lang, sw) =>
      lang -> (size(filter(toks, t => t.isin(sw: _*))).cast("double") / n)
    }
    val m = greatest(scores.map(_._2): _*)
    // CASE cascade in language order → alphabetically-first max wins ties
    val predFirst = scores.foldLeft(Option.empty[Column]) {
      case (None, (lang, s)) => Some(when(s === m && m > 0.0d, lit(lang)))
      case (Some(acc), (lang, s)) => Some(acc.when(s === m && m > 0.0d, lit(lang)))
    }.get.otherwise(lit("und"))
    docs.select(
      col(idCol).as("doc_id"),
      predFirst.as("pred_lang"),
      round(m, 6).as("lang_score"))
  }

  /** BPE-ish regex tokenizer: letter runs, digit runs, and
    * non-alphanumeric punctuation runs as separate tokens (the GPT-2
    * pre-tokenizer shape, ASCII simplification — identical semantics in
    * Spark's Java regex and DuckDB's RE2 for this class-only pattern).
    */
  def regexTokens(c: Column): Column =
    regexp_extract_all(lower(c), lit("[a-z]+|[0-9]+|[^a-z0-9 ]+"), lit(0))

  /** Token accounting per doc: whitespace tokens vs BPE-ish regex tokens
    * vs chars — the "how many tokens is this corpus" estimator.
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      size(tokens(col(textCol))).cast("long").as("ws_tokens"),
      size(regexTokens(col(textCol))).cast("long").as("bpe_tokens"),
      length(col(textCol)).cast("long").as("n_chars"),
      round(length(col(textCol)).cast("double") /
        greatest(size(regexTokens(col(textCol))).cast("double"), lit(1.0)), 6)
        .as("chars_per_token"))

  /** Length-bucketed inference batching: group documents of similar
    * token length into fixed-size batches and report each batch's
    * padding efficiency — the dynamic-batching prep every transformer
    * inference/training loop runs (batching by length bounds the
    * padding waste that random batching pays: a 10-token doc padded to
    * a 2000-token batch max wastes 99.5% of its rows). Buckets are
    * power-of-two token-length ranges via `length(bin(n))` —
    * integer-exact in any engine, no float log2 edge at exact powers —
    * and ranking is WITHIN a bucket (a partitioned window, never a
    * global one; at 100 TB the per-bucket rank would shard like
    * [[packSequences]]' two-phase prefix sum, documented trade).
    * Output per batch: `(len_bucket, batch_idx, n_docs, max_tokens,
    * sum_tokens, pad_frac)` where `pad_frac` is the wasted fraction of
    * the padded token matrix.
    */
  def lengthBatches(docs: DataFrame, idCol: String, textCol: String,
      batchSize: Int): DataFrame = {
    require(batchSize >= 1, s"batchSize ($batchSize) must be >= 1")
    val t = docs.select(col(idCol).as("__id"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("len_bucket", length(bin(col("n_tokens"))).cast("long"))
    val w = Window.partitionBy(col("len_bucket"))
      .orderBy(col("n_tokens").asc, col("__id").asc)
    t.withColumn("batch_idx", floor((row_number().over(w) - 1) / batchSize).cast("long"))
      .groupBy(col("len_bucket"), col("batch_idx"))
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("n_tokens")).as("sum_tokens"))
      .withColumn("pad_frac",
        round(lit(1.0) - col("sum_tokens").cast("double") /
          (col("n_docs") * col("max_tokens")).cast("double"), 6))
      .orderBy(col("len_bucket"), col("batch_idx"))
  }

  /** Per-doc repetition signals — the Gopher/C4-family quality filters
    * that catch degenerate generated/boilerplate text: fraction of the
    * doc taken by its most frequent unigram and bigram, and the
    * fraction of trigram occurrences that are repeats. High values →
    * loops, keyword stuffing, templated spam.
    *
    * Shape: one token explode per n-gram order feeding a two-level
    * aggregation (map-side combinable count per (doc, gram), then a
    * per-doc max/sum) — shuffle rows ≈ distinct grams per doc, the same
    * discipline as simHash. Docs with no bigrams/trigrams report 0.0.
    *
    * Measured-rejected design (r19): a shuffle-free PER-ROW form —
    * `array_sort` each gram array, fold a run-length maximum for the
    * top-gram count, `array_distinct` for repeats; exact output parity
    * — looked like the obvious 100-TB win (three corpus-wide gram
    * exchanges → zero) but LOST at every decade measured: sf0.1 warm
    * 3.77 s vs 1.41 s here, 5M-doc warm 407.9 s vs 268.1 s
    * (text_repetition, same session, same host). Interpreted
    * higher-order-function lambdas (a struct-accumulator fold per gram)
    * cost more than this plan's exchanges, because the exchanges were
    * never the bottleneck: the (doc, gram) count partial-aggregates
    * map-side, Tungsten hash aggregation and the gram explode are
    * whole-stage codegen'd, and the per-doc tail combine is tiny. The
    * cluster-scale story is unchanged — the shuffle volume is linear in
    * corpus grams and partition-parallel; revisit only if Spark ever
    * codegens HOF lambdas.
    *
    * Measured-rejected design (r21, twice): fusing the three n-gram
    * pipelines into ONE order-tagged explode (`transform(shingles(n),
    * g => struct(n, g))` per order, concat, group by (doc, n, g), then
    * one per-doc conditional max/sum) — exact output parity and fewer
    * jobs (text_repetition 12 → 6), but CPU and shuffle both REGRESSED
    * (text_quality CPU 1.26 → 2.4-3.0 s, shuffle 7.2 → 14.2 MB;
    * pipeline_e2e shuffle 28 → 40.6 MB): the struct-tagging transform
    * lambda is interpreted per gram and pushes the explode input out of
    * whole-stage codegen, exactly the r19 lesson above in another coat.
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__t"))
      .localCheckpoint(false)
    def gramCounts(n: Int): DataFrame =
      base.select(col("doc_id"), explode(Dedup.shingles(col("__t"), n)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val uni = gramCounts(1).groupBy(col("doc_id"))
      .agg(max(col("c")).as("__mx1"), sum(col("c")).as("n_tokens"))
    val bi = gramCounts(2).groupBy(col("doc_id"))
      .agg(max(col("c")).as("__mx2"), sum(col("c")).as("__tot2"))
    val tri = gramCounts(3).groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__d3"), sum(col("c")).as("__tot3"))
    uni.join(bi, Seq("doc_id"), "left").join(tri, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_tokens"),
        round(col("__mx1").cast("double") / col("n_tokens").cast("double"), 6)
          .as("top_unigram_frac"),
        round(coalesce(col("__mx2").cast("double") / col("__tot2").cast("double"), lit(0.0d)), 6)
          .as("top_bigram_frac"),
        round(coalesce((col("__tot3") - col("__d3")).cast("double") / col("__tot3").cast("double"),
          lit(0.0d)), 6).as("dup_trigram_frac"))
  }

  /** Gopher-style composite quality filter: join the per-doc quality
    * signals ([[qualityStats]] + [[repetitionStats]]) and apply a fixed
    * rule cascade; each doc gets `keep` plus the FIRST failing rule as
    * `reason` ("ok" when kept). Thresholds compare the ROUNDED (6 dp)
    * signal columns, so the decision is reproducible across engines and
    * runs — a float-boundary doc cannot flip sides.
    *
    * Plan shape: the two signal operators' aggregations plus one
    * doc_id equi-join; the cascade itself is a narrow projection. At
    * 100 TB the join is co-partitioned (both sides aggregate on
    * doc_id), so the filter adds no exchange beyond its inputs.
    */
  def qualityFilter(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val stats = qualityStats(docs, idCol, textCol)
    val rep = repetitionStats(docs, idCol, textCol)
      .select(col("doc_id"), col("top_unigram_frac"), col("dup_trigram_frac"))
    val joined = stats.join(rep, Seq("doc_id"))
    val reason =
      when(col("n_tokens") < 12, lit("too_short"))
        .when(col("n_tokens") > 100000, lit("too_long"))
        .when(col("avg_token_len") < 2.0 || col("avg_token_len") > 12.0, lit("token_len"))
        .when(col("stopword_ratio") < 0.01, lit("no_stopwords"))
        .when(col("top_unigram_frac") > 0.125, lit("repetitive_unigram"))
        .when(col("dup_trigram_frac") > 0.5, lit("repetitive_trigram"))
        .when(col("type_token_ratio") < 0.3, lit("low_diversity"))
        .otherwise(lit("ok"))
    joined.select(
      col("doc_id"),
      col("n_tokens"),
      col("avg_token_len"),
      col("stopword_ratio"),
      col("type_token_ratio"),
      col("top_unigram_frac"),
      col("dup_trigram_frac"),
      reason.as("reason"),
      (reason === "ok").as("keep"))
  }

  /** EXACT heavy hitters — every term with frequency > phi·N — in two
    * bounded passes, never a full-vocabulary shuffle:
    *
    *  1. a Misra-Gries sketch pass ([[graft.functions.MisraGriesAgg]],
    *     O(k) state per partial buffer) yields ≤ k candidate terms,
    *     guaranteed to include every term above N/(k+1);
    *  2. an exact count of the candidates ONLY (broadcast semi-join,
    *     group-by over ≤ k keys) filtered at phi·N.
    *
    * With k ≥ 1/phi the candidate guarantee covers the threshold, so
    * the result is EXACTLY the terms above phi·N — deterministic and
    * oracle-checkable even though the sketch itself is order-dependent.
    * This is the shape for unbounded vocabularies (URLs, n-grams) where
    * [[topTerms]]' full group-by would shuffle the whole vocab: here
    * the shuffle carries k counters per mapper in pass 1 and ≤ k keys
    * in pass 2. N rides the plan as a 1-row broadcast (lazy, same
    * discipline as tfIdf).
    */
  def heavyHitters(docs: DataFrame, idCol: String, textCol: String,
      phi: Double, sketchK: Int = 0): DataFrame = {
    require(phi > 0.0 && phi < 1.0, s"phi ($phi) must be in (0, 1)")
    val k = if (sketchK > 0) sketchK else math.ceil(2.0 / phi).toInt
    require(k >= math.ceil(1.0 / phi).toInt,
      s"sketchK ($k) must be >= 1/phi (${math.ceil(1.0 / phi).toInt}) or the " +
        "Misra-Gries guarantee no longer covers the phi threshold and true " +
        "heavy hitters could be missed")
    val toks = docs.select(explode(tokens(col(textCol))).as("term"))
    val cands = broadcast(
      toks.agg(graft.functions.MisraGriesAgg.mgCandidates(col("term"), k).as("__c"))
        .select(explode(col("__c")).as("__cand")))
    val n = broadcast(toks.agg(count(lit(1)).as("__n")))
    toks.join(cands, col("term") === col("__cand"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .crossJoin(n)
      .filter(col("cnt").cast("double") > lit(phi) * col("__n").cast("double"))
      .select(col("term"), col("cnt"))
  }

  /** Global term frequencies, ranked. */
  def topTerms(docs: DataFrame, idCol: String, textCol: String, limit: Int): DataFrame =
    docs
      .select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("term").asc)
      .limit(limit)

  /** Count–Min point-frequency estimates for the top `limit` terms,
    * next to their exact counts — the audit query for the
    * [[graft.functions.CmsAgg]] sketch (est >= exact always; the gap is
    * the collision error the width bounds). The sketch is ONE bounded
    * O(depth·width) row built map-side-combinable over the whole token
    * stream and broadcast into the probe — at 100 TB the exact-count
    * side is the expensive one (full term group-by) and exists here only
    * because this query's purpose is to measure the sketch against it;
    * production readers probe the sketch alone.
    */
  def cmsTopTerms(docs: DataFrame, idCol: String, textCol: String, limit: Int,
      depth: Int, width: Int): DataFrame = {
    import graft.functions.CmsAgg
    val toks = docs.select(explode(tokens(col(textCol))).as("term"))
    val sketch = toks.agg(CmsAgg.cmsAgg(col("term"), depth, width).as("__sk"))
    toks.groupBy(col("term")).agg(count(lit(1)).as("exact"))
      .orderBy(desc("exact"), col("term").asc)
      .limit(limit)
      .crossJoin(broadcast(sketch))
      .select(col("term"), CmsAgg.estimate(col("__sk"), col("term")).as("est"), col("exact"))
  }

  /** TF-IDF with idf = ln(N / df); top `perDoc` terms per document.
    * Two shuffles (tf group-by, df group-by) + a broadcast join of the
    * small df table — at 100 TB the df table is still ~vocab-sized.
    */
  def tfIdf(docs: DataFrame, idCol: String, textCol: String, perDoc: Int): DataFrame = {
    // N as a 1-row broadcast aggregate INSIDE the plan, not an eager
    // docs.count() at construction: the operator stays lazy (no corpus
    // scan before the job runs) and the count rides the same job. The
    // cross join is a BroadcastNestedLoopJoin against one row — free.
    val nDocs = broadcast(docs.agg(count(lit(1)).cast("double").as("__n_docs")))
    val tok = docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
    // df folds out of tf (tf has exactly one row per (doc, term), so df
    // is a plain per-term row count — the old tok.distinct() branch
    // re-tokenized the corpus: its exchange does not canonicalize equal
    // to tf's, the bm25TopK lesson), and tf is lineage-cut so both
    // consumers read one materialization of the postings.
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), "term")
      .crossJoin(nDocs)
      .withColumn("tfidf_raw",
        col("tf").cast("double") * log(col("__n_docs") / col("df").cast("double")))
    Knn.rankTopK(scored, Seq(col("doc_id")), Seq(desc("tfidf_raw"), col("term").asc),
        lit(perDoc), "r")
      .select(col("doc_id"), col("r"), col("term"), col("tf"), col("df"),
        round(col("tfidf_raw"), 6).as("tfidf"))
  }

  /** The ONE percentile-threshold expression [[adaptiveQualityFilter]]
    * and [[curriculumStages]] share: exact `percentile` (p·(n−1)
    * linear interpolation ≡ DuckDB `quantile_cont` — what makes the
    * oracles transliterations) or, with `approxAccuracy` set, the
    * 100 TB path `approx_percentile` — sketch state O(accuracy) per
    * partition regardless of distinct-value count, rank error
    * ≤ 1/accuracy, returns a corpus ELEMENT (no interpolation). Both
    * quantize to 6 dp BEFORE any comparison, the cross-engine
    * threshold discipline.
    */
  private def pctile(c: String, p: Double, approxAccuracy: Option[Int]): Column =
    round(approxAccuracy match {
      case None => expr(s"percentile($c, $p)")
      case Some(acc) =>
        require(acc >= 1, s"approxAccuracy ($acc) must be >= 1")
        expr(s"approx_percentile($c, $p, $acc)").cast("double")
    }, 6)

  /** Data-driven variant of [[qualityFilter]]: the cutoffs are corpus
    * PERCENTILES instead of fixed constants — fixed thresholds silently
    * flip from trimming tails to trimming halves when the domain shifts
    * (legal text vs chat logs have wildly different length/diversity
    * distributions); percentile cutoffs track the corpus. Keeps docs
    * inside the [pLow, pHigh] token-count band with type-token ratio
    * above its pLow percentile; first-failing reason, like the fixed
    * cascade. Thresholds are EXACT percentiles (Spark `percentile`,
    * p·(n−1) linear interpolation — the same definition as DuckDB
    * `quantile_cont`, which is what makes the oracle a transliteration),
    * rounded to 6 dp before comparison like every cascade signal, and
    * ride the plan as a 1-row broadcast aggregate (lazy — no eager
    * corpus pass at construction; the [[tfIdf]] discipline).
    *
    * Scale note: exact-percentile state is O(distinct values) per
    * partition — bounded for integer-ish signals like token counts. For
    * a continuous signal over a 100 TB corpus pass `approxAccuracy`:
    * the thresholds switch to `approx_percentile` (GK sketch, state
    * O(accuracy) per partition regardless of distinct count, rank
    * error ≤ 1/accuracy); the plan shape (per-doc stats → 1-row
    * threshold broadcast → narrow verdict projection) is unchanged
    * (spec-pinned), and verdicts can differ from the exact form only
    * for docs whose signal falls between the two variants' thresholds
    * (the rank-error band — property-tested).
    */
  def adaptiveQualityFilter(docs: DataFrame, idCol: String, textCol: String,
      pLow: Double, pHigh: Double, approxAccuracy: Option[Int] = None): DataFrame = {
    require(pLow >= 0.0 && pHigh <= 1.0 && pLow < pHigh,
      s"need 0 <= pLow < pHigh <= 1, got ($pLow, $pHigh)")
    val stats = qualityStats(docs, idCol, textCol)
    val thr = broadcast(stats.agg(
      pctile("n_tokens", pLow, approxAccuracy).as("tok_lo"),
      pctile("n_tokens", pHigh, approxAccuracy).as("tok_hi"),
      pctile("type_token_ratio", pLow, approxAccuracy).as("ttr_lo")))
    stats.crossJoin(thr)
      .withColumn("reason",
        when(col("n_tokens") < col("tok_lo"), lit("short_tail"))
          .when(col("n_tokens") > col("tok_hi"), lit("long_tail"))
          .when(col("type_token_ratio") < col("ttr_lo"), lit("low_diversity"))
          .otherwise(lit("ok")))
      .select(col("doc_id"), col("n_tokens"), col("type_token_ratio"),
        col("tok_lo"), col("tok_hi"), col("ttr_lo"), col("reason"),
        (col("reason") === "ok").as("keep"))
  }

  /** Per-doc unigram language-model scoring — the CCNet-style
    * perplexity-proxy quality signal, with the corpus as its own model:
    * for each doc, the OOV rate (tokens whose corpus frequency is below
    * `minCount`) and the mean negative log-likelihood of its tokens
    * under p(t) = corpus_count(t) / corpus_total, with rare tokens
    * floored at `minCount` so every doc scores finite. High mean NLL →
    * improbable token soup (mojibake, wordlists); unusually low →
    * templated/repetitive text. Both tails are what a pretraining
    * filter trims.
    *
    * Scale shape: one token explode feeding per-(doc, term) counts
    * (map-side combinable) joined to the corpus unigram table —
    * vocabulary-bounded, broadcast here and at production scale (a
    * 10 M-type vocab is ~100 MB) — while the 1-row corpus total rides
    * the plan as a broadcast aggregate (the [[tfIdf]] lazy-N
    * discipline: no eager scan at construction). One doc_id shuffle
    * for the final per-doc aggregation.
    */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String,
      minCount: Int): DataFrame = {
    require(minCount >= 1, s"minCount ($minCount) must be >= 1")
    val tok = docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
    // The corpus unigram table and the corpus total FOLD OUT of the
    // per-(doc, term) counts (cf = Σ c per term, total = Σ c — the same
    // integers exactly), and docTerm is lineage-cut: uncut, the three
    // consumers' exchanges do not canonicalize equal (the bm25TopK
    // lesson) and the corpus tokenize+explode ran three times (6
    // Generate subtrees in the executed plan; 1 after). The cut
    // materializes the compact per-doc feature table — the artifact a
    // production scorer stores at ingest.
    val docTerm = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val corpus = docTerm.groupBy(col("term")).agg(sum(col("c")).as("cf"))
    val total = broadcast(docTerm.agg(sum(col("c")).cast("double").as("__total")))
    docTerm.join(broadcast(corpus), "term")
      .crossJoin(total)
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        round(sum(when(col("cf") < minCount, col("c")).otherwise(lit(0L))).cast("double")
          / sum(col("c")).cast("double"), 6).as("oov_rate"),
        round(sum(col("c").cast("double") *
            -log(greatest(col("cf"), lit(minCount.toLong)).cast("double") / col("__total")))
          / sum(col("c")).cast("double"), 6).as("mean_nll"))
  }

  /** Curriculum stage assignment (Bengio et al. 2009 curriculum
    * learning, applied as data scheduling): stage 1 holds the corpus'
    * most predictable documents by the [[unigramLogProb]] CCNet-style
    * signal (lowest mean NLL — clean, fluent text), the last stage its
    * hardest (token soup, rare-term-heavy) — the easy-to-hard ordering
    * a pretraining run consumes stage by stage. Boundaries are the
    * corpus' own `i/nStages` percentiles of `mean_nll` (the
    * [[adaptiveQualityFilter]] discipline: exact `percentile` ≡ DuckDB
    * `quantile_cont`, rounded to 6 dp BEFORE comparison, riding the
    * plan as a 1-row broadcast aggregate), so the schedule tracks the
    * corpus instead of hard-coding score cutoffs; `approxAccuracy`
    * swaps in the [[pctile]] 100 TB `approx_percentile` path — the
    * boundary row stays 1-row-broadcast and mean_nll is continuous, so
    * this is the variant a full-corpus schedule actually runs.
    * Zero-token docs have no NLL and are absent, as in
    * [[unigramLogProb]] (documented).
    *
    * Scale shape = [[unigramLogProb]] (one token explode, broadcast
    * vocabulary join, one doc_id aggregation) + the 1-row boundary
    * broadcast + a narrow stage projection — NO global sort or ntile:
    * a rank-based quartile would need a single-partition window over
    * the corpus; percentile boundaries make stage assignment an
    * embarrassingly parallel comparison. Output:
    * `(doc_id, n_tokens, mean_nll, stage)`, stage in 1..nStages.
    */
  def curriculumStages(docs: DataFrame, idCol: String, textCol: String,
      minCount: Int = 5, nStages: Int = 4,
      approxAccuracy: Option[Int] = None): DataFrame = {
    require(nStages >= 2, s"nStages ($nStages) must be >= 2")
    // lazy lineage cut on the per-doc score table (the DSIR fan-out
    // discipline): the boundary aggregate AND the output rows both
    // consume it, and without the cut the tokenize+NLL chain plans
    // twice (6 parquet scans vs 0 after the cut — ReuseExchange does
    // not dedup across the broadcast-subquery boundary here). On an
    // idle host the duplicate stages overlap so wall-clock is neutral;
    // the cut halves the chain's task-time, measured ~8% wall-clock at
    // saturated local[4]/100×. One compact row per doc; SCALING.md's
    // lineage-cut site list carries the cluster (non-replicated-blocks)
    // tradeoff note.
    val scored = unigramLogProb(docs, idCol, textCol, minCount)
      .localCheckpoint(false)
    val bounds = (1 until nStages).map(i =>
      pctile("mean_nll", i.toDouble / nStages, approxAccuracy).as(s"__b$i"))
    val thr = broadcast(scored.agg(bounds.head, bounds.tail: _*))
    val stage = (1 until nStages).reverse.foldLeft(lit(nStages.toLong): Column)(
      (acc, i) => when(col("mean_nll") <= col(s"__b$i"), lit(i.toLong)).otherwise(acc))
    scored.crossJoin(thr)
      .select(col("doc_id"), col("n_tokens"), col("mean_nll"), stage.as("stage"))
  }

  /** Rolling polynomial fingerprint over the token stream:
    * fold acc = (acc*31 + h32(token)) mod 1e9+7 — order-sensitive, so
    * it distinguishes permuted docs where bag-of-words collides.
    */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      aggregate(
        tokens(col(textCol)),
        lit(0L),
        (acc, t) => pmod(acc * 31 + h32(t), lit(1000000007L))).as("fingerprint"))

  /** Sequence packing — the LLM-pretraining step that virtually
    * concatenates the corpus token stream (docs in `idCol` order) and
    * cuts it into fixed `seqLen`-token training sequences. Per doc:
    * which sequence its tokens start and end in, and the offset within
    * the starting sequence — everything a downstream writer needs to
    * place tokens. Zero-token docs are dropped (they occupy no space).
    *
    * Scale shape: a global running sum is inherently sequential, so it
    * is built in THREE levels instead of one all-rows single-partition
    * window: (1) per-shard token totals (one shuffle, map-side
    * combined); (2) shards group into SUPERSHARDS of `shardsPerSuper`
    * shards — the within-supershard prefix window is partitioned
    * (parallel, ≤ shardsPerSuper rows per task) and only the
    * supershard-total prefix runs in one task, over
    * |docs| / (docsPerShard · shardsPerSuper) rows (10^10 docs at the
    * defaults → ~10^3 rows, where the round-5 single-level shape put
    * 10^6 rows in that task); (3) a per-shard cumulative window
    * (partitioned, parallel) plus the broadcast shard offset. Result is
    * identical to the global cumsum for ANY docsPerShard/shardsPerSuper
    * (property-tested), fully lazy, no collect.
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String, seqLen: Int,
      docsPerShard: Int = 10000, shardsPerSuper: Int = 1024): DataFrame = {
    require(seqLen >= 1, s"seqLen ($seqLen) must be >= 1")
    require(docsPerShard >= 1, s"docsPerShard ($docsPerShard) must be >= 1")
    require(shardsPerSuper >= 1, s"shardsPerSuper ($shardsPerSuper) must be >= 1")
    val t = docs.select(col(idCol).cast("long").as("doc_id"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("__shard", floor(col("doc_id") / docsPerShard).cast("long"))
    // Lazy local checkpoint: this table is BOUNDED (|docs|/docsPerShard
    // rows) but fans out to two consumers (the supershard prefix and
    // the shard-offset join); without the cut, each branch re-evaluates
    // the entire upstream — scan, tokenize, and whatever pipeline feeds
    // `docs` (measured: composed mix->pack re-ran the budget selection
    // once per branch, 3x the input scan). Lazy, so plan inspection
    // stays action-free; materialization happens once, at first use.
    val shardTot = t.groupBy(col("__shard")).agg(sum(col("n_tokens")).as("__tot"))
      .withColumn("__sup", floor(col("__shard") / shardsPerSuper).cast("long"))
      .localCheckpoint(false)
    // level 2a: prefix of each shard WITHIN its supershard — partitioned
    // window, parallel across supershards
    val wWithin = Window.partitionBy(col("__sup")).orderBy(col("__shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // level 2b: prefix of supershard totals — the only sequential step,
    // bounded at #shards / shardsPerSuper rows. pmod(__sup, 1) is
    // constantly 0 but non-foldable, so the window keeps a partition
    // spec: semantically the same single partition, without WindowExec's
    // "No Partition Defined" warning firing on a table this small.
    val wSup = Window.partitionBy(pmod(col("__sup"), lit(1L))).orderBy(col("__sup"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val supOffs = shardTot.groupBy(col("__sup")).agg(sum(col("__tot")).as("__suptot"))
      .withColumn("__sup_off", coalesce(sum(col("__suptot")).over(wSup), lit(0L)))
      .select(col("__sup"), col("__sup_off"))
    val shardOffs = shardTot
      .withColumn("__within", coalesce(sum(col("__tot")).over(wWithin), lit(0L)))
      .join(broadcast(supOffs), "__sup")
      .select(col("__shard"), (col("__sup_off") + col("__within")).as("__shard_off"))
    val w = Window.partitionBy(col("__shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t.join(broadcast(shardOffs), "__shard")
      .withColumn("__prev", col("__shard_off") + coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      // integer DIV, not floor(double /): token offsets must stay exact
      // past 2^53 (a 100 TB corpus is ~2.5e13 tokens — close enough to
      // care about the representable-double cliff)
      .select(col("doc_id"), col("n_tokens"),
        expr(s"__prev DIV $seqLen").as("seq_start"),
        expr(s"(__prev + n_tokens - 1) DIV $seqLen").as("seq_end"),
        pmod(col("__prev"), lit(seqLen.toLong)).as("offset"))
  }

  /** Deterministic hash sampling + dataset mixing + split assignment —
    * the reproducible way to subsample/mix a training corpus. Membership
    * depends ONLY on the row id (h = portable-hash(id) mod 100), never
    * on `rand()`, partitioning, or execution order: reruns, retries, and
    * scale-ups select the SAME rows, different strata get different
    * per-stratum percentage `rates` (data mixing), and the train/val
    * split is carved from the same hash (h mod 10 < 8 → train) so a row
    * can never migrate between splits across runs. Narrow (filter +
    * projection) — at 100 TB this is a scan-stage predicate with zero
    * shuffle, and adding a new stratum rate re-selects supersets/subsets
    * of the previous sample rather than reshuffling membership.
    */
  def hashSampleMix(docs: DataFrame, idCol: String, stratumCol: String,
      rates: Map[String, Int], defaultRate: Int): DataFrame = {
    val h = pmod(h32(col(idCol).cast("string")), lit(100L))
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, v)) =>
      when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    docs
      .withColumn("__h", h)
      .filter(col("__h") < rate)
      .withColumn("split",
        when(pmod(col("__h"), lit(10L)) < 8, lit("train")).otherwise(lit("val")))
  }

  /** Temperature-based mixture sampling (the multilingual-pretraining
    * mix rule, e.g. mBERT/XLM-R exponent smoothing): stratum `i` gets
    * sampling weight n_i^alpha / Σ n_j^alpha, so alpha = 1 reproduces
    * the corpus proportions and alpha → 0 flattens toward uniform —
    * low-resource strata are UP-sampled relative to their share. The
    * per-stratum percentage rate is derived so the expected selected
    * fraction of the corpus is `targetFrac`, clamped to [0, 100]:
    * rate_i = clamp(round(100 · targetFrac · N · w_i / n_i), 0, 100)
    * with w_i the normalized weight and N the corpus size. Membership
    * then follows [[hashSampleMix]]'s rule (portable id hash mod 100 <
    * rate): deterministic in the ids, independent of partitioning.
    * Output: selected docs as (doc_id, stratum, rate).
    *
    * Scale shape: one count aggregate to a #strata-row table, the
    * weight normalization over that TINY table (one cross join against
    * its one-row total — both broadcast), then a broadcast rates join +
    * narrow filter over the corpus: the big side is touched by exactly
    * one scan-stage predicate, zero shuffles.
    */
  def temperatureMix(docs: DataFrame, idCol: String, stratumCol: String,
      alpha: Double, targetFrac: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha ($alpha) must be in (0, 1]")
    require(targetFrac > 0.0 && targetFrac <= 1.0,
      s"targetFrac ($targetFrac) must be in (0, 1]")
    val counts = docs.groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("__n"))
      // 6-dp rounding BEFORE the total sum: both engines then sum the
      // same rounded doubles, so stratum-order ulp drift cannot move a
      // rate across its round() boundary
      .withColumn("__w", round(pow(col("__n").cast("double"), alpha), 6))
    val tot = counts.agg(sum(col("__w")).as("__wsum"), sum(col("__n")).as("__nsum"))
    val rates = counts.crossJoin(broadcast(tot))
      .select(col("stratum"),
        least(lit(100L), greatest(lit(0L),
          round(lit(100.0) * targetFrac * col("__nsum").cast("double")
            * (col("__w") / col("__wsum")) / col("__n").cast("double"), 0)
            .cast("long"))).as("rate"))
    docs.select(col(idCol).as("doc_id"), col(stratumCol).as("stratum"))
      .join(broadcast(rates), "stratum")
      .filter(pmod(h32(col("doc_id").cast("string")), lit(100L)) < col("rate"))
      .select(col("doc_id"), col("stratum"), col("rate"))
  }

  /** Exact per-stratum quota sampling: the first `quota` rows of each
    * stratum in portable-hash order — "exactly 40 en docs, 15 zh docs"
    * where [[hashSampleMix]]'s rate filter gives only an EXPECTED count.
    * Hash order is a seeded shuffle of the stratum (membership depends
    * only on the id), so reruns and engine swaps pick the same rows.
    *
    * Scale: the rank<=literal filter compiles to WindowGroupLimit
    * (plan-pinned in PlanSpec) — each map task pre-prunes to its local
    * top-maxQuota BEFORE the stratum exchange, so the shuffle carries
    * O(maxQuota x tasks) rows, not the corpus, and the final per-stratum
    * sort ranks only those survivors. That is what makes an EXACT global
    * quota affordable at 100 TB; without the group limit the window
    * would sort every stratum in full.
    */
  def quotaSample(docs: DataFrame, idCol: String, stratumCol: String,
      quotas: Map[String, Int], defaultQuota: Int): DataFrame = {
    require(defaultQuota >= 1 && quotas.values.forall(_ >= 1),
      s"quotas must be >= 1 (got default=$defaultQuota, $quotas)")
    val maxQuota = (quotas.values.toSeq :+ defaultQuota).max
    val quota = quotas.toSeq.sortBy(_._1).foldLeft(lit(defaultQuota)) {
      case (acc, (k, v)) => when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(h32(col(idCol).cast("string")), col(idCol))
    docs
      .withColumn("rk", row_number().over(w))
      // the literal conjunct is what InferWindowGroupLimit keys on (a
      // per-stratum CASE bound alone would defeat the pre-shuffle
      // prune); the CASE conjunct then trims to each stratum's quota
      .filter(col("rk") <= lit(maxQuota) && col("rk") <= quota)
  }

  /** Deterministic weighted sampling without replacement (Efraimidis–
    * Spirakis): the top `k` docs per stratum by key `ln(u) / w`, where
    * `u` is a uniform in (0, 1] derived from the portable id hash and
    * `w` is the row's weight — each doc's inclusion odds scale with its
    * weight (token count → uniform-over-tokens, quality score →
    * quality-tilted), but the draw is a pure function of ids and
    * weights: reruns, retries, and engine swaps select the same rows.
    * Zero/NULL weights are EXCLUDED exactly (lim w→0+ of the inclusion
    * odds is 0, so the drop is the mathematically exact treatment —
    * the [[tokenBudgetSample]] convention; one empty crawl doc must not
    * abort a corpus-sized sampling job). A NEGATIVE weight has no
    * limiting interpretation — it is a caller bug and raises at
    * execution (a silent drop there would skew the sample
    * unobservably). Output: (doc_id, stratum, rk) with rk the 1-based
    * draw order within the stratum.
    *
    * Scale: same `WindowGroupLimit` shape as [[quotaSample]] — the
    * rank-over-key window has a literal bound, so every map task prunes
    * to its local top-k BEFORE the stratum exchange; the shuffle
    * carries O(k x tasks) rows, never the corpus.
    */
  def weightedSample(docs: DataFrame, idCol: String, stratumCol: String,
      weightCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    val u = (h32(col(idCol).cast("string")) + 1).cast("double") / lit(4294967296.0)
    // The negative-weight raise lives in the WHEN branch of the
    // admission predicate itself, so the guard is evaluated for every
    // input row BEFORE the row can be filtered away — Catalyst cannot
    // prune the check together with the rows it rejects.
    val admit = when(col(weightCol) < 0, raise_error(concat(
        lit(s"weightedSample: negative weight in '$weightCol' for id "),
        // coalesce: a NULL id would NULL the concat and raise an
        // unreadable "null" (the Layout.zValue lesson)
        coalesce(col(idCol).cast("string"), lit("NULL")))))
      .otherwise(col(weightCol) > 0)
    val key = log(u) / col(weightCol).cast("double")
    Knn.rankTopK(docs.filter(admit), Seq(col(stratumCol)), Seq(key.desc, col(idCol)),
        lit(k), "rk")
      .select(col(idCol).as("doc_id"), col(stratumCol).as("stratum"), col("rk").cast("int"))
  }

  /** Token-budget data mixing: select docs per stratum until each
    * stratum's TOKEN budget is met — "2B tokens of en, 500M of zh", the
    * units a pretraining mix is actually specified in, where
    * [[quotaSample]] counts docs and [[hashSampleMix]] takes a fixed
    * percentage. Selection order within a stratum is portable-hash order
    * (a deterministic shuffle: the chosen set depends only on ids,
    * token counts, and budgets — never on partitioning or execution
    * order), and the doc whose tokens cross the budget is INCLUDED
    * (greedy fill: docs are never truncated, so selected tokens
    * overshoot the budget by less than one doc). Growing a budget
    * extends the previous selection; shrinking selects a prefix of it.
    * Zero-token docs occupy no budget and are excluded. Output: one row
    * per selected doc — (doc_id, stratum, n_tokens, cum_before) where
    * cum_before is the stratum's token count ahead of this doc.
    *
    * Scale shape: a per-stratum running sum done naively is
    * `PARTITION BY stratum` — an entire domain (terabytes at 100 TB) in
    * ONE window task. Instead the prefix sum is sharded exactly like
    * [[packSequences]]: docs shard by hash-RANGE within stratum (shard
    * boundaries respect the selection order, so concatenating shards
    * reproduces the global order), then (1) per-(stratum, shard) token
    * totals are prefix-summed over the SHARD table — a per-stratum
    * window over at most 2^32/shardWidth rows; (2) a per-shard
    * cumulative window (partitioned, parallel) adds the broadcast shard
    * offset. Identical to the naive global cumsum for ANY shardWidth
    * (property-tested in TokenBudgetSpec).
    */
  def tokenBudgetSample(docs: DataFrame, idCol: String, stratumCol: String,
      textCol: String, budgets: Map[String, Long], defaultBudget: Long,
      shardWidth: Long = 1L << 24): DataFrame = {
    require(defaultBudget >= 1 && budgets.values.forall(_ >= 1),
      s"budgets must be >= 1 (got default=$defaultBudget, $budgets)")
    require(shardWidth >= 1, s"shardWidth ($shardWidth) must be >= 1")
    val budget = budgets.toSeq.sortBy(_._1).foldLeft(lit(defaultBudget)) {
      case (acc, (k, v)) => when(col("stratum") === k, lit(v)).otherwise(acc)
    }
    val t = docs.select(col(idCol).as("doc_id"), col(stratumCol).as("stratum"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"),
        h32(col(idCol).cast("string")).as("__h"))
      .filter(col("n_tokens") > 0)
      // integer DIV keeps the shard key exact and monotone in __h, so
      // (shard, __h, doc_id) sorts identically to (__h, doc_id)
      .withColumn("__shard", expr(s"__h DIV $shardWidth"))
    val offs = t.groupBy(col("stratum"), col("__shard"))
      .agg(sum(col("n_tokens")).as("__tot"))
      .withColumn("__off",
        coalesce(sum(col("__tot")).over(
          Window.partitionBy(col("stratum")).orderBy(col("__shard"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("stratum"), col("__shard"), col("__off"))
    val w = Window.partitionBy(col("stratum"), col("__shard"))
      .orderBy(col("__h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t.join(broadcast(offs), Seq("stratum", "__shard"))
      .withColumn("cum_before",
        col("__off") + coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .filter(col("cum_before") < budget)
      .select(col("doc_id"), col("stratum"), col("n_tokens"), col("cum_before"))
  }

  /** Per-doc corpus profile — the table a standing deployment
    * materializes at ingest so corpus-level reporting (the data card)
    * never re-scans text or re-runs the quality cascade:
    * `(doc_id, n_tokens, content_hash, reason, keep)`. Every doc gets
    * a row (a LEFT join onto the cascade: docs that produce no
    * repetition grams — zero tokens — carry a NULL reason, matching
    * the raw card's semantics where such docs count toward corpus
    * totals but not the quality pass rate). New docs APPEND profile
    * rows; nothing here depends on the rest of the corpus, so the
    * profile is incrementally maintainable by construction.
    */
  def docProfile(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"),
        sha2(col(textCol), 256).as("content_hash"))
      .join(qualityFilter(docs, idCol, textCol)
          .select(col("doc_id"), col("reason"), col("keep")),
        Seq("doc_id"), "left")

  /** The six-metric long-format pivot every data-card variant shares
    * (global raw, profile-backed, per-source): `agg` carries the
    * aggregated internal columns `__nd/__tot/__mean/__v/__ncl/__okf`
    * plus `keyCols`; output is `(keyCols..., metric, value)` with the
    * dup formula and metric names defined ONCE, so the card schema
    * cannot silently diverge between variants.
    */
  private[graft] def cardRows(agg: DataFrame, keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col)
    agg.select(keys :+ explode(array(
        struct(lit("n_docs").as("metric"), col("__nd").as("value")),
        struct(lit("total_ws_tokens").as("metric"), col("__tot").as("value")),
        struct(lit("mean_doc_tokens").as("metric"), col("__mean").as("value")),
        struct(lit("vocab_size").as("metric"), col("__v").as("value")),
        // empty-input guard (the qualityStats ANSI lesson): an empty
        // corpus/profile table aggregates to __nd = 0 and the dup
        // division would throw DIVIDE_BY_ZERO; the fraction is
        // undefined there, so it goes NULL and the card stays readable
        struct(lit("dup_doc_frac").as("metric"),
          when(col("__nd") > 0,
            round(lit(1.0) - col("__ncl") / col("__nd"), 6)).as("value")),
        struct(lit("quality_ok_frac").as("metric"), col("__okf").as("value"))))
        .as("r"): _*)
      .select(keys :+ col("r.metric").as("metric") :+ col("r.value").as("value"): _*)
      .orderBy((keyCols :+ "metric").map(col): _*)
  }

  /** Per-SOURCE data cards — the corpus-global card's six metrics
    * grouped by the source column: the per-subset release profile a
    * mixing decision reads NEXT TO the cross-source contamination
    * matrix (which subsets are big/clean/duplicated before choosing
    * weights). Shuffle shape, honestly: the metrics and vocab
    * branches reduce to sources × (metrics | vocab-terms) after the
    * map-side combine, but the dup-cluster branch (`countDistinct` of
    * the content hash) shuffles ~one (source, hash) row per DISTINCT
    * document — doc-count-sized, exactly like the global card's
    * cluster count; there is no cheaper exact form. dup_doc_frac is
    * WITHIN-source (exact duplicates across sources are the
    * contamination matrix's job). Every source keeps its six rows —
    * a source whose docs all tokenize empty still reports (vocab 0,
    * totals 0, NULL quality — no doc reached the cascade).
    * Output: `(source, metric, value)`, six rows per source.
    */
  def sourceCards(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String): DataFrame = {
    val tok = docs
      .select(col(srcCol).as("source"), col(idCol).as("doc_id"),
        tokens(col(textCol)).as("__t"), sha2(col(textCol), 256).as("__ch"))
      .withColumn("__n", size(col("__t")).cast("long"))
    val base = tok.groupBy(col("source")).agg(
      count(lit(1)).cast("double").as("__nd"),
      sum(col("__n")).cast("double").as("__tot"),
      round(avg(col("__n")), 6).as("__mean"),
      countDistinct(col("__ch")).cast("double").as("__ncl"))
    val vocab = tok.select(col("source"), explode(col("__t")).as("__tok"))
      .groupBy(col("source"))
      .agg(countDistinct(col("__tok")).cast("double").as("__v"))
    val quality = qualityFilter(docs, idCol, textCol)
      .join(docs.select(col(idCol).as("doc_id"), col(srcCol).as("source")), "doc_id")
      .groupBy(col("source"))
      .agg(round(avg(when(col("reason") === "ok", 1.0).otherwise(0.0)), 6).as("__okf"))
    // vocab joins LEFT: an all-empty-token source emits no vocab rows,
    // and an inner join would silently erase the whole subset from the
    // card the mixing decision reads
    cardRows(
      base.join(vocab, Seq("source"), "left")
        .withColumn("__v", coalesce(col("__v"), lit(0.0d)))
        .join(quality, Seq("source"), "left"),
      Seq("source"))
  }

  /** The corpus data card derived FROM materialized profiles — same
    * six metrics (and the same oracle) as the raw-text card, but the
    * inputs are the [[docProfile]] table and a distinct-term vocab
    * table: no text column is scanned and the quality-cascade cost
    * drops out of every card refresh (it was paid once, at ingest).
    * At 100 TB this is the difference between a dashboard query over
    * a narrow id-sized table and a full-corpus tokenize+cascade re-run
    * (measured: 113–188 s → ~1 s per refresh at the 100x smoke).
    */
  def dataCardFromProfiles(profiles: DataFrame, vocab: DataFrame): DataFrame = {
    val base = profiles.agg(
      count(lit(1)).cast("double").as("__nd"),
      sum(col("n_tokens")).cast("double").as("__tot"),
      round(avg(col("n_tokens")), 6).as("__mean"),
      countDistinct(col("content_hash")).cast("double").as("__ncl"),
      round(avg(when(col("reason") === "ok", 1.0d)
        .when(col("reason").isNotNull, 0.0d)), 6).as("__okf"))
    val v = vocab.agg(count(lit(1)).cast("double").as("__v"))
    cardRows(base.crossJoin(v), Seq.empty)
  }

  /** Per-source cards derived FROM materialized tables — the
    * [[dataCardFromProfiles]] refresh economics applied to
    * [[sourceCards]]: `profiles` is the per-doc [[docProfile]] table,
    * `docSrc` the id-sized `(doc_id, source)` corpus metadata (a
    * column-pruned scan — no text moves), `srcVocab` a `(source,
    * term)` distinct-pair table materialized beside the profile at
    * ingest. The only doc-count-sized shuffles left are the
    * profile↔source equi-join and the within-source distinct-hash
    * count — both over narrow id/hash rows; the tokenize passes and
    * the quality cascade were paid once, at ingest. `countDistinct`
    * on the vocab side keeps the count exact even when the stored
    * pair table carries append-batch duplicates (the streaming
    * accumulation case). Same output contract as [[sourceCards]]:
    * six rows per source, NULL quality for a source no doc of which
    * reached the cascade.
    */
  def sourceCardsFromProfiles(profiles: DataFrame, docSrc: DataFrame,
      srcVocab: DataFrame): DataFrame = {
    val p = profiles.join(docSrc, "doc_id")
    val base = p.groupBy(col("source")).agg(
      count(lit(1)).cast("double").as("__nd"),
      sum(col("n_tokens")).cast("double").as("__tot"),
      round(avg(col("n_tokens")), 6).as("__mean"),
      countDistinct(col("content_hash")).cast("double").as("__ncl"),
      round(avg(when(col("reason") === "ok", 1.0d)
        .when(col("reason").isNotNull, 0.0d)), 6).as("__okf"))
    val vocab = srcVocab.groupBy(col("source"))
      .agg(countDistinct(col("term")).cast("double").as("__v"))
    // LEFT for the same reason as sourceCards: an all-empty-token
    // source has no vocab pairs but must keep its six card rows
    cardRows(
      base.join(vocab, Seq("source"), "left")
        .withColumn("__v", coalesce(col("__v"), lit(0.0d))),
      Seq("source"))
  }

  /** Corpus n-gram diversity card — one row per n ∈ 1..`maxN`: total
    * and distinct gram counts, the distinct ratio (corpus-level
    * type–token ratio; the per-doc TTR in [[qualityStats]] can look
    * healthy while the CORPUS repeats whole templates — this is the
    * metric that catches it), and the Shannon entropy of the n-gram
    * distribution in bits (low unigram entropy = a few terms dominate;
    * falling entropy across snapshots = the corpus is templating up —
    * the distinct-n / self-repetition diagnostics of Li et al. 2016,
    * arXiv:1510.03055).
    *
    * Entropy uses the shuffle-free decomposition
    * `H = (ln N − Σ c·ln c / N) / ln 2` so the per-gram pass emits
    * only counts — no second pass to normalize by the total.
    *
    * Scale shape: ONE token pass explodes all n sizes together
    * (tagged structs, so the corpus is read and tokenized once), one
    * `(n, gram)` count aggregate — partial map-side combine does the
    * heavy lifting; the distinct-gram space, not the corpus, sizes the
    * shuffle — then a `maxN`-row reduce. Output rows: `maxN`.
    */
  def ngramDiversity(docs: DataFrame, textCol: String, maxN: Int = 3): DataFrame = {
    require(maxN >= 1, s"maxN ($maxN) must be >= 1")
    val grams = docs
      .select(Dedup.tokens(col(textCol)).as("__toks"))
      .select(explode(flatten(array((1 to maxN).map(n =>
        transform(Dedup.shingles(col("__toks"), n),
          g => struct(lit(n).as("n"), g.as("gram")))): _*))).as("g"))
      .select(col("g.n").as("n"), col("g.gram").as("gram"))
    grams
      .groupBy(col("n"), col("gram")).agg(count(lit(1)).as("c"))
      .groupBy(col("n"))
      .agg(
        sum(col("c")).as("__total"),
        count(lit(1)).as("distinct_grams"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("__sclc"))
      .select(
        col("n").cast("long").as("n"),
        col("__total").cast("long").as("total_grams"),
        col("distinct_grams").cast("long").as("distinct_grams"),
        round(col("distinct_grams").cast("double") / col("__total"), 6)
          .as("distinct_ratio"),
        round(
          (log(col("__total").cast("double")) - col("__sclc") / col("__total")) /
            lit(math.log(2.0)), 6).as("entropy_bits"))
      .orderBy(col("n"))
  }
}
