package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus deduplication operators (SURVEY §2.9 / north-star extension):
  * exact, MinHash+LSH, SimHash, and n-gram Jaccard — the standard
  * training-data dedup ladder.
  *
  * Scale design: every op is built around the LSH discipline — never
  * score all N² pairs. Exact dedup is a single hash group-by; MinHash
  * candidates come from band-bucket equi-joins (shuffle on band key, AQE
  * handles skewed buckets); SimHash pairs join on a hamming-prefix
  * bucket. Only candidate pairs are verified with exact similarity.
  *
  * Oracle portability: signatures use a 32-bit hex-prefix of md5 (same
  * bytes in Spark and DuckDB) instead of Spark's murmur3, so every
  * operator here is DuckDB-checkable end-to-end.
  */
object Dedup {

  /** Portable 32-bit hash: first 8 hex chars of md5, as BIGINT. */
  def h32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** Whitespace tokens, empty-safe (parity with DuckDB
    * `string_split(trim(x), ' ')` + non-empty filter).
    */
  def tokens(text: Column): Column =
    filter(split(trim(text), " "), t => t =!= "")

  /** Word n-gram shingles (n=1 → unigram set). For n > 1 pass a
    * PRE-MATERIALIZED token-array column (own projection), not the raw
    * split expression: higher-order-function lambdas re-evaluate
    * argument subtrees per element, so an inlined split/filter would
    * re-tokenize the text once per n-gram window.
    */
  def shingles(toks: Column, n: Int): Column =
    if (n == 1) toks
    else
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n), i => array_join(slice(toks, i + 1, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))

  /** Exact dedup: cluster table keyed by content hash
    * (`sha2` group-by; the degenerate-but-dominant case at corpus scale).
    */
  def exactClusters(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("representative"))
      .orderBy(col("content_hash"))

  /** Corpus duplication profile — the dashboard number a dedup run is
    * judged by: for each exact-cluster size, how many clusters and how
    * many docs. Duplicate fraction = 1 − Σn_clusters / Σn_docs falls
    * straight out; a heavy tail at large sizes names the
    * boilerplate/mirror problem before any near-dup pass runs. One
    * sha256 group-by feeding a cluster-size group-by — both map-side
    * combinable; the second aggregates over at most |corpus| cluster
    * rows.
    */
  def duplicationProfile(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(sha2(col(textCol), 256).as("__ch"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        (col("cluster_size") * count(lit(1))).as("n_docs"))

  /** Distinct (doc, shingle) pairs. Tokens materialize in their own
    * projection first (multi-use, non-cheap alias — CollapseProject
    * keeps the barrier, so the text is tokenized exactly once per doc).
    */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), explode(shingles(col("__toks"), n)).as("sh"))
      .distinct()

  /** Per-document n-gram CONTAMINATION COVERAGE: for each candidate
    * doc (an eval/benchmark set), the fraction of its DISTINCT word
    * n-grams already present anywhere in the reference corpus — the
    * membership decontamination score (the GPT-3-family recipe:
    * filter/flag eval examples whose n-gram overlap with training data
    * is high; [[contamination]] finds PAIRWISE near-dups, this scores
    * per-doc leakage against the corpus as a SET, catching mosaic
    * contamination no single pair explains). Plan: distinct candidate
    * (doc, gram) rows left-join the corpus's distinct gram set on the
    * gram STRING. Measured trade (100x smoke): an [[h32]] join key
    * (8 bytes/key instead of an n-word string) ran 1.5x SLOWER here —
    * one md5 per gram on both sides costs more than the key bytes
    * save on a single host; on a network-bound cluster the hash-key
    * variant may flip, so the choice is a one-line swap, recorded not
    * hard-coded. Docs with fewer than `n` tokens have no n-grams and
    * are absent from the output.
    * Output: `(doc_id, n_grams, n_seen, seen_frac)`.
    */
  def ngramCoverage(candidates: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val cand = shingleRows(candidates, idCol, textCol, n)
    // gram-level distinct directly — shingleRows' per-doc (doc_id, sh)
    // distinct would be a second full shuffle the gram-set membership
    // test doesn't need
    val corp = corpus
      .select(tokens(col(textCol)).as("__toks"))
      .select(explode(shingles(col("__toks"), n)).as("sh"))
      .distinct()
    cand.join(corp.withColumn("__hit", lit(1L)), Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_seen"))
      .select(col("doc_id"), col("n_grams"), col("n_seen"),
        round(col("n_seen").cast("double") / col("n_grams"), 6).as("seen_frac"))
  }

  /** Substring-level dedup spans — per doc, the maximal token spans
    * in which EVERY TOKEN is covered by some `n`-gram appearing in at
    * least `minDf` distinct documents (counting the doc itself, so
    * the default `minDf = 2` means "shared with at least one OTHER
    * doc"): the scalable shingle re-expression of suffix-array
    * substring dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" — their 50-token repeated substrings;
    * here the primitive is the n-token shingle). Doc-LEVEL exact
    * dedup ([[exactClusters]]) misses boilerplate shared INSIDE
    * otherwise-distinct docs; this finds it, positionally, so a
    * cleaning pass can cut the spans rather than drop the doc.
    *
    * Semantics, honestly: a span is the UNION of repeated-shingle
    * coverage, which is weaker than Lee et al.'s exact-substring
    * guarantee — a gap-merged span's interior n-grams need not repeat
    * anywhere, and the span AS A WHOLE need not appear verbatim in
    * any other single doc (its pieces may come from different docs).
    * Every n consecutive tokens of it starting at a duplicated
    * shingle position DO appear verbatim elsewhere. A consumer
    * cutting spans is removing mosaic-duplicated text, not
    * necessarily one contiguous copy.
    *
    * Plan, all linear in shingle rows — never a suffix array and
    * never all-pairs: (1) positional shingles (`posexplode`, 0-based);
    * (2) cross-doc gram frequency (`countDistinct(doc_id)` grouped by
    * the gram STRING — the [[ngramCoverage]] string-key trade), kept
    * at `>= minDf` distinct docs; (3) the doc's duplicated positions
    * merge into maximal spans by the gaps-and-islands rule
    * `gap <= n` — two duplicated shingle starts closer than n tokens
    * have overlapping or adjacent coverage, so each island [p1, p2]
    * covers exactly `p2 - p1 + n` tokens (no double count, proved by
    * the overlap bound). Windows are doc-partitioned (never global).
    * Shuffle shape: the `base` shingle subtree is evaluated TWICE
    * (under the gram groupBy and under the join-back — the two
    * exchanges project different columns, so ReuseExchange cannot
    * share them), and when the duplicated-gram set outgrows the
    * broadcast budget the join-back adds a second gram-keyed shuffle
    * of the positional rows. Recompute is the chosen trade (the repo
    * persist rule): the gram rows are wider than the text they come
    * from, so persisting `base` trades a narrow scan+codegen pass for
    * corpus-sized cache memory. Docs with no cross-doc span are
    * absent (the clean-corpus common case keeps the output
    * duplicate-sized, not corpus-sized).
    * Output: `(doc_id, n_tokens, n_spans, dup_tokens, dup_frac)`.
    */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String, n: Int,
      minDf: Int = 2): DataFrame =
    spanSummary(dupSpanRows(docs, idCol, textCol, n, minDf), n)

  /** Shared tail of [[dupSpans]] / [[dupSpansIncremental]]: island
    * rows → per-doc `(n_spans, dup_tokens, dup_frac)`.
    */
  private def spanSummary(islands: DataFrame, n: Int): DataFrame =
    islands
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("__p2") - col("__p1") + n).as("dup_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_spans"), col("dup_tokens"),
        round(col("dup_tokens").cast("double") / col("n_tokens").cast("double"), 6)
          .as("dup_frac"))
      .orderBy(col("doc_id"))

  /** Shared island merge: duplicated positional rows
    * `(doc_id, n_tokens, pos)` → merged islands under the `gap <= n`
    * rule, `(doc_id, n_tokens, __p1, __p2)`.
    */
  private def mergeIslands(dup: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dup
      .select(col("doc_id"), col("n_tokens"), col("pos").cast("long").as("pos"))
      .withColumn("__new",
        when(col("pos") - lag(col("pos"), 1).over(w) <= n, 0L).otherwise(1L))
      .withColumn("__grp", sum(col("__new")).over(wCum))
      .groupBy(col("doc_id"), col("n_tokens"), col("__grp"))
      .agg(min(col("pos")).as("__p1"), max(col("pos")).as("__p2"))
  }

  /** Positional n-gram rows `(doc_id, n_tokens, pos, g)` — the base
    * both span variants explode once per consumer.
    */
  private def spanBase(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("n_tokens"),
        posexplode(shingles(col("__toks"), n)).as(Seq("pos", "g")))

  /** The span rows behind [[dupSpans]] / [[cutDupSpans]] /
    * [[keepOneDupSpans]]: one row per merged island,
    * `(doc_id, n_tokens, __p1, __p2)` — the island covers token
    * positions `__p1 .. __p2 + n - 1`.
    *
    * SHARED-SUBTREE NOTE: each public caller derives this frame
    * independently, and it is the expensive part of the chain (corpus
    * explode → df filter → island merge; 77–112 s at 100× for the
    * whole family). A pass that needs BOTH cut variants (e.g.
    * remove-all for boilerplate + keep-one for content spans) should
    * materialize the island rows ONCE — `df.persist()` or an eager
    * `localCheckpoint` on this frame (it is duplicate-sized, far
    * smaller than the corpus) — and feed both tails from the pin,
    * instead of paying the explode+shuffle twice. Kept `private[graft]`
    * because its `__p1/__p2` schema is an internal contract; widen it
    * (with the tails) if composition from outside the package is ever
    * needed.
    */
  private[graft] def dupSpanRows(docs: DataFrame, idCol: String,
      textCol: String, n: Int, minDf: Int): DataFrame = {
    require(n >= 2, s"n ($n) must be >= 2")
    require(minDf >= 2, s"minDf ($minDf) must be >= 2 (1 matches every doc)")
    val base = spanBase(docs, idCol, textCol, n)
    // minDf == 2 (every current caller): "seen in >= 2 distinct docs"
    // is exactly min(doc_id) != max(doc_id), and min/max partial-
    // aggregate map-side over the RAW positional rows — one exchange
    // of (g, min, max) partials instead of count(distinct)'s two-phase
    // plan (a (g, doc_id) dedup exchange of every distinct pair, then
    // a second exchange on g). Higher thresholds keep the exact
    // distinct count.
    val dupGrams =
      if (minDf == 2)
        base.groupBy(col("g"))
          .agg(min(col("doc_id")).as("__lo"), max(col("doc_id")).as("__hi"))
          .filter(col("__lo") =!= col("__hi"))
          .select(col("g"))
      else
        base.groupBy(col("g"))
          .agg(countDistinct(col("doc_id")).as("__df"))
          .filter(col("__df") >= minDf)
          .select(col("g"))
    mergeIslands(base.join(dupGrams, "g"), n)
  }

  /** Corpus gram document frequencies — the STORED side of
    * [[dupSpansIncremental]]: one row per distinct n-gram with the
    * count of distinct docs containing it. A standing deployment
    * materializes this at ingest (`bucketBy` on `g` so per-batch
    * probes never re-shuffle it) and appends/merges new batches'
    * counts.
    */
  def gramDf(corpus: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    corpus.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), explode(shingles(col("__toks"), n)).as("g"))
      .groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("df"))
      // the shingle width rides along as a constant column so
      // [[dupSpansIncremental]] can REFUSE a mismatched index instead
      // of silently under-flagging (a 7-gram table probed with 8-gram
      // keys matches nothing and looks like a clean corpus)
      .withColumn("n", lit(n))

  /** INCREMENTAL substring-dedup spans — [[dupSpans]] semantics for a
    * NEW batch against a standing corpus, without touching corpus
    * text: per new doc, the spans covered by n-grams seen in >=
    * `minDf` distinct docs of corpus ∪ batch. Provided corpus and
    * batch doc ids are disjoint, output equals `dupSpans(corpus ∪
    * batch)` restricted to batch ids (pinned in OpsSpec) — but the
    * per-increment bill is batch-sized: positional shingles of the
    * BATCH only, one batch-gram `countDistinct`, and a LEFT probe of
    * the stored [[gramDf]] table (bucketBy(g) ⇒ the corpus-sized side
    * reads with its join distribution on disk, only batch grams
    * exchange). The island merge is [[dupSpanRows]]'s; the output
    * schema is [[dupSpans]]' `(doc_id, n_tokens, n_spans, dup_tokens,
    * dup_frac)`. The stored table must come from [[gramDf]] with the
    * SAME `n`: its `n` column is checked up front (one `limit(1)`
    * read) and a mismatch raises rather than silently matching
    * nothing and reporting a clean corpus.
    */
  def dupSpansIncremental(newDocs: DataFrame, corpusGramDf: DataFrame,
      idCol: String, textCol: String, n: Int, minDf: Int = 2): DataFrame = {
    require(n >= 2, s"n ($n) must be >= 2")
    require(minDf >= 2, s"minDf ($minDf) must be >= 2 (1 matches every doc)")
    corpusGramDf.select(col("n")).limit(1).collect().headOption.foreach { r =>
      require(r.getInt(0) == n,
        s"stored gramDf was built with n=${r.getInt(0)}, probed with n=$n — " +
          "gram keys would match nothing and every corpus dup would be missed")
    }
    val base = spanBase(newDocs, idCol, textCol, n)
    val dupGrams = base.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("__bdf"))
      .join(corpusGramDf.select(col("g"), col("df").as("__cdf")), Seq("g"), "left")
      .filter(coalesce(col("__cdf"), lit(0L)) + col("__bdf") >= minDf)
      .select(col("g"))
    spanSummary(mergeIslands(base.join(dupGrams, "g"), n), n)
  }

  /** REMOVE-ALL span cutting — every doc's text with its
    * [[dupSpans]]-covered token ranges deleted: what survives is the
    * corpus's unique content. This is deliberately the strict variant
    * of Lee et al.'s keep-one-copy dedup: keep-one needs a cross-doc
    * identity for each span (undefined for mosaic coverage unions),
    * whereas remove-all is well-defined and is the right call when
    * the repeated text is boilerplate that should vanish entirely —
    * the token-level complement of [[TextAnalysis.removeBoilerplate]]
    * (which cuts repeated PARAGRAPHS). Docs with no duplicated span
    * pass through whole; a doc that is entirely duplicated text comes
    * back empty (the caller drops or keeps it by `n_kept`).
    *
    * Plan: [[dupSpanRows]] (duplicate-sized) aggregates to one small
    * span ARRAY per affected doc, equi-joined (LEFT) back to the
    * corpus on doc_id; the cut itself is a positional `filter` lambda
    * over the token array — narrow, no explode, no second corpus
    * shuffle. Output: `(doc_id, n_tokens, n_kept, clean_text)`.
    * Re-derives [[dupSpanRows]] — see its shared-subtree note when a
    * pass also runs [[keepOneDupSpans]].
    */
  def cutDupSpans(docs: DataFrame, idCol: String, textCol: String, n: Int,
      minDf: Int = 2): DataFrame = {
    val spans = dupSpanRows(docs, idCol, textCol, n, minDf)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("__p1"), col("__p2"))).as("__spans"))
    applySpanCut(docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks")),
      spans, n)
  }

  /** Shared cut tail of [[cutDupSpans]] / [[keepOneDupSpans]]: token
    * arrays LEFT-joined to per-doc span arrays, positional filter
    * lambda — narrow, no explode, no second corpus shuffle.
    */
  private def applySpanCut(toks: DataFrame, spans: DataFrame, n: Int): DataFrame = {
    val noSpans = array().cast("array<struct<__p1:long,__p2:long>>")
    toks
      .join(spans, Seq("doc_id"), "left")
      .withColumn("__spans", coalesce(col("__spans"), noSpans))
      .withColumn("__kept", filter(col("__toks"), (t, i) =>
        !exists(col("__spans"), s =>
          i.cast("long") >= s("__p1") && i.cast("long") <= s("__p2") + (n - 1))))
      .select(col("doc_id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), " ").as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** KEEP-ONE span cutting — the Lee et al. "keep one copy" variant of
    * [[cutDupSpans]]: for every duplicated span IDENTITY, the first
    * occurrence in corpus order keeps its text and every later
    * occurrence is cut. Identity is the portable [[h32]] of the
    * island's covered token slice, and "first" is the minimal
    * `(doc_id, start)` — a total order, so the winner set is
    * deterministic on any partitioning.
    *
    * Semantics, honestly: keep-one needs a cross-doc identity, which
    * the mosaic coverage unions of [[dupSpanRows]] only have when two
    * islands cover the VERBATIM-identical token run (boilerplate — the
    * overwhelmingly common case). An island whose exact extent repeats
    * nowhere (its pieces came from different docs, or gap-merging
    * produced different extents) has a singleton identity and is KEPT
    * — keep-one never removes text it cannot point at another copy
    * of. Remove-all ([[cutDupSpans]]) stays the strict variant for
    * boilerplate that should vanish entirely.
    *
    * Plan: islands (duplicate-sized) equi-join the token arrays once
    * to read their slice, one identity-keyed window picks winners
    * (`row_number` per identity — state bounded by the copy count of
    * the hottest span, never corpus-sized), and the loser spans feed
    * the same [[applySpanCut]] tail. Docs appear in the output whether
    * cut or untouched. Output: `(doc_id, n_tokens, n_kept,
    * clean_text)`. Re-derives [[dupSpanRows]] — see its
    * shared-subtree note when a pass also runs [[cutDupSpans]].
    */
  def keepOneDupSpans(docs: DataFrame, idCol: String, textCol: String, n: Int,
      minDf: Int = 2): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
    val islands = dupSpanRows(docs, idCol, textCol, n, minDf)
    val withId = islands
      .join(toks, "doc_id")
      .withColumn("__sid", h32(array_join(
        slice(col("__toks"), (col("__p1") + 1).cast("int"),
          (col("__p2") - col("__p1") + n).cast("int")), " ")))
    val w = Window.partitionBy(col("__sid")).orderBy(col("doc_id"), col("__p1"))
    val cuts = withId
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") > 1)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("__p1"), col("__p2"))).as("__spans"))
    applySpanCut(toks, cuts, n)
  }

  /** Cross-source CONTAMINATION MATRIX — the audit a multi-corpus
    * mixing run reads before blending datasets: for every ordered
    * source pair (a, b), the fraction of a's docs sharing at least
    * one distinct word n-gram with ANY doc of b. [[ngramCoverage]]
    * scores one candidate set against one corpus; this generalizes to
    * the all-pairs source matrix WITHOUT all-pairs work: the join is
    * a gram equi-join of per-doc distinct gram rows against the
    * per-SOURCE distinct gram set (corpus side ≤ n_sources rows per
    * gram), so fan-out is bounded by the source count, never by doc
    * frequency. The source-pair frame is a broadcast cross join of
    * the (tiny) source list with itself, which also surfaces
    * zero-contamination pairs explicitly. Docs with fewer than `n`
    * tokens have no grams and count only in the denominator.
    * Output: `(src_a, src_b, n_docs, n_contaminated, frac)` —
    * n_docs = a's total docs, frac rounded 6 dp.
    */
  def crossSourceContamination(docs: DataFrame, idCol: String,
      textCol: String, srcCol: String, n: Int): DataFrame = {
    // the distinct (doc, src, gram) table feeds BOTH the per-source gram
    // corpus and the probe side; uncut, the two consumers' exchanges
    // key differently ((doc,src,g) vs (src,g)) and never canonicalize
    // equal, so the tokenize+shingle explode ran twice (the bm25TopK
    // lesson) — the cut leaves one pass
    val grams = docs
      .select(col(idCol).as("doc_id"), col(srcCol).as("src"),
        tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), col("src"),
        explode(shingles(col("__toks"), n)).as("g"))
      .distinct()
      .localCheckpoint(false)
    val corpus = grams.select(col("src").as("osrc"), col("g")).distinct()
    val hits = grams.join(corpus, Seq("g"))
      .filter(col("osrc") =!= col("src"))
      .select(col("doc_id"), col("src"), col("osrc")).distinct()
      .groupBy(col("src"), col("osrc"))
      .agg(count(lit(1)).as("n_contaminated"))
    val totals = docs.groupBy(col(srcCol).as("src")).agg(count(lit(1)).as("n_docs"))
    val pairs = totals.select(col("src"))
      .crossJoin(broadcast(totals.select(col("src").as("osrc"))))
      .filter(col("src") =!= col("osrc"))
    pairs.join(totals, "src")
      .join(hits, Seq("src", "osrc"), "left")
      .select(col("src").as("src_a"), col("osrc").as("src_b"), col("n_docs"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("n_contaminated"), lit(0L)).cast("double") /
          col("n_docs"), 6).as("frac"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Universal-hash family over a 32-bit base hash: hᵢ(x) = (aᵢ·x + bᵢ)
    * mod p, p prime > 2³². aᵢ < 2²¹ keeps aᵢ·x < 2⁵³ — no BIGINT
    * overflow on either engine. ONE md5 per shingle + 16 multiply-mods
    * replaces 16 md5s per shingle (the md5 chain was the signature-stage
    * bottleneck).
    */
  val HashP = 4294967311L
  def hashA(i: Int): Long = 1L + 104729L * i
  def hashB(i: Int): Long = 12345L + 7919L * i

  /** MinHash signatures from pre-hashed shingle rows (doc_id, h):
    * `numHashes` min aggregates over the arithmetic family — pure
    * codegen'd `min((a*h+b) % p)` group-by, no custom aggregate
    * (SURVEY §7.3).
    */
  def minHashSignatures(shHashed: DataFrame, numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map(i =>
      min(pmod(lit(hashA(i)) * col("h") + lit(hashB(i)), lit(HashP))).as(s"mh$i"))
    shHashed.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** LSH band table: (doc_id, band, key) where key concatenates the
    * band's `rowsPerBand` signature values.
    */
  def lshBands(sig: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must divide evenly into bands of $rowsPerBand — " +
        "trailing signature values would be silently ignored")
    val numBands = numHashes / rowsPerBand
    val bands = (0 until numBands).map { b =>
      val key = concat_ws(",",
        (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh$i").cast("string")): _*)
      struct(lit(b).as("band"), key.as("key"))
    }
    sig.select(col("doc_id"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Default hot-bucket cap: a bucket of this size yields ~12.5M
    * candidate pairs — past the point where exact verification of one
    * degenerate bucket dominates the whole job.
    */
  val DefaultMaxBucketSize = 5000

  /** Candidate pairs: docs sharing at least one band bucket (a < b).
    * This equi-join on (band, key) is THE scale move: at 100 TB the
    * band table shuffles once and only same-bucket pairs materialize.
    *
    * Hot-bucket guard: candidate count grows QUADRATICALLY in bucket
    * size, so one viral boilerplate string shared by 10⁶ docs puts them
    * all under one (band, key) and the self-join goes to 5·10¹¹ pairs —
    * the #1 production dedup failure mode. Buckets larger than
    * `maxBucketSize` are excluded from the join (their members still
    * pair through their OTHER, non-degenerate bands; a doc hot in
    * every band is boilerplate, not a near-duplicate worth verifying).
    * The bucket-size window partitions by the same (band, key) the join
    * shuffles on, so the guard reuses that exchange instead of adding
    * one. Use [[hotBuckets]] to surface what a run would skip.
    */
  def lshCandidates(bandTable: DataFrame,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    require(maxBucketSize >= 2,
      s"maxBucketSize ($maxBucketSize) must be >= 2 — no bucket could pair")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("key"))
    val guarded = bandTable
      .withColumn("__bsz", count(lit(1)).over(w))
      .filter(col("__bsz") <= maxBucketSize)
      .select(col("doc_id"), col("band"), col("key"))
    val a = guarded.as("a")
    val b = guarded.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Diagnostic companion to the [[lshCandidates]] guard: the (band,
    * key, n_docs) buckets the candidate join would skip at
    * `maxBucketSize`, largest first. Run it on the band table of a new
    * corpus BEFORE the dedup job: a non-empty result names the
    * boilerplate keys being excluded (and is itself one cheap
    * aggregation, not a join).
    */
  def hotBuckets(bandTable: DataFrame,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    bandTable
      .groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucketSize)
      .orderBy(desc("n_docs"), col("band"), col("key"))

  /** Exact Jaccard verification of candidate pairs against the shingle
    * sets: |A∩B| via a (pair ⋈ shingle ⋈ shingle) equi-join + count, and
    * |A∪B| = |A|+|B|-|A∩B|. Join-based set intersection stays inside
    * whole-stage codegen and shuffle-parallelizes — on a corpus with
    * millions of candidate pairs this beats per-pair interpreted
    * `array_intersect` by ~10× and never materializes per-pair arrays
    * (the 100 TB-safe shape). Pairs with an empty intersection drop out
    * (jaccard 0 — LSH candidates always share ≥1 shingle in practice).
    */
  def verifyJaccard(candidates: DataFrame, shHashed: DataFrame): DataFrame = {
    // One row per doc: its SORTED shingle-hash set (64-bit ids — h32
    // collision within one pair's union is ~2⁻³²; the oracle gate would
    // catch one). Candidates join this table twice — Spark/AQE picks
    // broadcast while it fits (corpus vocab table is tiny), shuffle-hash
    // beyond that — then a codegen'd sorted-merge counts |A∩B| per pair
    // with NO (pair × shingle) row explosion: at 2.3M candidate pairs
    // this replaced two ~53M-row shuffles (42 s → ~3 s).
    val sets = shHashed
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("h"))).as("s"), count(lit(1)).as("sz"))
    val inter = graft.functions.VectorExpressions.sortedIntersectSize(col("sa"), col("sb"))
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("s").as("sa"), col("sz").as("sza")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("s").as("sb"), col("sz").as("szb")), "doc_b")
      .select(
        col("doc_a"), col("doc_b"),
        (inter.cast("double") /
          (col("sza") + col("szb") - inter).cast("double")).as("jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band → bucket
    * join → exact verify. Returns (doc_a, doc_b, jaccard).
    */
  def minHashLsh(docs: DataFrame, idCol: String, textCol: String, shingleN: Int,
      numHashes: Int, rowsPerBand: Int,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // sh feeds both the signature and verify subtrees; measured at
    // sf0.1: ReuseExchange already shares the shuffled shingle scan, and
    // an explicit persist() only slowed the query (5.3 s -> 7.7 s) by
    // forcing materialization where pipelining sufficed.
    val sh = shingleRows(docs, idCol, textCol, shingleN).withColumn("h", h32(col("sh")))
    val cands = lshCandidates(
      lshBands(minHashSignatures(sh, numHashes), numHashes, rowsPerBand), maxBucketSize)
    verifyJaccard(cands, sh)
  }

  /** 32-bit SimHash per doc: per-token hash bits weighted by token count,
    * sign-aggregated per bit position, recomposed to a BIGINT.
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokCounts = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .withColumn("h", h32(col("tok")))
    // 32 conditional-sum aggregates in ONE group-by instead of exploding
    // a bit-position row per (token, bit): the explode form shuffled
    // 32 × |doc,token| rows through an extra aggregation (8M rows at
    // sf0.1); this form is a single map-side-combinable pass.
    val bitSums = (0 until 32).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, col("c"))
        .otherwise(-col("c"))).as(s"s$b")
    }
    val composed = (0 until 32)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    tokCounts
      .groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), composed.as("simhash"))
  }

  /** SimHash near-dup pairs: bucket by the top `prefixBits` bits (the
    * scale path — only same-prefix pairs are compared), then keep pairs
    * within `maxHamming` of each other via `bit_count(xor)`.
    */
  def simHashPairs(sim: DataFrame, prefixBits: Int, maxHamming: Int): DataFrame = {
    val bucketed = sim.withColumn("bucket", shiftright(col("simhash"), 32 - prefixBits))
    val a = bucketed.as("a")
    val b = bucketed.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .withColumn("hamming", expr("bit_count(a.simhash ^ b.simhash)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), col("hamming"))
  }

  /** Connected-component labels over the near-dup pair graph by
    * min-label propagation (each round: label(d) ← min(label(d), min
    * label of neighbors)), iterated until NO label changes — then every
    * component, however long its chain, carries its minimum doc id.
    * Near-dup graphs are overwhelmingly cliques: round 1 reaches the
    * fixed point and round 2 confirms it. Capped at `maxIterations`
    * with a warning — a >cap-diameter graph means the "near-dup graphs
    * are cliques" assumption broke and the caller should look at the
    * data, not trust the labels silently. This is the production
    * OUTPUT of dedup — cluster assignments, linear in |docs| — rather
    * than the O(dups²) pair enumeration. The DuckDB oracle reaches the
    * same fixed point as a recursive closure over the edges
    * ([[graft.OracleSql.clusterLabelCtesFrom]]). `pairs` must join ids
    * of `docs` only: an id found only in `pairs` still gets a label row
    * here, while the oracle labels the docs alone.
    *
    * The convergence test adds no job: each round's aggregate also
    * carries the doc's previous label, and an `Observation` counting
    * `label < prev` (labels only ever decrease, so that IS a change)
    * is filled by the round's own eager checkpoint.
    */
  def clusterLabels(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxIterations: Int = 20): DataFrame = {
    require(maxIterations >= 1, s"maxIterations ($maxIterations) must be >= 1")
    // Iterative algorithm discipline (same reason GraphX checkpoints):
    // each round references `labels` TWICE (self ∪ neighbor-join), so an
    // uncut lineage doubles per round — every round would re-run the
    // whole upstream LSH pipeline 2^round times. `localCheckpoint(true)`
    // per round — the Pq / Bpe rule, NOT persist + count: persist pins
    // execution but leaves the LOGICAL plan doubling per round (a
    // persist-only loop over a real pair pipeline grew the plan to
    // 2^rounds copies of the upstream LSH subtree, and the DRIVER spun
    // for tens of minutes in plan walks on a 12-doc corpus), while the
    // eager checkpoint truncates each round to a leaf, so planning cost
    // is flat. Superseded rounds' blocks are released asynchronously by
    // the ContextCleaner once the old `labels` reference drops. (On a
    // cluster, executor loss invalidates a local checkpoint and fails
    // the job — the retry-from-scratch trade every iterative framework
    // makes for driver-side sanity; use reliable checkpointing if that
    // trade is wrong for the deployment.)
    // Measured-rejected (r22): dropping the per-ROUND checkpoints (edges
    // leaf only, trusting ReuseExchange to dedup the doubled label
    // subtrees) cut jobs ~12% (dedup_cluster 25→22, pipeline_e2e 90→85)
    // but REGRESSED min-CPU on 3 of 4 consumers (dedup_keep_best
    // 5.8→7.1 s, pipeline_e2e 11.7→12.6 s, same-window A/B at sf0.1)
    // and raised shuffle read — the doubled subtrees re-execute beyond
    // what ReuseExchange dedups, and the uncut plan doubles per round.
    val edges = labelEdges(pairs)
    var labels = docs.select(col(idCol).as("doc_id"), col(idCol).as("label"))
    var rounds = 0
    var changed = 1L
    while (changed > 0 && rounds < maxIterations) {
      val (next, nChanged) = labelRound(edges, labels)
      labels = next
      changed = nChanged
      rounds += 1
    }
    if (changed > 0)
      System.err.println(
        s"[graft] clusterLabels: NOT converged after $maxIterations rounds " +
          s"($changed labels still changing) — component diameter exceeds the cap; " +
          "labels are a fixed-point-in-progress, not final components")
    labels.select(col("doc_id"), col("label").as("cluster_id"))
  }

  /** The label graph's edges: both directions in ONE pass over pairs (a
    * union of two selects would embed — and therefore execute — the
    * upstream pair pipeline twice), eagerly checkpointed so the pair
    * pipeline runs exactly once and the per-round plans are
    * edge-leaf-sized.
    */
  private def labelEdges(pairs: DataFrame): DataFrame =
    pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(true)

  /** One min-label propagation round — label(d) ← min(label(d), min
    * label of neighbors) — eagerly checkpointed, so the next round's
    * plan starts from a leaf. Returns the new labels and how many of
    * them changed, counted by an `Observation` over the round's own
    * aggregate (the self rows carry the previous label), so the count
    * rides the checkpoint's job instead of a join + `count()` of its own.
    */
  private def labelRound(edges: DataFrame, labels: DataFrame): (DataFrame, Long) = {
    val nbr = edges
      .join(labels.select(col("doc_id").as("dst"), col("label")), "dst")
      .select(col("src").as("doc_id"), col("label"), lit(false).as("self"))
    val obs = Observation()
    val next = labels.select(col("doc_id"), col("label"), lit(true).as("self"))
      .union(nbr)
      .groupBy(col("doc_id"))
      .agg(min(col("label")).as("label"), min(when(col("self"), col("label"))).as("prev"))
      .observe(obs, count(when(col("label") < col("prev"), lit(1))).as("changed"))
      .select(col("doc_id"), col("label"))
      .localCheckpoint(true)
    (next, obs.get("changed").asInstanceOf[Long])
  }

  /** Keep-BEST dedup — the survivor-selection verb on top of
    * [[clusterLabels]]: per near-dup cluster, keep exactly ONE doc —
    * the one a quality-aware pipeline would keep — and report the
    * surviving corpus. Real pipelines rarely keep an arbitrary cluster
    * member: the canonical copy is the one that passes the quality
    * cascade, and among those the longest (boilerplate-stripped pages
    * lose to their full originals). Selection key is deliberately
    * all-integer/boolean — `(quality keep DESC, n_tokens DESC,
    * doc_id ASC)` — a total order with NO float boundary anywhere, so
    * the survivor SET is reproducible across engines and runs without
    * any quantization discipline.
    *
    * Plan: cluster labels (the caller's pair graph, |dups|-sized work)
    * equi-join the per-doc quality signals on doc_id, then ONE
    * cluster_id exchange shared by the member-count window and the
    * row_number selection (same partitioning ⇒ Catalyst plans one
    * Exchange for both). Cluster sizes are copy-counts — tens, not
    * corpus-sized — so per-partition window state is trivially bounded
    * at any corpus scale. Output: one row per cluster,
    * `(cluster_id, doc_id, n_tokens, n_members)` — the deduped corpus
    * with its provenance (`n_members` = how many copies collapsed).
    *
    * CONTRACT: `idCol` must be UNIQUE over `docs`: the labels then hold
    * exactly one row per doc (the [[graft.ops.Bpe.applyMerges]]
    * contract), while duplicated ids multiply through the quality join
    * and inflate `n_members` with phantom copies — silently, not as an
    * error.
    */
  def keepBest(docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame): DataFrame = {
    // LEFT join + coalesced defaults: qualityFilter emits NO row for a
    // zero-token doc (its unigram aggregate has no rows), and an inner
    // join would silently delete such docs from their clusters — a
    // whole singleton cluster of one empty doc would vanish from the
    // output, breaking the one-row-per-cluster contract. Treating the
    // missing row as (keep = false, n_tokens = 0) keeps the contract:
    // an empty doc loses to ANY scored member and survives only as the
    // min-id member of an all-empty cluster.
    val quality = TextAnalysis.qualityFilter(docs, idCol, textCol)
      .select(col("doc_id"), col("n_tokens"), col("keep"))
    val byCluster = Window.partitionBy(col("cluster_id"))
    val best = byCluster.orderBy(
      coalesce(col("keep"), lit(false)).desc,
      coalesce(col("n_tokens"), lit(0L)).desc, col("doc_id").asc)
    clusterLabels(docs, idCol, pairs)
      .join(quality, Seq("doc_id"), "left")
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .withColumn("__rn", row_number().over(best))
      .filter(col("__rn") === 1)
      .select(col("cluster_id"), col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"), col("n_members"))
  }

  /** Incremental dedup — the production shape for a GROWING corpus:
    * match a NEW batch of docs against the EXISTING corpus without ever
    * comparing corpus×corpus (that work was already paid when each
    * earlier batch arrived). Two tiers, one result:
    *
    *  - `exact`: content-hash equi-join (jaccard = 1.0 by definition);
    *  - `near`:  batch band table ⋈ corpus band table on (band, key) —
    *    an ASYMMETRIC LSH join whose cost is |batch| driven — then the
    *    usual exact-Jaccard verification of candidates, minus the pairs
    *    the exact tier already claimed.
    *
    * At 100 TB: the corpus band table is the big side (shuffled or
    * pre-bucketed once and reused across daily batches); the batch side
    * is broadcastable. The corpus side carries the hot-bucket cap — the
    * boilerplate risk lives in the accumulated corpus, and a batch doc
    * hot in EVERY corpus band is boilerplate, not a near-dup.
    * Output: (new_id, corpus_id, jaccard, kind).
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, rowsPerBand: Int, threshold: Double,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val bHash = batch.select(col(idCol).as("new_id"), sha2(col(textCol), 256).as("__ch"))
    val cHash = corpus.select(col(idCol).as("corpus_id"), sha2(col(textCol), 256).as("__ch"))
    val exact = bHash.join(cHash, "__ch")
      .select(col("new_id"), col("corpus_id"),
        lit(1.0).as("jaccard"), lit("exact").as("kind"))
    val shB = shingleRows(batch, idCol, textCol, shingleN).withColumn("h", h32(col("sh")))
    val shC = shingleRows(corpus, idCol, textCol, shingleN).withColumn("h", h32(col("sh")))
    val bandsB = lshBands(minHashSignatures(shB, numHashes), numHashes, rowsPerBand)
    // Hot-bucket cap as an EXCLUSION list, the contamination df-cap
    // discipline: only boilerplate buckets exceed the cap, so the heavy
    // set is tiny and anti-joins broadcast — the old count-over-
    // Window.partitionBy(band, key) exchanged AND sorted every corpus
    // band row just to drop a handful of buckets. The corpus band table
    // is lineage-cut first so the heavy aggregate and the probe read
    // one materialization instead of running the corpus signature
    // pipeline twice. Identical rows kept (count per bucket > cap ⟺
    // window bucket size > cap; band/key are never null).
    val bandsC = lshBands(minHashSignatures(shC, numHashes), numHashes, rowsPerBand)
      .localCheckpoint(false)
    val heavy = bandsC.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > maxBucketSize)
      .select(col("band"), col("key"))
    val cGuard = bandsC.join(heavy, Seq("band", "key"), "left_anti")
      .select(col("doc_id").as("corpus_id"), col("band"), col("key"))
    val cands = bandsB.select(col("doc_id").as("new_id"), col("band"), col("key"))
      .join(cGuard, Seq("band", "key"))
      .select(col("new_id"), col("corpus_id"))
      .distinct()
    val setsB = shB.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("h"))).as("sa"), count(lit(1)).as("sza"))
      .withColumnRenamed("doc_id", "new_id")
    val setsC = shC.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("h"))).as("sb"), count(lit(1)).as("szb"))
      .withColumnRenamed("doc_id", "corpus_id")
    val inter = graft.functions.VectorExpressions.sortedIntersectSize(col("sa"), col("sb"))
    val near = cands.join(setsB, "new_id").join(setsC, "corpus_id")
      .select(col("new_id"), col("corpus_id"),
        (inter.cast("double") /
          (col("sza") + col("szb") - inter).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .join(exact.select(col("new_id"), col("corpus_id")), Seq("new_id", "corpus_id"), "left_anti")
      .withColumn("kind", lit("near"))
    exact.unionByName(near)
  }

  /** Cross-corpus decontamination: which TEST docs share at least
    * `minHits` distinct word n-gram shingles with which TRAIN docs —
    * the eval-set contamination check a training pipeline runs before
    * any benchmark claim (the GPT-3/Dolma n-gram-collision test
    * re-expressed as one hash equi-join).
    *
    * Scale shape: each corpus reduces to DISTINCT (doc, shingle) rows
    * hashed to 64 bits; the join shuffles on the shingle hash only, and
    * counts aggregate per (test, train) pair. Boilerplate shingles blow
    * the join up quadratically (every test × train doc sharing a
    * license header pairs through it), so shingles present in more than
    * `maxShingleDf` TRAIN docs are excluded — the hot-bucket discipline
    * again: a shingle that common is boilerplate, not contamination
    * evidence. `frac` is n_shared over the test doc's total distinct
    * shingles (computed before the df guard, so the denominator is
    * stable as the guard moves).
    */
  def contamination(train: DataFrame, test: DataFrame, idCol: String, textCol: String,
      n: Int, minHits: Int, maxShingleDf: Int = 10000): DataFrame = {
    require(minHits >= 1, s"minHits ($minHits) must be >= 1")
    def hashed(docs: DataFrame, as: String): DataFrame =
      shingleRows(docs, idCol, textCol, n)
        .select(col("doc_id").as(as), h32(col("sh")).as("h"))
    // Both hashed shingle tables are lineage-cut: each feeds two
    // aggregation branches (train: df-cap aggregate + probe; test:
    // per-doc totals + probe) whose exchanges do not canonicalize equal
    // (the bm25TopK lesson — measured 6 Generate subtrees, 1 reused
    // exchange, before the cuts; 2 after), so each corpus shingled
    // twice. The cut leaves one shingle+hash pass per side.
    val tr = hashed(train, "train_id").localCheckpoint(false)
    val te = hashed(test, "test_id").localCheckpoint(false)
    // df cap as an EXCLUSION list, not a window: only degenerate grams
    // exceed maxShingleDf, so the heavy set is tiny and anti-joins
    // broadcast — the old count-over-Window.partitionBy(h) exchanged
    // and sorted EVERY train shingle row just to drop a handful of
    // boilerplate grams. Identical rows kept (count(1) per h > cap ⟺
    // window df > cap; an anti-join never matches NULL keys, but h32 is
    // non-null for every non-null shingle, so no row's fate differs
    // from the window form); the train side now reaches the probe join
    // with no shuffle of its own.
    val heavy = tr.groupBy(col("h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxShingleDf)
      .select(col("h"))
    val trOk = tr.join(heavy, Seq("h"), "left_anti")
      .select(col("train_id"), col("h"))
    val teTotals = te.groupBy(col("test_id")).agg(count(lit(1)).as("__n_sh"))
    trOk.join(te, "h")
      .groupBy(col("test_id"), col("train_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minHits)
      .join(teTotals, "test_id")
      .select(col("test_id"), col("train_id"), col("n_shared"),
        round(col("n_shared").cast("double") / col("__n_sh").cast("double"), 6).as("frac"))
  }

  /** Brute-force n-gram Jaccard over a BOUNDED candidate set — the
    * exact baseline an LSH run is judged against, never the scale path:
    * the cross join is O(N²). [[minHashLsh]] is the operator to point
    * at a real corpus.
    *
    * Input-size guard: the plan embeds a 1-row broadcast count that
    * RAISES at execution if the input exceeds `maxDocs` (lazily — no
    * eager count at construction, and the guard costs one broadcast of
    * one row). A misapplied call fails loudly instead of running a
    * quadratic job to completion.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String, n: Int,
      threshold: Double, maxDocs: Int = 10000): DataFrame = {
    val sets = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), array_distinct(shingles(col("__toks"), n)).as("s"))
    val guard = broadcast(docs.agg(count(lit(1)).as("__n")).select(
      when(col("__n") > maxDocs,
        raise_error(concat(
          lit("jaccardPairs: input has "), col("__n").cast("string"),
          lit(s" docs > maxDocs=$maxDocs; the all-pairs cross join is quadratic — " +
            "use minHashLsh for corpora at scale, or raise maxDocs explicitly"))))
        .otherwise(lit(1)).as("__guard")))
    // the filter KEEPS __guard referenced — an unreferenced column would
    // be pruned by Catalyst and the raise_error silently optimized away
    val a = sets.crossJoin(guard).filter(col("__guard") === 1)
      .select(col("doc_id"), col("s")).as("a")
    val b = sets.as("b")
    a.crossJoin(b)
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (size(array_intersect(col("a.s"), col("b.s"))).cast("double") /
          size(array_distinct(concat(col("a.s"), col("b.s")))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }
}
