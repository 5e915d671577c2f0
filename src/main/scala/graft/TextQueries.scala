package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** The text-analysis family (`text_*`): token statistics, language id,
  * term counts, quality signals and filters, cleaning, PII redaction,
  * BM25 and the BPE tokenizer. Each registration carries its Spark
  * builder and its DuckDB oracle.
  */
object TextQueries {

  import OracleSql.{bm25Ctes, h32Sql, ngramSql, toksSql}

  /** The trained BPE merge list (4 rounds over the 90% split), once per
    * corpus: `text_bpe_train` measures training on its own, the apply
    * queries amortize it.
    */
  private val bpeModel = Memo.corpus("bpe_merges") { (s, d) =>
    Bpe.trainMerges(
        Tables.documents(s, d).filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", rounds = 4)
      .orderBy(col("merge_round")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
  }

  /** The canonical-greedy merge-application CTE chain: reads sequence
    * CTE `src(doc_id, t)` and 1-row model CTE `m(l, r, c)`, emits
    * `out(doc_id, t)`; `tag` uniquifies the intermediate names. The
    * run-selection windows mirror [[graft.ops.Bpe.applyMerge]] clause
    * for clause; merged token = `l || chr(1) || r` (= the Spark
    * U+0001 separator). Trailing comma included.
    */
  private def bpeApplyBlockSql(src: String, m: String, out: String,
      tag: String): String =
    s"""pe$tag AS (
       |  SELECT doc_id, i AS p, t[i] AS tok,
       |    CASE WHEN i < len(t) THEN t[i + 1] END AS nxt
       |  FROM $src, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g),
       |el$tag AS (
       |  SELECT pe.doc_id, pe.p, pe.tok,
       |    (pe.tok = m.l AND pe.nxt = m.r) AS elig,
       |    m.l || chr(1) || m.r AS mg,
       |    sum(CASE WHEN pe.tok = m.l AND pe.nxt = m.r THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY pe.doc_id ORDER BY pe.p) AS eidx
       |  FROM pe$tag pe CROSS JOIN $m m),
       |rn$tag AS (
       |  SELECT *, CASE WHEN elig THEN p - eidx END AS runkey
       |  FROM el$tag),
       |sl$tag AS (
       |  SELECT *, CASE WHEN elig
       |    THEN row_number() OVER (PARTITION BY doc_id, runkey ORDER BY p) END AS rrn
       |  FROM rn$tag),
       |sv$tag AS (
       |  SELECT *, coalesce(elig AND rrn % 2 = 1, false) AS sel
       |  FROM sl$tag),
       |pv$tag AS (
       |  SELECT *, coalesce(lag(sel) OVER (PARTITION BY doc_id ORDER BY p), false)
       |    AS prevsel
       |  FROM sv$tag),
       |$out AS (
       |  SELECT doc_id, list(CASE WHEN sel THEN mg ELSE tok END ORDER BY p) AS t
       |  FROM pv$tag WHERE NOT prevsel
       |  GROUP BY doc_id),
       |""".stripMargin

  /** Model CTEs of the round-unrolled BPE training loop (the
    * `$ivfTrainedSelect` discipline for a data-dependent trainer):
    * sequences `s0..s{rounds-1}` and 1-row argmax models
    * `m1..m{rounds}` over `documents` under `srcFilter`. Trailing
    * comma included.
    */
  private def bpeModelCtes(rounds: Int, srcFilter: String): String = {
    val sb = new StringBuilder
    sb.append(s"s0 AS (SELECT doc_id, $toksSql AS t FROM documents$srcFilter),\n")
    for (i <- 1 to rounds) {
      sb.append(
        s"""pc$i AS (
           |  SELECT doc_id, i AS p, t[i] AS tok,
           |    CASE WHEN i < len(t) THEN t[i + 1] END AS nxt
           |  FROM s${i - 1}, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g),
           |m$i AS (
           |  SELECT tok AS l, nxt AS r, count(*) AS c
           |  FROM pc$i WHERE nxt IS NOT NULL
           |  GROUP BY 1, 2
           |  ORDER BY c DESC, l, r
           |  LIMIT 1),
           |""".stripMargin)
      if (i < rounds)
        sb.append(bpeApplyBlockSql(s"s${i - 1}", s"m$i", s"s$i", s"t$i"))
    }
    sb.toString
  }

  /** Round-unrolled mirror of [[graft.ops.Bpe.trainMerges]]: the
    * learned merge table.
    */
  private def bpeTrainSql(rounds: Int): String =
    "WITH " + bpeModelCtes(rounds, "").stripSuffix(",\n") + "\n" +
      (1 to rounds).map(i =>
        s"SELECT CAST($i AS BIGINT) AS merge_round, l AS left_tok, r AS right_tok, " +
          s"CAST(c AS BIGINT) AS pair_count FROM m$i")
        .mkString("", "\nUNION ALL ", "\nORDER BY merge_round")

  /** Mirror of [[graft.ops.Bpe.applyMerges]] over held-out docs: the
    * model trains on `doc_id % 10 <> 0`, all `rounds` merges apply in
    * learning order to the held-out `doc_id % 10 = 0`, and the output
    * reports per-doc raw vs BPE token counts.
    */
  private def bpeApplySql(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append("WITH " + bpeModelCtes(rounds, " WHERE doc_id % 10 <> 0"))
    sb.append(s"a0 AS (SELECT doc_id, $toksSql AS t FROM documents WHERE doc_id % 10 = 0),\n")
    for (i <- 1 to rounds)
      sb.append(bpeApplyBlockSql(s"a${i - 1}", s"m$i", s"a$i", s"x$i"))
    sb.toString.stripSuffix(",\n") + "\n" +
      s"""SELECT a0.doc_id, CAST(len(a0.t) AS BIGINT) AS n_raw,
         |  CAST(coalesce(len(a$rounds.t), 0) AS BIGINT) AS n_bpe
         |FROM a0 LEFT JOIN a$rounds USING (doc_id)
         |ORDER BY a0.doc_id""".stripMargin
  }

  /** Mirror of [[graft.ops.Bpe.fertility]] grouped by `lang`: the
    * same train/held-out split and apply chain as [[bpeApplySql]],
    * aggregated to per-language integer sums with ONE exact-integer
    * division per ratio (6 dp; zero denominators NULL both sides).
    */
  private def bpeFertilitySql(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append("WITH " + bpeModelCtes(rounds, " WHERE doc_id % 10 <> 0"))
    sb.append(s"a0 AS (SELECT doc_id, $toksSql AS t FROM documents WHERE doc_id % 10 = 0),\n")
    for (i <- 1 to rounds)
      sb.append(bpeApplyBlockSql(s"a${i - 1}", s"m$i", s"a$i", s"x$i"))
    sb.toString.stripSuffix(",\n") + "\n" +
      s""", g AS (
         |  SELECT d.lang, count(*) AS n_docs,
         |    CAST(sum(len(a0.t)) AS BIGINT) AS n_raw,
         |    CAST(sum(coalesce(len(a$rounds.t), 0)) AS BIGINT) AS n_bpe,
         |    CAST(sum(d.n_chars) AS BIGINT) AS c
         |  FROM a0 LEFT JOIN a$rounds USING (doc_id)
         |  JOIN documents d USING (doc_id)
         |  GROUP BY d.lang)
         |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, n_raw, n_bpe,
         |  round(n_bpe::DOUBLE / nullif(n_raw, 0), 6) AS compression,
         |  round((100 * n_bpe)::DOUBLE / nullif(c, 0), 6) AS toks_per_100c
         |FROM g
         |ORDER BY lang""".stripMargin
  }

  val entries: Seq[Query] = Seq(
    Query("text_stats", s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(t) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens,
         |  CASE WHEN len(t) = 0 THEN NULL ELSE
         |    round(list_reduce(list_transform(t, x -> CAST(length(x) AS BIGINT)),
         |      (a, b) -> a + b)::DOUBLE / len(t), 6) END AS avg_token_len,
         |  round(len(list_distinct(t))::DOUBLE / nullif(len(t), 0), 6) AS type_token_ratio,
         |  round(len(list_filter(t, x -> list_contains(['the','a','of','and','is'], x)))::DOUBLE
         |    / nullif(len(t), 0), 6) AS stopword_ratio
         |FROM (SELECT doc_id, text, $toksSql AS t FROM documents)
         |ORDER BY doc_id""".stripMargin)((s, d) =>
      TextAnalysis.qualityStats(Tables.documents(s, d), "doc_id", "text").orderBy(col("doc_id"))),
    Query("text_langid", """WITH sc AS (
        |  SELECT doc_id,
        |    len(list_filter(t, x -> list_contains(['der','die','das','und','ist'], x)))::DOUBLE / n AS s_de,
        |    len(list_filter(t, x -> list_contains(['the','a','of','and','is'], x)))::DOUBLE / n AS s_en,
        |    len(list_filter(t, x -> list_contains(['el','la','de','y','es'], x)))::DOUBLE / n AS s_es,
        |    len(list_filter(t, x -> list_contains(['le','la','les','et','est'], x)))::DOUBLE / n AS s_fr,
        |    len(list_filter(t, x -> list_contains(['的','是','在','了','和'], x)))::DOUBLE / n AS s_zh
        |  FROM (SELECT doc_id, list_filter(string_split(trim(lower(text)), ' '), x -> x <> '') AS t,
        |          greatest(len(list_filter(string_split(trim(lower(text)), ' '), x -> x <> '')), 1)::DOUBLE AS n
        |        FROM documents)),
        |m AS (SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
        |        greatest(s_de, s_en, s_es, s_fr, s_zh) AS m FROM sc)
        |SELECT doc_id,
        |  CASE WHEN s_de = m AND m > 0 THEN 'de'
        |       WHEN s_en = m AND m > 0 THEN 'en'
        |       WHEN s_es = m AND m > 0 THEN 'es'
        |       WHEN s_fr = m AND m > 0 THEN 'fr'
        |       WHEN s_zh = m AND m > 0 THEN 'zh'
        |       ELSE 'und' END AS pred_lang,
        |  round(m, 6) AS lang_score
        |FROM m
        |ORDER BY doc_id""".stripMargin)((s, d) =>
      TextAnalysis.langId(Tables.documents(s, d), "doc_id", "text").orderBy(col("doc_id"))),
    Query("text_top_terms", s"""SELECT term, count(*) AS cnt
         |FROM (SELECT unnest($toksSql) AS term FROM documents)
         |GROUP BY term
         |ORDER BY cnt DESC, term
         |LIMIT 20""".stripMargin)((s, d) =>
      TextAnalysis.topTerms(Tables.documents(s, d), "doc_id", "text", limit = 20)),
    Query("text_tfidf", s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df
         |       FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY 1),
         |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |s AS (SELECT doc_id, term, tf, df, tf::DOUBLE * ln(n.n / df::DOUBLE) AS raw
         |      FROM tf JOIN df USING (term), n),
         |r AS (SELECT doc_id, term, tf, df, raw,
         |        CAST(row_number() OVER (PARTITION BY doc_id ORDER BY raw DESC, term) AS BIGINT) AS r
         |      FROM s QUALIFY r <= 3)
         |SELECT doc_id, r, term, tf, df, round(raw, 6) AS tfidf
         |FROM r WHERE doc_id < 100
         |ORDER BY doc_id, r""".stripMargin)((s, d) =>
      TextAnalysis.tfIdf(Tables.documents(s, d), "doc_id", "text", perDoc = 3)
        .filter(col("doc_id") < 100)
        .orderBy(col("doc_id"), col("r"))),
    Query("text_fingerprint", s"""SELECT doc_id,
         |  list_reduce(
         |    list_concat([CAST(0 AS BIGINT)],
         |      list_transform(t, tok -> ${h32Sql("tok")})),
         |    (a, x) -> (a * 31 + x) % 1000000007) AS fingerprint
         |FROM (SELECT doc_id, $toksSql AS t FROM documents)
         |ORDER BY doc_id""".stripMargin)((s, d) =>
      TextAnalysis.fingerprint(Tables.documents(s, d), "doc_id", "text").orderBy(col("doc_id"))),
    Query("text_token_counts", s"""SELECT doc_id,
         |  CAST(len($toksSql) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]+')) AS BIGINT)
         |    AS bpe_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  round(length(text)::DOUBLE / greatest(
         |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]+'))::DOUBLE, 1.0), 6)
         |    AS chars_per_token
         |FROM documents
         |ORDER BY doc_id""".stripMargin)((s, d) =>
      TextAnalysis.tokenCounts(Tables.documents(s, d), "doc_id", "text").orderBy(col("doc_id"))),
    Query("text_repetition", s"""WITH tl AS (SELECT doc_id, $toksSql AS t FROM documents),
         |u AS (SELECT doc_id, max(c) AS mx, CAST(sum(c) AS BIGINT) AS tot FROM (
         |  SELECT doc_id, g, count(*) AS c
         |  FROM (SELECT doc_id, unnest(t) AS g FROM tl) GROUP BY 1, 2) GROUP BY doc_id),
         |b AS (SELECT doc_id, max(c) AS mx, CAST(sum(c) AS BIGINT) AS tot FROM (
         |  SELECT doc_id, g, count(*) AS c
         |  FROM (SELECT doc_id, unnest(${ngramSql("t", 2)}) AS g FROM tl)
         |  GROUP BY 1, 2) GROUP BY doc_id),
         |tg AS (SELECT doc_id, count(*) AS nd, CAST(sum(c) AS BIGINT) AS tot FROM (
         |  SELECT doc_id, g, count(*) AS c
         |  FROM (SELECT doc_id, unnest(${ngramSql("t", 3)}) AS g FROM tl)
         |  GROUP BY 1, 2) GROUP BY doc_id)
         |SELECT u.doc_id, u.tot AS n_tokens,
         |  round(u.mx::DOUBLE / u.tot, 6) AS top_unigram_frac,
         |  round(coalesce(b.mx::DOUBLE / b.tot, 0.0), 6) AS top_bigram_frac,
         |  round(coalesce((tg.tot - tg.nd)::DOUBLE / tg.tot, 0.0), 6) AS dup_trigram_frac
         |FROM u LEFT JOIN b USING (doc_id) LEFT JOIN tg USING (doc_id)
         |ORDER BY doc_id""".stripMargin)((s, d) =>
      TextAnalysis.repetitionStats(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // corpus-level n-gram diversity card: distinct-n ratios + Shannon
    // entropy per n — the corpus-wide complement of per-doc TTR
    // one gram pass tagged by n on both sides; entropy via the
    // shuffle-free decomposition H = (ln N - sum(c ln c)/N) / ln 2
    Query("text_diversity", s"""WITH tl AS (SELECT $toksSql AS t FROM documents),
         |g AS (
         |  SELECT 1 AS n, unnest(${ngramSql("t", 1)}) AS gram FROM tl
         |  UNION ALL SELECT 2 AS n, unnest(${ngramSql("t", 2)}) AS gram FROM tl
         |  UNION ALL SELECT 3 AS n, unnest(${ngramSql("t", 3)}) AS gram FROM tl),
         |c AS (SELECT n, gram, count(*) AS c FROM g GROUP BY n, gram),
         |a AS (
         |  SELECT n, CAST(sum(c) AS BIGINT) AS total_grams,
         |    CAST(count(*) AS BIGINT) AS distinct_grams,
         |    sum(c::DOUBLE * ln(c::DOUBLE)) AS sclc
         |  FROM c GROUP BY n)
         |SELECT CAST(n AS BIGINT) AS n, total_grams, distinct_grams,
         |  round(distinct_grams::DOUBLE / total_grams, 6) AS distinct_ratio,
         |  round((ln(total_grams::DOUBLE) - sclc / total_grams) / ln(2), 6)
         |    AS entropy_bits
         |FROM a ORDER BY n""".stripMargin)((s, d) =>
      TextAnalysis.ngramDiversity(Tables.documents(s, d), "text", maxN = 3)),
    // C4-style boilerplate removal: segments (split on ' the ') shared
    // by >= 3 docs are dropped; docs re-assembled in original order
    Query("text_clean", s"""WITH ${OracleSql.cleanCtes("c", "documents")}
         |SELECT doc_id, n_segs, n_kept, clean_text
         |FROM c_out
         |ORDER BY doc_id""".stripMargin)((s, d) =>
      Clean.removeBoilerplate(Tables.documents(s, d), "doc_id", "text",
          sep = " the ", minDocs = 3)
        .orderBy(col("doc_id"))),
    // PII redaction over deterministically PII-seeded text (the corpus
    // itself is synthetic word soup; the seeding makes every redaction
    // branch — URL, email, IP, phone — fire and stay oracle-checkable)
    Query("text_pii", s"""WITH p AS (
         |  SELECT doc_id,
         |    substr(text, 1, 40) || ' contact user' || doc_id || '@example.com via '
         |      || 'http://ex.org/u/' || doc_id || ' from 10.0.' || (doc_id % 256)
         |      || '.7 tel +1-555-' || lpad(doc_id::VARCHAR, 4, '0') AS pii_text
         |  FROM documents WHERE doc_id < 100)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(pii_text, 'https?://[^\\s]+')) AS BIGINT) AS n_url,
         |  CAST(len(regexp_extract_all(pii_text,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(pii_text,
         |    '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS BIGINT) AS n_ip,
         |  CAST(len(regexp_extract_all(pii_text, '\\+?[0-9][0-9\\-]{6,}[0-9]')) AS BIGINT)
         |    AS n_phone,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(pii_text,
         |    'https?://[^\\s]+', '<URL>', 'g'),
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'),
         |    '\\+?[0-9][0-9\\-]{6,}[0-9]', '<PHONE>', 'g') AS redacted
         |FROM p
         |ORDER BY doc_id""".stripMargin)((s, d) => {
      val withPii = Tables.documents(s, d).filter(col("doc_id") < 100)
        .select(col("doc_id"),
          concat(
            substring(col("text"), 1, 40),
            lit(" contact user"), col("doc_id").cast("string"), lit("@example.com via "),
            lit("http://ex.org/u/"), col("doc_id").cast("string"),
            lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7 tel +1-555-"),
            lpad(col("doc_id").cast("string"), 4, "0")).as("pii_text"))
      Clean.redactPii(withPii, "pii_text", "redacted")
        .select(col("doc_id"), col("n_url"), col("n_email"), col("n_ip"), col("n_phone"),
          col("redacted"))
        .orderBy(col("doc_id"))
    }),
    // Gopher-style composite quality filter: first-failing-rule cascade
    // over the joined quality + repetition signals
    Query("text_quality", s"""WITH ${OracleSql.qualityCtes("q", "documents")}
         |SELECT doc_id, n_tokens, avg_token_len, stopword_ratio, type_token_ratio,
         |  top_unigram_frac, dup_trigram_frac, reason, reason = 'ok' AS keep
         |FROM q_r
         |ORDER BY doc_id""".stripMargin)((s, d) =>
      TextAnalysis.qualityFilter(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // exact heavy hitters via the O(k)-state sketch + exact re-count:
    // deterministic (= all terms above phi*N) despite the sketch pass
    Query("text_heavy_hitters", s"""WITH tok AS (SELECT unnest($toksSql) AS term FROM documents),
         |n AS (SELECT count(*) AS n FROM tok)
         |SELECT term, count(*) AS cnt
         |FROM tok, n
         |GROUP BY term, n.n
         |HAVING count(*) > 0.01 * n.n
         |ORDER BY cnt DESC, term""".stripMargin)((s, d) =>
      TextAnalysis.heavyHitters(Tables.documents(s, d), "doc_id", "text", phi = 0.01)
        .orderBy(desc("cnt"), col("term"))),
    // percentile-adaptive quality cutoffs: thresholds from the corpus'
    // own distribution (exact percentile ≡ DuckDB quantile_cont)
    Query("text_quality_adaptive", s"""WITH st AS (
         |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |    round(len(list_distinct(t))::DOUBLE / len(t), 6) AS type_token_ratio
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents)),
         |thr AS (SELECT
         |    round(quantile_cont(n_tokens, 0.1), 6) AS tok_lo,
         |    round(quantile_cont(n_tokens, 0.9), 6) AS tok_hi,
         |    round(quantile_cont(type_token_ratio, 0.1), 6) AS ttr_lo
         |  FROM st)
         |SELECT doc_id, n_tokens, type_token_ratio, tok_lo, tok_hi, ttr_lo, reason,
         |  reason = 'ok' AS keep
         |FROM (
         |  SELECT st.*, thr.*,
         |    CASE WHEN n_tokens < tok_lo THEN 'short_tail'
         |         WHEN n_tokens > tok_hi THEN 'long_tail'
         |         WHEN type_token_ratio < ttr_lo THEN 'low_diversity'
         |         ELSE 'ok' END AS reason
         |  FROM st, thr)
         |ORDER BY doc_id""".stripMargin)((s, d) =>
      TextAnalysis.adaptiveQualityFilter(Tables.documents(s, d), "doc_id", "text",
          pLow = 0.1, pHigh = 0.9)
        .orderBy(col("doc_id"))),
    // unigram-LM quality scoring: corpus-as-own-model NLL + OOV rate
    // (the perplexity-proxy filter signal; ln parity proven by tfidf)
    Query("text_unigram_lm",
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |dt AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2),
         |cf AS (SELECT term, count(*) AS cf FROM tok GROUP BY 1),
         |tot AS (SELECT count(*)::DOUBLE AS total FROM tok)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |  round(sum(CASE WHEN cf < 5 THEN c ELSE 0 END)::DOUBLE / sum(c)::DOUBLE, 6)
         |    AS oov_rate,
         |  round(sum(c::DOUBLE * -ln(greatest(cf, 5)::DOUBLE / tot.total))
         |    / sum(c)::DOUBLE, 6) AS mean_nll
         |FROM dt JOIN cf USING (term), tot
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin)((s, d) =>
      TextAnalysis.unigramLogProb(Tables.documents(s, d), "doc_id", "text", minCount = 5)
        .orderBy(col("doc_id"))),
    // BM25 keyword retrieval (self-retrieval: the first 8 docs query the
    // corpus with their own text) — the lexical half of hybrid search.
    // maxDfFrac = 0.8, not the 0.5 default: the synthetic corpus is word
    // soup from a ~31-term vocabulary (median df ≈ 78% of docs), so the
    // default stopword cap would empty the query; 0.8 still exercises
    // the cap (the most-universal terms sit above it) with candidates left
    Query("text_bm25", s"""WITH ${bm25Ctes(5)}
         |SELECT query_id, rank, doc_id, score
         |FROM bmr
         |ORDER BY query_id, rank""".stripMargin)((s, d) => {
      val docs = Tables.documents(s, d)
      Retrieval.bm25TopK(docs, "doc_id", "text",
          docs.filter(col("doc_id") < 8), "doc_id", "text", k = 5, maxDfFrac = 0.8)
        .orderBy(col("query_id"), col("rank"))
    }),
    // adjacent-token-pair (word-bigram) frequencies — the merge-candidate
    // statistic of BPE-style tokenizer induction (each merge round picks
    // the most frequent adjacent pair); corpus-wide count via the same
    // shingle machinery dedup uses, map-side combinable
    Query("text_bpe_pairs", s"""SELECT pair, count(*) AS cnt
         |FROM (
         |  SELECT unnest(${ngramSql("t", 2)}) AS pair
         |  FROM (SELECT $toksSql AS t FROM documents))
         |GROUP BY pair
         |ORDER BY cnt DESC, pair
         |LIMIT 20""".stripMargin)((s, d) =>
      Tables.documents(s, d)
        // tokens in their OWN projection (the shingles contract: an
        // inlined split would re-tokenize once per bigram window)
        .select(Dedup.tokens(col("text")).as("__toks"))
        .select(explode(Dedup.shingles(col("__toks"), 2)).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), col("pair"))
        .limit(20)),
    // membership decontamination: per-candidate-doc fraction of
    // distinct trigrams already present in the reference corpus
    Query("text_ngram_coverage", s"""WITH tl AS (
         |  SELECT doc_id, $toksSql AS t FROM documents),
         |cand AS (
         |  SELECT DISTINCT doc_id, g FROM (
         |    SELECT doc_id, unnest(${ngramSql("t", 3)}) AS g
         |    FROM tl WHERE doc_id % 10 = 0)),
         |corp AS (
         |  SELECT DISTINCT g FROM (
         |    SELECT unnest(${ngramSql("t", 3)}) AS g
         |    FROM tl WHERE doc_id % 10 <> 0))
         |SELECT c.doc_id,
         |  count(*) AS n_grams,
         |  CAST(sum(CASE WHEN k.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
         |  round(sum(CASE WHEN k.g IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         |    AS seen_frac
         |FROM cand c LEFT JOIN corp k USING (g)
         |GROUP BY c.doc_id
         |ORDER BY c.doc_id""".stripMargin)((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.ngramCoverage(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))
    }),
    // cross-source contamination matrix: for every ordered source
    // pair, the fraction of a's docs sharing >= 1 distinct trigram
    // with b — the pre-mixing audit over the corpus's source column
    Query("text_contamination_matrix",
      s"""WITH tl AS (SELECT doc_id, source AS src, $toksSql AS t FROM documents),
         |g AS (
         |  SELECT DISTINCT doc_id, src, g
         |  FROM (SELECT doc_id, src, unnest(${OracleSql.ngramSql("t", 3)}) AS g FROM tl)),
         |c AS (SELECT DISTINCT src AS osrc, g FROM g),
         |h AS (
         |  SELECT g.src, c.osrc, count(DISTINCT g.doc_id) AS n_contaminated
         |  FROM g JOIN c ON g.g = c.g AND c.osrc <> g.src
         |  GROUP BY 1, 2),
         |t AS (SELECT source AS src, count(*) AS n_docs FROM documents GROUP BY 1),
         |p AS (SELECT a.src, b.src AS osrc FROM t a CROSS JOIN t b WHERE a.src <> b.src)
         |SELECT p.src AS src_a, p.osrc AS src_b, CAST(t.n_docs AS BIGINT) AS n_docs,
         |  CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
         |  round(coalesce(h.n_contaminated, 0)::DOUBLE / t.n_docs, 6) AS frac
         |FROM p JOIN t USING (src)
         |LEFT JOIN h ON h.src = p.src AND h.osrc = p.osrc
         |ORDER BY src_a, src_b""".stripMargin)((s, d) =>
      Dedup.crossSourceContamination(Tables.documents(s, d),
        "doc_id", "text", "source", n = 3)),
    // BPE merge training: 4 rounds of argmax-pair + canonical greedy
    // merge — the trained-tokenizer model table (ordered merges)
    Query("text_bpe_train", bpeTrainSql(4))((s, d) =>
      Bpe.trainMerges(Tables.documents(s, d), "doc_id", "text", rounds = 4)
        .orderBy(col("merge_round"))),
    // tokenizer serving half: train the 4-merge model on 90% of docs,
    // apply it in learning order to the held-out 10%, report per-doc
    // raw vs BPE token counts (the compression the model buys unseen
    // text — the train/held-out split is the standard hygiene)
    Query("text_bpe_apply", bpeApplySql(4))((s, d) => {
      val docs = Tables.documents(s, d)
      val model = bpeModel(s, d)
      val held = docs.filter(col("doc_id") % 10 === 0)
      Bpe.applyMerges(held, "doc_id", "text", model)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_bpe"))
        .join(held.select(col("doc_id"),
          size(Dedup.tokens(col("text"))).cast("long").as("n_raw")), "doc_id")
        .select(col("doc_id"), col("n_raw"), col("n_bpe"))
        .orderBy(col("doc_id"))
    }),
    // per-language fertility of the trained tokenizer on the same
    // held-out split: the multilingual tokenizer-fit audit (corpus
    // -level integer sums, ONE division per ratio, 6 dp)
    Query("text_bpe_fertility", bpeFertilitySql(4))((s, d) => {
      val docs = Tables.documents(s, d)
      val model = bpeModel(s, d)
      Bpe.fertility(docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", "lang", "n_chars", model)
        .orderBy(col("lang"))
    }))
}
