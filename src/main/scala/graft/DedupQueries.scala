package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** The dedup family (`dedup_*`): exact, MinHash-LSH, SimHash and
  * Jaccard near-dup, cluster labels and survivor selection,
  * contamination, incremental dedup and substring span dedup. Each
  * registration carries its Spark builder and its DuckDB oracle.
  */
object DedupQueries {

  import OracleSql.{clusterLabelCtes, h32Sql, minhashBandsCte, minhashPairsCte, ngramSql, toksSql}

  /** Shingle width for the `dedup_spans` family — ONE definition
    * feeds the Spark registry entries, the CTE chain, and every
    * coverage constant in the consuming SQL, so the width cannot
    * drift between engine and oracle.
    */
  private val spanN = 8

  /** Shared CTE chain for the substring-dedup family: positional
    * n-gram shingles → cross-doc df filter → gap≤n island merge.
    * Ends at `sp(doc_id, n_tokens, p1, p2)` (token coverage
    * `p1 .. p2 + n - 1`) with `tl(doc_id, t)` still in scope for the
    * cut query's token re-read. One definition, three consumers
    * (`dedup_spans`, `dedup_spans_cut`, `dedup_spans_inc`) — the
    * dataCardSql discipline.
    */
  private def dupSpanCtes(n: Int): String =
    s"""tl AS (SELECT doc_id, $toksSql AS t FROM documents),
       |gl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       |         ${ngramSql("t", n)} AS gs FROM tl),
       |pos AS (SELECT doc_id, n_tokens, i - 1 AS pos, gs[i] AS g
       |        FROM gl, unnest(generate_series(1, len(gs))) AS s(i)),
       |df AS (SELECT g FROM pos GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
       |dup AS (SELECT doc_id, n_tokens, pos FROM pos JOIN df USING (g)),
       |isl AS (SELECT doc_id, n_tokens, pos,
       |          CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $n
       |               THEN 0 ELSE 1 END AS nw
       |        FROM dup),
       |grp AS (SELECT doc_id, n_tokens, pos,
       |          sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
       |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
       |        FROM isl),
       |sp AS (SELECT doc_id, n_tokens, grp, min(pos) AS p1, max(pos) AS p2
       |       FROM grp GROUP BY 1, 2, 3)""".stripMargin

  /** Corpus gram-df table for incremental substring dedup,
    * materialized ONCE per sfDir per JVM: `Dedup.gramDf` over the
    * standing corpus (doc_id % 10 =!= 3 — the `dedup_incremental`
    * split), written `bucketBy(16, "g")` so each new batch's probe
    * join reads the corpus-sized side with its distribution already
    * on disk — only the batch-gram side exchanges (BucketingSpec
    * pin). A production pipeline appends/merges new batches' counts
    * into this table after flagging them.
    */
  private val spanGramIndex = Memo.table("span_gram_df") { (s, d, tbl) =>
    Dedup.gramDf(Tables.documents(s, d).filter(col("doc_id") % 10 =!= 3),
        "doc_id", "text", n = spanN)
      .write.mode("overwrite").option("path", Memo.tablePath(tbl))
      .bucketBy(16, "g").saveAsTable(tbl)
  }

  val entries: Seq[Query] = Seq(
    Query("dedup_exact",
      """SELECT sha256(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS representative
        |FROM documents
        |GROUP BY 1
        |ORDER BY content_hash""".stripMargin)((s, d) =>
      Dedup.exactClusters(Tables.documents(s, d), "doc_id", "text")),
    Query("dedup_minhash", s"""$minhashPairsCte
         |SELECT doc_a, doc_b, round(j, 6) AS jaccard
         |FROM prs
         |ORDER BY doc_a, doc_b""".stripMargin)((s, d) =>
      Dedup.minHashLsh(Tables.documents(s, d), "doc_id", "text",
          shingleN = 3, numHashes = 16, rowsPerBand = 8)
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))),
    Query("dedup_cluster", s"""$minhashPairsCte,
         |$clusterLabelCtes
         |SELECT doc_id, label AS cluster_id FROM l3
         |ORDER BY doc_id""".stripMargin)((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
          shingleN = 3, numHashes = 16, rowsPerBand = 8)
        .filter(col("jaccard") >= 0.5)
      Dedup.clusterLabels(docs, "doc_id", pairs, iterations = 3).orderBy(col("doc_id"))
    }),
    // survivor selection on top of the cluster labels: per near-dup
    // cluster keep the ONE doc a quality-aware pipeline keeps
    // (quality-pass first, then longest, then min id — an all-integer
    // total order, no float boundary) and report the surviving corpus
    Query("dedup_keep_best", s"""$minhashPairsCte,
         |$clusterLabelCtes,
         |${OracleSql.qualityCtes("kb", "documents")}
         |SELECT cluster_id, doc_id, n_tokens, n_members FROM (
         |  SELECT l.label AS cluster_id, l.doc_id,
         |    coalesce(q.n_tokens, 0) AS n_tokens,
         |    count(*) OVER (PARTITION BY l.label) AS n_members,
         |    row_number() OVER (PARTITION BY l.label
         |      ORDER BY coalesce(q.reason = 'ok', false) DESC,
         |        coalesce(q.n_tokens, 0) DESC, l.doc_id) AS rn
         |  FROM l3 l LEFT JOIN kb_r q ON l.doc_id = q.doc_id)
         |WHERE rn = 1
         |ORDER BY cluster_id""".stripMargin)((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
          shingleN = 3, numHashes = 16, rowsPerBand = 8)
        .filter(col("jaccard") >= 0.5)
      Dedup.keepBest(docs, "doc_id", "text", pairs, iterations = 3)
        .orderBy(col("cluster_id"))
    }),
    Query("dedup_simhash", s"""WITH tc AS (
         |  SELECT doc_id, tok, count(*) AS c, ${h32Sql("tok")} AS h
         |  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |bits AS (SELECT unnest(generate_series(0, 31)) AS b),
         |pb AS (
         |  SELECT doc_id, b,
         |    sum(CASE WHEN (h // CAST(pow(2, b) AS BIGINT)) % 2 = 1 THEN c ELSE -c END) AS s
         |  FROM tc, bits GROUP BY doc_id, b)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
         |FROM pb GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin)((s, d) =>
      Dedup.simHash(Tables.documents(s, d), "doc_id", "text").orderBy(col("doc_id"))),
    Query("dedup_simhash_pairs", s"""WITH tc AS (
         |  SELECT doc_id, tok, count(*) AS c, ${h32Sql("tok")} AS h
         |  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |bits AS (SELECT unnest(generate_series(0, 31)) AS b),
         |pb AS (
         |  SELECT doc_id, b,
         |    sum(CASE WHEN (h // CAST(pow(2, b) AS BIGINT)) % 2 = 1 THEN c ELSE -c END) AS s
         |  FROM tc, bits GROUP BY doc_id, b),
         |sim AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM pb GROUP BY doc_id),
         |bk AS (SELECT doc_id, simhash, simhash // 16777216 AS bucket FROM sim)
         |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b2.simhash)) AS BIGINT) AS hamming
         |FROM bk a JOIN bk b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id
         |WHERE bit_count(xor(a.simhash, b2.simhash)) <= 6
         |ORDER BY doc_a, doc_b""".stripMargin)((s, d) =>
      Dedup.simHashPairs(Dedup.simHash(Tables.documents(s, d), "doc_id", "text"),
          prefixBits = 8, maxHamming = 6)
        .orderBy(col("doc_a"), col("doc_b"))),
    Query("dedup_jaccard", s"""WITH t AS (
         |  SELECT doc_id, list_distinct($toksSql) AS s FROM documents WHERE doc_id < 100)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(len(list_intersect(a.s, b.s))::DOUBLE /
         |    len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
         |FROM t a, t b
         |WHERE a.doc_id < b.doc_id
         |  AND len(list_intersect(a.s, b.s))::DOUBLE /
         |    len(list_distinct(list_concat(a.s, b.s))) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin)((s, d) =>
      Dedup.jaccardPairs(Tables.documents(s, d).filter(col("doc_id") < 100), "doc_id", "text",
          n = 1, threshold = 0.8)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))),
    // eval-set decontamination: every 5th doc plays the held-out set,
    // the rest the training corpus; trigram collisions ≥ 3 flag a pair
    Query("dedup_contaminate", s"""WITH tl AS (SELECT doc_id, $toksSql AS t FROM documents),
         |trh AS (
         |  SELECT train_id, ${h32Sql("sh")} AS h FROM (
         |    SELECT DISTINCT doc_id AS train_id, unnest(${ngramSql("t", 3)}) AS sh
         |    FROM tl WHERE doc_id % 5 <> 4)),
         |teh AS (
         |  SELECT test_id, ${h32Sql("sh")} AS h FROM (
         |    SELECT DISTINCT doc_id AS test_id, unnest(${ngramSql("t", 3)}) AS sh
         |    FROM tl WHERE doc_id % 5 = 4)),
         |trok AS (SELECT train_id, h FROM (
         |  SELECT train_id, h, count(*) OVER (PARTITION BY h) AS df FROM trh)
         |  WHERE df <= 10000),
         |tet AS (SELECT test_id, count(*) AS n_sh FROM teh GROUP BY test_id),
         |hits AS (
         |  SELECT test_id, train_id, count(*) AS n_shared
         |  FROM teh JOIN trok USING (h)
         |  GROUP BY test_id, train_id
         |  HAVING count(*) >= 3)
         |SELECT hits.test_id, hits.train_id, hits.n_shared,
         |  round(hits.n_shared::DOUBLE / tet.n_sh, 6) AS frac
         |FROM hits JOIN tet USING (test_id)
         |ORDER BY test_id, train_id""".stripMargin)((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contamination(
          docs.filter(col("doc_id") % 5 =!= 4),
          docs.filter(col("doc_id") % 5 === 4),
          "doc_id", "text", n = 3, minHits = 3)
        .orderBy(col("test_id"), col("train_id"))
    }),
    // incremental dedup: docs with doc_id % 10 == 3 play the NEW batch,
    // the rest the accumulated corpus — batch×corpus only, two tiers
    Query("dedup_incremental", s"""WITH $minhashBandsCte,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
         |  WHERE a.doc_id % 10 = 3 AND b.doc_id % 10 <> 3),
         |sets AS (SELECT doc_id, list(DISTINCT h) AS s FROM shh GROUP BY doc_id),
         |ex AS (
         |  SELECT b.doc_id AS new_id, c.doc_id AS corpus_id
         |  FROM documents b JOIN documents c ON sha256(b.text) = sha256(c.text)
         |  WHERE b.doc_id % 10 = 3 AND c.doc_id % 10 <> 3),
         |near AS (
         |  SELECT new_id, corpus_id,
         |    len(list_intersect(sa.s, sb.s))::DOUBLE /
         |      len(list_distinct(list_concat(sa.s, sb.s))) AS j
         |  FROM cand
         |  JOIN sets sa ON cand.new_id = sa.doc_id
         |  JOIN sets sb ON cand.corpus_id = sb.doc_id
         |  WHERE len(list_intersect(sa.s, sb.s))::DOUBLE /
         |      len(list_distinct(list_concat(sa.s, sb.s))) >= 0.5)
         |SELECT new_id, corpus_id, CAST(1.0 AS DOUBLE) AS jaccard, 'exact' AS kind FROM ex
         |UNION ALL
         |SELECT n.new_id, n.corpus_id, round(n.j, 6) AS jaccard, 'near' AS kind
         |FROM near n
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM ex WHERE ex.new_id = n.new_id AND ex.corpus_id = n.corpus_id)
         |ORDER BY new_id, corpus_id, kind""".stripMargin)((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalDedup(
          docs.filter(col("doc_id") % 10 =!= 3),
          docs.filter(col("doc_id") % 10 === 3),
          "doc_id", "text", shingleN = 3, numHashes = 16, rowsPerBand = 8, threshold = 0.5)
        .select(col("new_id"), col("corpus_id"),
          round(col("jaccard"), 6).as("jaccard"), col("kind"))
        .orderBy(col("new_id"), col("corpus_id"), col("kind"))
    }),
    // duplication dashboard: cluster-size histogram over seeded copies
    // (%13 docs twice, %39 docs three times → sizes 1, 2 and 3 all
    // fire). Copies are re-keyed to NEGATIVE ids (-(2·id+1) / -(2·id+2)
    // for the two tiers — injective, disjoint, and collision-free
    // against real non-negative ids at ANY corpus size; the round-11
    // count channel caught the previous fixed +10000/+20000 offsets
    // colliding with real ids once the corpus passed 10k docs)
    Query("dedup_profile", """WITH seeded AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT -(doc_id * 2) - 1, text FROM documents WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT -(doc_id * 2) - 2, text FROM documents WHERE doc_id % 39 = 0),
        |cl AS (SELECT sha256(text) AS ch, count(*) AS cluster_size
        |       FROM seeded GROUP BY 1)
        |SELECT cluster_size, count(*) AS n_clusters,
        |  cluster_size * count(*) AS n_docs
        |FROM cl
        |GROUP BY cluster_size
        |ORDER BY cluster_size""".stripMargin)((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val seeded = docs
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .withColumn("doc_id", -(col("doc_id") * 2) - 1))
        .unionByName(docs.filter(col("doc_id") % 39 === 0)
          .withColumn("doc_id", -(col("doc_id") * 2) - 2))
      Dedup.duplicationProfile(seeded, "doc_id", "text")
        .orderBy(col("cluster_size"))
    }),
    // substring dedup spans: per doc, maximal token spans covered by
    // 8-grams repeating in >= 2 distinct docs — Lee-et-al.-style
    // substring dedup as positional shingles + span merge (coverage
    // union, not an exact-substring guarantee; see Dedup.dupSpans)
    Query("dedup_spans", s"""WITH ${dupSpanCtes(spanN)}
         |SELECT doc_id, n_tokens,
         |  CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(p2 - p1 + $spanN) AS BIGINT) AS dup_tokens,
         |  round(sum(p2 - p1 + $spanN)::DOUBLE / n_tokens, 6) AS dup_frac
         |FROM sp GROUP BY doc_id, n_tokens
         |ORDER BY doc_id""".stripMargin)((s, d) =>
      Dedup.dupSpans(Tables.documents(s, d), "doc_id", "text", n = spanN)),
    // remove-all span cutting: every doc minus its duplicated token
    // ranges — the strict (well-defined) variant of keep-one-copy
    // substring dedup; what survives is the corpus's unique content
    Query("dedup_spans_cut", s"""WITH ${dupSpanCtes(spanN)},
         |tpos AS (SELECT doc_id, i - 1 AS p, t[i] AS tok
         |         FROM tl, unnest(generate_series(1, len(t))) AS s(i)),
         |keep AS (SELECT tp.doc_id, tp.p, tp.tok FROM tpos tp
         |         WHERE NOT EXISTS (SELECT 1 FROM sp
         |           WHERE sp.doc_id = tp.doc_id
         |             AND tp.p BETWEEN sp.p1 AND sp.p2 + ${spanN - 1})),
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |          string_agg(tok, ' ' ORDER BY p) AS clean_text
         |        FROM keep GROUP BY doc_id)
         |SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(a.clean_text, '') AS clean_text
         |FROM tl d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin)((s, d) =>
      Dedup.cutDupSpans(Tables.documents(s, d), "doc_id", "text", n = spanN)),
    // keep-one span cutting: the Lee-et-al. keep-first-copy variant —
    // per duplicated span identity (hash of the verbatim island slice)
    // the minimal (doc_id, start) occurrence keeps its text, every
    // later occurrence is cut; singleton identities are kept
    Query("dedup_spans_keep", s"""WITH ${dupSpanCtes(spanN)},
         |spt AS (SELECT sp.doc_id, sp.p1, sp.p2,
         |          ${h32Sql(s"array_to_string(t[p1 + 1 : p2 + $spanN], ' ')")} AS sid
         |        FROM sp JOIN tl USING (doc_id)),
         |cuts AS (SELECT doc_id, p1, p2 FROM (
         |          SELECT doc_id, p1, p2,
         |            row_number() OVER (PARTITION BY sid ORDER BY doc_id, p1) AS rk
         |          FROM spt) WHERE rk > 1),
         |tpos AS (SELECT doc_id, i - 1 AS p, t[i] AS tok
         |         FROM tl, unnest(generate_series(1, len(t))) AS s(i)),
         |keep AS (SELECT tp.doc_id, tp.p, tp.tok FROM tpos tp
         |         WHERE NOT EXISTS (SELECT 1 FROM cuts c
         |           WHERE c.doc_id = tp.doc_id
         |             AND tp.p BETWEEN c.p1 AND c.p2 + ${spanN - 1})),
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |          string_agg(tok, ' ' ORDER BY p) AS clean_text
         |        FROM keep GROUP BY doc_id)
         |SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(a.clean_text, '') AS clean_text
         |FROM tl d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin)((s, d) =>
      Dedup.keepOneDupSpans(Tables.documents(s, d), "doc_id", "text", n = spanN)),
    // incremental substring dedup: the NEW batch (doc_id % 10 == 3,
    // the dedup_incremental split) flagged against the STORED corpus
    // gram-df index — batch-sized work per increment; equals the full
    // dupSpans restricted to batch ids (OpsSpec pin)
    // incremental == full restricted to the batch (disjoint id sets:
    // corpus df + batch df = combined df) — same CTE chain, one WHERE
    Query("dedup_spans_inc", s"""WITH ${dupSpanCtes(spanN)}
         |SELECT doc_id, n_tokens,
         |  CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(p2 - p1 + $spanN) AS BIGINT) AS dup_tokens,
         |  round(sum(p2 - p1 + $spanN)::DOUBLE / n_tokens, 6) AS dup_frac
         |FROM sp WHERE doc_id % 10 = 3
         |GROUP BY doc_id, n_tokens
         |ORDER BY doc_id""".stripMargin)((s, d) =>
      Dedup.dupSpansIncremental(
        Tables.documents(s, d).filter(col("doc_id") % 10 === 3),
        s.table(spanGramIndex(s, d)), "doc_id", "text", n = spanN)))
}
