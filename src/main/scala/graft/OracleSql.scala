package graft

/** Shared DuckDB SQL fragments for the oracle entries — ONE definition
  * of the portable hash / vector-math / tokenizer transliterations and
  * of every CTE chain more than one query family uses, so the Spark
  * operators and every oracle stay in lockstep (two copies of one
  * fragment are a silent parity-drift risk if one copy is edited).
  */
object OracleSql {

  /** DuckDB mirror of [[graft.ops.Dedup.h32]]: first 8 hex chars of md5
    * as BIGINT — identical bytes on both engines.
    */
  def h32Sql(e: String): String = s"('0x' || substr(md5($e), 1, 8))::BIGINT"

  /** Whitespace tokens of `text`, empty-safe (mirror of Dedup.tokens). */
  val toksSql = "list_filter(string_split(trim(text), ' '), x -> x <> '')"

  /** Word n-gram list over a token array `t` (mirror of
    * [[graft.ops.Dedup.shingles]]: space-joined windows, empty below n).
    */
  def ngramSql(t: String, n: Int): String =
    if (n == 1) t
    else {
      val cat = (0 until n).map(j => s"$t[i + $j]").mkString(" || ' ' || ")
      s"list_transform(generate_series(1, greatest(len($t) - ${n - 1}, 0)), i -> $cat)"
    }

  /** CMS replicated in SQL — per-(seed, bucket) counts from the whole
    * token stream, estimate = min over the `depth` seed rows; same
    * md5-prefix bucket hash as [[graft.functions.CmsHash]]. Shared by
    * `q_cms_freq` (batch build) and `stream_cms` (micro-batch sketches
    * merged) — the mergeable-summary property means both must hash-match
    * THIS one query.
    */
  def cmsFreqSql(depth: Int, width: Int, limit: Int): String = {
    val seeds = (0 until depth).mkString(", ")
    s"""WITH tk AS (SELECT unnest($toksSql) AS term FROM documents),
       |seeds AS (SELECT unnest([$seeds]) AS seed),
       |bc AS (
       |  SELECT seed, ${h32Sql("seed::VARCHAR || '|' || term")} % $width AS b,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM tk CROSS JOIN seeds
       |  GROUP BY 1, 2),
       |top AS (
       |  SELECT term, count(*) AS exact FROM tk GROUP BY term
       |  ORDER BY exact DESC, term LIMIT $limit)
       |SELECT t.term, min(bc.c) AS est, t.exact
       |FROM top t CROSS JOIN seeds s
       |JOIN bc ON bc.seed = s.seed
       |  AND bc.b = ${h32Sql("s.seed::VARCHAR || '|' || t.term")} % $width
       |GROUP BY t.term, t.exact
       |ORDER BY t.term""".stripMargin
  }

  /** The upsert-merge summary both `q_upsert` (batch) and
    * `stream_upsert` (micro-batched CDC into the partitioned store)
    * must hash-match — ONE definition, so the two checks cannot drift:
    * merge-by-key is batch-slicing invariant, which is exactly what
    * sharing this SQL asserts.
    */
  val upsertMergedSummarySql: String =
    """WITH updates AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    o_totalprice * 1.1 AS o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 10 = 0),
      |merged AS (
      |  SELECT * FROM orders
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
      |  UNION ALL SELECT * FROM updates)
      |SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM merged
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** Per-dimension PSI drift between the even- and odd-id halves of
    * the embeddings table (mirror of `VectorOps.dimDrift` at bins=10)
    * — shared by `v_drift` (batch) and `stream_drift` (cumulative
    * per-micro-batch snapshots): the final streamed snapshot must
    * hash-match THIS query, one definition for both checks.
    */
  val dimDriftSql: String =
    """WITH x AS (
      |  SELECT CAST(j AS BIGINT) AS dim, CAST(vec_id % 2 AS INT) AS s,
      |    embedding[j]::DOUBLE AS x
      |  FROM embeddings,
      |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS j) g),
      |rng AS (
      |  SELECT dim, min(x) AS lo, max(x) AS hi, (max(x) - min(x)) / 10 AS w
      |  FROM x GROUP BY dim),
      |c AS (
      |  SELECT x.dim,
      |    CASE WHEN r.w > 0 THEN least(floor((x.x - r.lo) / r.w), 9)::BIGINT
      |      ELSE 0 END AS b,
      |    sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS na,
      |    sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS nb
      |  FROM x JOIN rng r USING (dim) GROUP BY 1, 2),
      |t AS (
      |  SELECT dim, b, na, nb,
      |    sum(na) OVER (PARTITION BY dim) AS ta,
      |    sum(nb) OVER (PARTITION BY dim) AS tb
      |  FROM c)
      |SELECT dim, CAST(min(ta) AS BIGINT) AS n_a, CAST(min(tb) AS BIGINT) AS n_b,
      |  round(sum(((na + 1)::DOUBLE / (ta + 10) - (nb + 1)::DOUBLE / (tb + 10)) *
      |    ln(((na + 1)::DOUBLE / (ta + 10)) / ((nb + 1)::DOUBLE / (tb + 10)))), 6)
      |    AS psi
      |FROM t GROUP BY dim ORDER BY dim""".stripMargin

  // Vector math with exact fold-order parity to VectorOps (double cast,
  // sequential left-fold — bit-identical scores pre-rounding).
  def sqlSumSq(a: String): String =
    s"list_reduce(list_transform($a, x -> x::DOUBLE * x::DOUBLE), (acc, x) -> acc + x)"
  def sqlNorm(a: String): String = s"sqrt(${sqlSumSq(a)})"
  def sqlDot(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, len($a)), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (acc, x) -> acc + x)"
  def sqlCos(a: String, b: String): String =
    s"(${sqlDot(a, b)} / (${sqlNorm(a)} * ${sqlNorm(b)}))"

  /** The ONE oracle ranking rule, mirror of [[graft.ops.Knn.rankTopK]]: a
    * SELECT-list item numbering the rows of each `partition` by `orderBy`
    * (every key's direction and the unique tie-break spelled out), cast
    * to BIGINT as `rankAlias`. The caller keeps `rankAlias <= k`.
    */
  def topKSql(partition: String, orderBy: String, rankAlias: String = "rank"): String =
    s"CAST(row_number() OVER (PARTITION BY $partition ORDER BY $orderBy) AS BIGINT) AS $rankAlias"

  /** Exact cosine top-k over `src(vec_id, embedding)` against itself,
    * mirror of [[graft.ops.Knn.knnJoin]]: query rows `q` kept by
    * `qFilter`, point rows `p` by `pFilter`, ranked by score DESC with
    * ties to the lower point id. A SELECT of `(query_id, rank, point_id,
    * score)`, score rounded to 6 dp, with no ORDER BY.
    */
  def exactKnnSql(src: String, qFilter: String, pFilter: String, k: Int): String = {
    val cos = sqlCos("q.embedding", "p.embedding")
    s"""SELECT q.vec_id AS query_id, ${topKSql("q.vec_id", s"$cos DESC, p.vec_id")},
       |  p.vec_id AS point_id, round($cos, 6) AS score
       |FROM $src q, $src p
       |WHERE $qFilter AND $pFilter
       |QUALIFY rank <= $k""".stripMargin
  }

  /** The ONE nearest-centroid rule in SQL (mirrors
    * `SimilaritySearch.nearestCells`): each `src(pid, v)` row keeps its
    * `n` best cells of `cents(cid, c)` by `score(v, c)`, ties to the
    * lowest cid. A SELECT emitting `(pid, v, cid)`.
    */
  def nearestCellsSql(src: String, cents: String, score: (String, String) => String,
      n: Int): String =
    s"""SELECT pid, v, cid FROM (
       |  SELECT pid, v, cid, row_number() OVER (PARTITION BY pid ORDER BY s DESC, cid) AS rn
       |  FROM (SELECT p.pid, p.v, c.cid, ${score("p.v", "c.c")} AS s
       |        FROM $src p CROSS JOIN $cents c)) WHERE rn <= $n""".stripMargin

  /** Deterministic k-means over `src(pid, v)`, mirroring
    * `SimilaritySearch.lloyd` step for step: seeds `c0` = the `k`
    * lowest-pid rows (cid = pid), then `iters` rounds of assignment
    * (`a1`, `a2`, … by [[nearestCellsSql]]) and update (`c1`, `c2`, … =
    * per-component means rounded to 6 dp; a cell left empty keeps its
    * centroid), then `out(pid, v, cid)`, the final assignment. A CTE
    * list (no leading WITH). Every name but `out` ends in `sfx`, so
    * several chains share one WITH; with `iters = 2` the trained
    * centroids are `c2` + `sfx`, as `(cid, c)`.
    */
  def kmeansCtes(src: String, k: Int, iters: Int, score: (String, String) => String,
      out: String, sfx: String = ""): String = {
    def update(assigned: String, prev: String): String =
      s"""SELECT p.cid, coalesce(u.c, p.c) AS c FROM $prev p LEFT JOIN (
         |  SELECT cid, list(m ORDER BY j) AS c FROM (
         |    SELECT cid, j, round(avg(v[j]), 6) AS m
         |    FROM $assigned, LATERAL (SELECT unnest(generate_series(1, len(v))) AS j) g
         |    GROUP BY cid, j) GROUP BY cid) u ON p.cid = u.cid""".stripMargin
    val seeds =
      s"""c0$sfx AS (
         |  SELECT pid AS cid, v AS c
         |  FROM (SELECT pid, v FROM $src ORDER BY pid LIMIT $k))""".stripMargin
    val rounds = (1 to iters).map(i =>
      s"""a$i$sfx AS (${nearestCellsSql(src, s"c${i - 1}$sfx", score, 1)}),
         |c$i$sfx AS (${update(s"a$i$sfx", s"c${i - 1}$sfx")})""".stripMargin)
    (seeds +: rounds :+ s"$out AS (${nearestCellsSql(src, s"c$iters$sfx", score, 1)})")
      .mkString(",\n")
  }

  /** CTE body mirroring `Chunker.chunk` + the `doc_id*1000+chunk_index`
    * chunk keying (reference `Qdrant/main.py:36-41` semantics: trim and
    * drop empties BEFORE index assignment, min-len filter AFTER — index
    * gaps preserved). `src` must provide `(doc_id, text)`; emits rows
    * `(doc_id, chunk_index, chunk_text, chunk_id)`.
    */
  def chunkCte(src: String, sep: String = " the ", minLen: Int = 20): String =
    s"""SELECT doc_id, CAST(i - 1 AS BIGINT) AS chunk_index, paras[i] AS chunk_text,
       |    doc_id * 1000 + (i - 1) AS chunk_id
       |  FROM (SELECT doc_id,
       |          list_filter(list_transform(string_split(text, '$sep'), s -> trim(s)),
       |            s -> length(s) > 0) AS paras
       |        FROM $src) p,
       |    LATERAL (SELECT unnest(generate_series(1, len(paras))) AS i) g
       |  WHERE length(paras[i]) >= $minLen""".stripMargin

  /** CTE chain mirroring `Clean.removeBoilerplate`: segment split on the
    * literal `sep`, doc-frequency boilerplate detection at `minDocs`,
    * order-preserving reassembly. `src` must provide `(doc_id, text)`;
    * emits `<name>_out(doc_id, n_segs, n_kept, clean_text)` — one row
    * per input doc (all-boilerplate docs keep an empty clean_text).
    * Shared between the `text_clean` oracle and the composed
    * `pipeline_curate` oracle.
    */
  def cleanCtes(name: String, src: String, sep: String = " the ", minDocs: Int = 3): String =
    s"""${name}_segs AS (
       |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS idx, paras[i] AS seg
       |  FROM (SELECT doc_id,
       |          list_filter(list_transform(string_split(text, '$sep'), s -> trim(s)),
       |            s -> length(s) > 0) AS paras
       |        FROM $src) p,
       |    LATERAL (SELECT unnest(generate_series(1, len(paras))) AS i) g),
       |${name}_dfq AS (
       |  SELECT lower(seg) AS key, count(DISTINCT doc_id) AS nd
       |  FROM ${name}_segs GROUP BY 1),
       |${name}_fl AS (
       |  SELECT s.doc_id, s.idx, s.seg, d.nd >= $minDocs AS b
       |  FROM ${name}_segs s JOIN ${name}_dfq d ON lower(s.seg) = d.key),
       |${name}_agg AS (
       |  SELECT doc_id, count(*) AS n_segs,
       |    count(*) FILTER (NOT b) AS n_kept,
       |    coalesce(string_agg(CASE WHEN NOT b THEN seg END, '$sep' ORDER BY idx), '')
       |      AS clean_text
       |  FROM ${name}_fl GROUP BY doc_id),
       |${name}_out AS (
       |  SELECT d.doc_id,
       |    coalesce(a.n_segs, 0) AS n_segs,
       |    coalesce(a.n_kept, 0) AS n_kept,
       |    coalesce(a.clean_text, '') AS clean_text
       |  FROM $src d LEFT JOIN ${name}_agg a USING (doc_id))""".stripMargin

  /** CTE chain mirroring `TextAnalysis.qualityFilter` — the per-doc
    * quality/repetition signals plus the first-failing-rule cascade.
    * `src` must provide `(doc_id, text)`; emits
    * `<name>_r(doc_id, n_tokens, avg_token_len, stopword_ratio,
    * type_token_ratio, top_unigram_frac, dup_trigram_frac, reason)`.
    * Shared between the batch `text_quality` oracle and the streaming
    * `stream_quality` convergence oracle (single-source: the cascade
    * thresholds exist once in SQL).
    */
  def qualityCtes(name: String, src: String): String =
    s"""${name}_tl AS (SELECT doc_id, text, $toksSql AS t FROM $src),
       |${name}_st AS (
       |  SELECT doc_id,
       |    CAST(len(t) AS BIGINT) AS n_tokens,
       |    CASE WHEN len(t) = 0 THEN NULL ELSE
       |      round(list_reduce(list_transform(t, x -> CAST(length(x) AS BIGINT)),
       |        (a, b) -> a + b)::DOUBLE / len(t), 6) END AS avg_token_len,
       |    round(len(list_filter(t, x -> list_contains(['the','a','of','and','is'], x)))::DOUBLE
       |      / nullif(len(t), 0), 6) AS stopword_ratio,
       |    round(len(list_distinct(t))::DOUBLE / nullif(len(t), 0), 6) AS type_token_ratio
       |  FROM ${name}_tl),
       |${name}_u AS (SELECT doc_id, round(max(c)::DOUBLE / sum(c), 6) AS top_unigram_frac FROM (
       |  SELECT doc_id, g, count(*) AS c
       |  FROM (SELECT doc_id, unnest(t) AS g FROM ${name}_tl) GROUP BY 1, 2) GROUP BY doc_id),
       |${name}_tg AS (SELECT doc_id,
       |    round(coalesce((sum(c) - count(*))::DOUBLE / sum(c), 0.0), 6) AS dup_trigram_frac
       |  FROM (
       |    SELECT doc_id, g, count(*) AS c
       |    FROM (SELECT doc_id, unnest(${ngramSql("t", 3)}) AS g FROM ${name}_tl)
       |    GROUP BY 1, 2) GROUP BY doc_id),
       |${name}_j AS (
       |  SELECT st.doc_id, st.n_tokens, st.avg_token_len, st.stopword_ratio,
       |    st.type_token_ratio, u.top_unigram_frac, coalesce(tg.dup_trigram_frac, 0.0)
       |      AS dup_trigram_frac
       |  FROM ${name}_st st JOIN ${name}_u u USING (doc_id)
       |  LEFT JOIN ${name}_tg tg USING (doc_id)),
       |${name}_r AS (
       |  SELECT *,
       |    CASE WHEN n_tokens < 12 THEN 'too_short'
       |         WHEN n_tokens > 100000 THEN 'too_long'
       |         WHEN avg_token_len < 2.0 OR avg_token_len > 12.0 THEN 'token_len'
       |         WHEN stopword_ratio < 0.01 THEN 'no_stopwords'
       |         WHEN top_unigram_frac > 0.125 THEN 'repetitive_unigram'
       |         WHEN dup_trigram_frac > 0.5 THEN 'repetitive_trigram'
       |         WHEN type_token_ratio < 0.3 THEN 'low_diversity'
       |         ELSE 'ok' END AS reason
       |  FROM ${name}_j)""".stripMargin

  /** CTE chain mirroring `VectorOps.embedTextPortable` (hashed BoW,
    * L2-normalized, md5-prefix bucket hash): `src` must select
    * `(id, __txt)`; emits `<name>_emb(id, v LIST<DOUBLE>)`.
    */
  def embedCtes(name: String, src: String, dim: Int): String =
    s"""${name}_tok AS (
       |  SELECT id, unnest(list_filter(string_split(trim(lower(__txt)), ' '), x -> x <> '')) AS tok
       |  FROM $src),
       |${name}_cnt AS (
       |  SELECT id, CAST(${h32Sql("tok")} % $dim AS INT) AS b, count(*)::DOUBLE AS c
       |  FROM ${name}_tok GROUP BY 1, 2),
       |${name}_nrm AS (SELECT id, sqrt(sum(c * c)) AS n FROM ${name}_cnt GROUP BY id),
       |${name}_emb AS (
       |  SELECT d.id,
       |    list(coalesce(c.c, 0.0) / (CASE WHEN n.n = 0 THEN 1.0 ELSE n.n END) ORDER BY d.j) AS v
       |  FROM (SELECT id, unnest(generate_series(0, ${dim - 1})) AS j
       |        FROM (SELECT DISTINCT id FROM ${name}_tok)) d
       |  LEFT JOIN ${name}_cnt c ON d.id = c.id AND d.j = c.b
       |  JOIN ${name}_nrm n ON d.id = n.id
       |  GROUP BY d.id)""".stripMargin

  /** The per-SOURCE data card (six metrics grouped by source) —
    * shared by the raw-text `pipeline_source_cards` and the
    * profile-backed `pipeline_source_cards_inc` (layout variants of
    * one semantics, the [[dataCardSql]] discipline).
    */
  lazy val sourceCardsSql: String =
    s"""WITH tl AS (SELECT source, doc_id, $toksSql AS t, sha256(text) AS ch FROM documents),
       |base AS (
       |  SELECT source, count(*)::DOUBLE AS nd, CAST(sum(len(t)) AS DOUBLE) AS tot,
       |    round(avg(len(t)), 6) AS meantok, count(DISTINCT ch)::DOUBLE AS ncl
       |  FROM tl GROUP BY source),
       |vocab AS (
       |  SELECT source, count(DISTINCT tok)::DOUBLE AS v
       |  FROM (SELECT source, unnest(t) AS tok FROM tl) GROUP BY source),
       |${qualityCtes("sc", "documents")},
       |ok AS (
       |  SELECT d.source,
       |    round(avg(CASE WHEN r.reason = 'ok' THEN 1.0 ELSE 0.0 END), 6) AS okf
       |  FROM sc_r r JOIN documents d ON r.doc_id = d.doc_id
       |  GROUP BY d.source)
       |SELECT base.source, metric, value FROM base
       |LEFT JOIN vocab USING (source)
       |LEFT JOIN ok USING (source),
       |LATERAL (VALUES
       |  ('n_docs', nd), ('total_ws_tokens', tot), ('mean_doc_tokens', meantok),
       |  ('vocab_size', coalesce(v, 0.0)),
       |  ('dup_doc_frac', round(1.0 - ncl / nd, 6)),
       |  ('quality_ok_frac', okf)) m(metric, value)
       |ORDER BY base.source, metric""".stripMargin

  /** The six-metric corpus data card over `documents` — shared by the
    * raw-text `pipeline_data_card`, the profile-backed
    * `pipeline_data_card_inc`, and the streaming `stream_data_card`
    * (all three are layout/incrementality variants of one semantics).
    */
  lazy val dataCardSql: String =
    s"""WITH tl AS (SELECT doc_id, $toksSql AS t FROM documents),
       |base AS (
       |  SELECT count(*)::DOUBLE AS nd, CAST(sum(len(t)) AS DOUBLE) AS tot,
       |    round(avg(len(t)), 6) AS meantok
       |  FROM tl),
       |vocab AS (
       |  SELECT count(DISTINCT tok)::DOUBLE AS v FROM (SELECT unnest(t) AS tok FROM tl)),
       |cl AS (
       |  SELECT count(*)::DOUBLE AS ncl FROM (
       |    SELECT sha256(text) AS ch FROM documents GROUP BY 1)),
       |${qualityCtes("dc", "documents")},
       |ok AS (
       |  SELECT round(avg(CASE WHEN reason = 'ok' THEN 1.0 ELSE 0.0 END), 6) AS okf
       |  FROM dc_r)
       |SELECT metric, value FROM (
       |  SELECT 'n_docs' AS metric, nd AS value FROM base
       |  UNION ALL SELECT 'total_ws_tokens', tot FROM base
       |  UNION ALL SELECT 'mean_doc_tokens', meantok FROM base
       |  UNION ALL SELECT 'vocab_size', v FROM vocab
       |  UNION ALL SELECT 'dup_doc_frac', round(1.0 - cl.ncl / base.nd, 6)
       |    FROM cl, base
       |  UNION ALL SELECT 'quality_ok_frac', okf FROM ok)
       |ORDER BY metric""".stripMargin

  /** Committed fixture directory, interpolated into BOTH the Spark read
    * and the DuckDB oracle of the fixture-backed queries
    * (`q_csv_roundtrip`, `q_jsonl_ingest`, `sim_recall_clustered`: same
    * file, two readers). Overridable for dev checkouts at a
    * non-standard path.
    */
  val FixturesDir: String =
    sys.props.getOrElse("graft.fixtures.dir", "/root/repo/data/fixtures")

  /** Shared prefix: tokenize → trigram shingles → portable hash →
    * 16-seed MinHash signatures → 2×8 band table. Doc signatures are
    * independent of every other doc, so the SAME band table serves the
    * symmetric self-join (`minhashPairsCte`) and the asymmetric
    * batch-vs-corpus join (`dedup_incremental`).
    */
  def minhashBandsCteFrom(src: String): String =
    s"""tl AS (SELECT doc_id, $toksSql AS t FROM $src),
       |sh AS (
       |  SELECT DISTINCT doc_id, unnest(${ngramSql("t", 3)}) AS sh
       |  FROM tl),
       |shh AS (SELECT doc_id, ${h32Sql("sh")} AS h FROM sh),
       |seeds AS (SELECT unnest(generate_series(0, 15)) AS seed),
       |mh AS (
       |  SELECT doc_id, seed,
       |    min(((1 + 104729 * seed) * h + (12345 + 7919 * seed)) % 4294967311) AS mh
       |  FROM shh, seeds GROUP BY doc_id, seed),
       |bands AS (
       |  SELECT doc_id, seed // 8 AS band, string_agg(mh::VARCHAR, ',' ORDER BY seed) AS key
       |  FROM mh GROUP BY doc_id, band)""".stripMargin

  lazy val minhashBandsCte: String = minhashBandsCteFrom("documents")

  /** The pairs chain WITHOUT the leading WITH, parameterized over the
    * `(doc_id, text)` source relation — composable inside a larger
    * WITH chain (`pipeline_e2e` runs it over the cleaned+quality-ok
    * corpus, not raw documents).
    */
  def minhashPairsBodyFrom(src: String): String =
    s"""${minhashBandsCteFrom(src)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |sets AS (SELECT doc_id, list(DISTINCT h) AS s FROM shh GROUP BY doc_id),
       |prs AS (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(sa.s, sb.s))::DOUBLE /
       |      len(list_distinct(list_concat(sa.s, sb.s))) AS j
       |  FROM cand
       |  JOIN sets sa ON cand.doc_a = sa.doc_id
       |  JOIN sets sb ON cand.doc_b = sb.doc_id
       |  WHERE len(list_intersect(sa.s, sb.s))::DOUBLE /
       |      len(list_distinct(list_concat(sa.s, sb.s))) >= 0.5)""".stripMargin

  /** Shared DuckDB CTE: MinHash-LSH candidate pairs verified at j ≥ 0.5
    * (mirrors Dedup.minHashLsh with 3-gram shingles, 16 hashes,
    * 2 bands × 8 rows). Trigram shingles are the standard MinHash
    * configuration: with unigrams the synthetic corpus' shared
    * vocabulary made nearly every doc pair a band collision (2.3M
    * candidate pairs from 5k docs at sf0.1); trigrams isolate the ~244
    * genuinely near-duplicate pairs at ~10,000× less verify work.
    */
  lazy val minhashPairsCte: String =
    "WITH " + minhashPairsBodyFrom("documents")

  /** Connected-component labels over the `prs` pair set (mirrors
    * [[graft.ops.Dedup.clusterLabels]]'s fixed point: every doc's label
    * is the minimum doc id of its component); ends at
    * `labels(doc_id, label)`. ONE definition for every label oracle
    * (`dedup_cluster`, `dedup_keep_best`, `q_leakfree_split`,
    * `sim_semdedup`, `sim_semdedup_vol`, `pipeline_e2e`). Expects
    * `prs(doc_a, doc_b, …)` in scope and `docsSrc` to carry `doc_id`.
    *
    * The propagation loop's fixed point is the transitive closure of
    * the edges: `WITH RECURSIVE … UNION` (set semantics, so it stops
    * once no new (src, dst) pair appears) reaches every doc of the
    * component, whatever its chain length. The recursion is nested in
    * the `labels` body, so a consumer's top-level `WITH` stays plain.
    */
  def clusterLabelCtesFrom(docsSrc: String): String =
    // MATERIALIZED: DuckDB 1.0 INLINES a CTE at every reference, and
    // the closure reads `edges` in its base case and again on every
    // recursive step, so an unmaterialized chain would re-derive the
    // whole upstream (prs' band self-join, and in pipeline_e2e the
    // clean→quality→minhash lineage) per reference — the unrolled form
    // this replaced measured that as a 19-CPU-minute oracle stall on a
    // 393-doc corpus. Materialization is semantics-neutral; each CTE
    // computes once.
    s"""edges AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM prs
       |  UNION ALL SELECT doc_b, doc_a FROM prs),
       |l0 AS MATERIALIZED (SELECT doc_id, doc_id AS label FROM $docsSrc),
       |labels AS MATERIALIZED (
       |  WITH RECURSIVE reach(src, dst) AS (
       |    SELECT src, dst FROM edges
       |    UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
       |  SELECT l0.doc_id, least(l0.label, coalesce(min(r.dst), l0.label)) AS label
       |  FROM l0 LEFT JOIN reach r ON r.src = l0.doc_id
       |  GROUP BY l0.doc_id, l0.label)""".stripMargin

  lazy val clusterLabelCtes: String = clusterLabelCtesFrom("documents")

  /** BM25 CTE chain mirroring Retrieval.bm25TopK step for step
    * (postings → doc lengths folded from postings → df → one-row
    * corpus stats → distinct query terms of docs 0..7 → df-capped
    * idf weights → scored → ranked-on-rounded-score top-k). Shared by
    * `text_bm25` (k=5) and the hybrid fusion (k=10). Ends at CTE
    * `bmr(query_id, doc_id, score, rank)`.
    */
  def bm25Ctes(k: Int): String =
    s"""tok25 AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
       |tf25 AS (SELECT doc_id, term, count(*) AS tf FROM tok25 GROUP BY 1, 2),
       |dl25 AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf25 GROUP BY 1),
       |df25 AS (SELECT term, count(*) AS df
       |         FROM (SELECT DISTINCT doc_id, term FROM tok25) GROUP BY 1),
       |st25 AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl25),
       |qt25 AS (SELECT doc_id AS query_id, unnest(list_distinct($toksSql)) AS term
       |         FROM documents WHERE doc_id < 8),
       |qw25 AS (SELECT qt25.query_id, qt25.term,
       |           ln((st25.n - df + 0.5) / (df + 0.5) + 1) AS idf
       |         FROM qt25 JOIN df25 USING (term), st25
       |         WHERE df::DOUBLE <= 0.8 * st25.n),
       |sc25 AS (SELECT qw25.query_id, tf25.doc_id,
       |           round(sum(qw25.idf * (tf * (1.2 + 1)) /
       |             (tf + 1.2 * (1 - 0.75 + 0.75 * dl25.dl / st25.avgdl))), 6) AS score
       |         FROM qw25 JOIN tf25 USING (term)
       |           JOIN dl25 ON tf25.doc_id = dl25.doc_id, st25
       |         GROUP BY 1, 2),
       |bmr AS (SELECT query_id, doc_id, score, ${topKSql("query_id", "score DESC, doc_id")}
       |        FROM sc25 QUALIFY rank <= $k)""".stripMargin
}
