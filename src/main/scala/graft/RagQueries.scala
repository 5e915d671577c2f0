package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** The RAG and evaluation family (`rag_*`, `eval_*`): the reference
  * pipeline (kNN → budgeted context → prediction → prompt) and its
  * Recall/MRR, nDCG and MAP scoring, plus hybrid BM25+dense fusion and
  * MMR re-ranking. Each registration carries its Spark builder and its
  * DuckDB oracle.
  */
object RagQueries {

  import OracleSql.{bm25Ctes, chunkCte, embedCtes, exactKnnSql, sqlCos, sqlDot, topKSql}

  // Shared oracle CTE for the RAG hit set (mirrors Rag.hits exactly).
  private val ragHitsCte: String =
    s"""WITH pts AS (
       |  SELECT e.vec_id AS point_id, e.embedding, d.text
       |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
       |q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
       |hits AS (
       |  SELECT q.query_id, p.point_id, trim(coalesce(p.text, '')) AS t,
       |    ${topKSql("q.query_id", s"${sqlCos("q.embedding", "p.embedding")} DESC, p.point_id")}
       |  FROM q, pts p
       |  QUALIFY rank <= 5)""".stripMargin

  /** The λ both the `rag_mmr` query and its oracle use. The oracle
    * interpolates λ AND Scala's `1.0 - λ` (0.30000000000000004, NOT
    * the SQL literal 0.3 — binary doubles differ in the last bit, and
    * the MMR objective is compared rounded to 6 dp after multiplying
    * by it) so both engines compute bit-identical objectives.
    */
  private val MmrLambda = 0.7

  /** MMR oracle: top-8 cosine pool per query, pairwise in-pool sims,
    * then the greedy selection unrolled — pick 1 is max rounded rel;
    * each later pick maximizes `λ·rel − (1−λ)·max-sim-to-selected`
    * (rounded before the argmax, ties to the lowest point id).
    * Mirrors Retrieval.mmrRerank step for step.
    */
  private lazy val mmrSelect: String =
    mmrSelectFrom(
      s"""hp AS (
         |  SELECT query_id, point_id, v, rel FROM (
         |    SELECT q.vec_id AS query_id, p.vec_id AS point_id, p.embedding AS v,
         |      ${sqlCos("q.embedding", "p.embedding")} AS rel,
         |      ${topKSql("q.vec_id", s"${sqlCos("q.embedding", "p.embedding")} DESC, p.vec_id", "rn")}
         |    FROM embeddings q, embeddings p
         |    WHERE q.vec_id < 5 AND p.vec_id >= 10) WHERE rn <= 8)""".stripMargin)

  /** The greedy-selection tail parameterized by the pool: `poolCtes`
    * must be a complete CTE list (no leading WITH) whose LAST entry is
    * `hp(query_id, point_id, v, rel)` — the candidate pool MMR
    * selects from. Shared by `rag_mmr` (cosine pool) and
    * `rag_hybrid_mmr` (RRF pool).
    */
  private def mmrSelectFrom(poolCtes: String): String = {
    val lam = MmrLambda; val oneMinus = 1.0 - MmrLambda
    val selectK = 3
    def objExpr(relCol: String, maxsimCol: String) =
      s"round($relCol * $lam - $maxsimCol * $oneMinus, 6)"
    val steps = (2 to selectK).map { t =>
      val selu = if (t == 2) "sel1"
        else s"(SELECT query_id, point_id FROM sel1" +
          (2 until t).map(i => s" UNION ALL SELECT query_id, point_id FROM sel$i")
            .mkString + ")"
      s"""p$t AS (
         |  SELECT h.query_id, h.point_id, h.rel, max(s.sim) AS maxsim
         |  FROM hp h
         |  LEFT JOIN $selu x ON x.query_id = h.query_id AND x.point_id = h.point_id
         |  JOIN simsp s ON s.query_id = h.query_id AND s.pa = h.point_id
         |  JOIN $selu sel ON sel.query_id = s.query_id AND sel.point_id = s.pb
         |  WHERE x.point_id IS NULL
         |  GROUP BY 1, 2, 3),
         |sel$t AS (
         |  SELECT query_id, point_id, obj FROM (
         |    SELECT query_id, point_id, ${objExpr("rel", "maxsim")} AS obj,
         |      ${topKSql("query_id", s"${objExpr("rel", "maxsim")} DESC, point_id", "r")}
         |    FROM p$t) WHERE r = 1)""".stripMargin
    }.mkString(",\n")
    val out = (1 to selectK).map(t =>
      s"SELECT query_id, CAST($t AS BIGINT) AS sel_rank, point_id, obj AS objective FROM sel$t")
      .mkString("\n  UNION ALL ")
    s"""WITH $poolCtes,
       |simsp AS (
       |  SELECT a.query_id, a.point_id AS pa, b.point_id AS pb,
       |    ${sqlCos("a.v", "b.v")} AS sim
       |  FROM hp a JOIN hp b
       |    ON a.query_id = b.query_id AND a.point_id <> b.point_id),
       |sel1 AS (
       |  SELECT query_id, point_id, obj FROM (
       |    SELECT query_id, point_id, round(rel, 6) AS obj,
       |      ${topKSql("query_id", "round(rel, 6) DESC, point_id", "r")}
       |    FROM hp) WHERE r = 1),
       |$steps
       |SELECT * FROM (
       |  $out)
       |ORDER BY query_id, sel_rank""".stripMargin
  }

  /** Hybrid-retrieval CTE chain: BM25 top-10 (`bm25Ctes`) + dense
    * cosine top-10 + reciprocal-rank fusion, ending at
    * `hyb(query_id, doc_id, rrf, rank)` truncated to the top `k` —
    * mirrors Retrieval.rrfFuse over bm25TopK/knnJoin. Shared by
    * `rag_hybrid` (k=5 output) and `rag_hybrid_mmr` (k=8 pool).
    */
  private def hybridCtes(k: Int): String =
    s"""${bm25Ctes(10)},
       |vr AS (
       |  SELECT query_id, point_id AS doc_id, rank
       |  FROM (${exactKnnSql("embeddings", "q.vec_id < 8", "true", 10)})),
       |fus AS (
       |  SELECT coalesce(a.query_id, b.query_id) AS query_id,
       |    coalesce(a.doc_id, b.doc_id) AS doc_id,
       |    round(coalesce(1.0 / (60 + a.rank), 0) + coalesce(1.0 / (60 + b.rank), 0), 6)
       |      AS rrf
       |  FROM bmr a FULL OUTER JOIN vr b
       |    ON a.query_id = b.query_id AND a.doc_id = b.doc_id),
       |hyb AS (
       |  SELECT query_id, doc_id, rrf, ${topKSql("query_id", "rrf DESC, doc_id")}
       |  FROM fus QUALIFY rank <= $k)""".stripMargin

  /** The rag_hybrid_mmr oracle statement, shared verbatim with the
    * MMR path of `eval_ndcg_paths` (embedded there as a subquery).
    */
  private lazy val hybridMmrSql: String =
    mmrSelectFrom(
      s"""${hybridCtes(8)},
         |hp AS (
         |  SELECT h.query_id, h.doc_id AS point_id, e.embedding AS v,
         |    round(h.rrf / max(h.rrf) OVER (PARTITION BY h.query_id), 6) AS rel
         |  FROM hyb h JOIN embeddings e ON e.vec_id = h.doc_id)""".stripMargin)

  val entries: Seq[Query] = Seq(
    // ---- RAG assembly + prediction + evaluation (SURVEY §2.4–§2.6) ----
    Query("rag_context", s"""$ragHitsCte,
         |budget AS (
         |  SELECT query_id, point_id, rank, t,
         |    coalesce(sum(length(t)) OVER (PARTITION BY query_id ORDER BY rank
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
         |  FROM hits WHERE length(t) > 0),
         |parts AS (
         |  SELECT query_id, rank,
         |    '[Page ' || point_id || ' | Chunk ' || rank || ']' || chr(10) ||
         |      substr(t, 1, CAST(greatest(least(800 - prev, length(t)), 0) AS INT)) AS part,
         |    least(length(t), 800 - prev) AS used
         |  FROM budget WHERE prev < 800)
         |SELECT query_id,
         |  string_agg(part, chr(10) || chr(10) || '---' || chr(10) || chr(10) ORDER BY rank)
         |    AS context,
         |  CAST(sum(used) AS BIGINT) AS context_text_chars
         |FROM parts
         |GROUP BY query_id
         |ORDER BY query_id""".stripMargin)((s, d) => Rag.contextQuery(s, d)),
    Query("rag_predict", s"""$ragHitsCte,
         |toks AS (
         |  SELECT query_id, unnest(string_split(trim(t), ' ')) AS tok FROM hits),
         |cnt AS (
         |  SELECT query_id, tok, count(*) AS c FROM toks WHERE tok <> '' GROUP BY 1, 2),
         |top AS (
         |  SELECT query_id, tok, c, ${topKSql("query_id", "c DESC, tok", "r")}
         |  FROM cnt QUALIFY r <= 5)
         |SELECT query_id, string_agg(tok, ',' ORDER BY r) AS predicted,
         |  CAST(sum(c) AS BIGINT) AS support
         |FROM top
         |GROUP BY query_id
         |ORDER BY query_id""".stripMargin)((s, d) => Rag.predictQuery(s, d)),
    // the CHECKED flagship: portable bucket hash → the whole reference
    // pipeline (§3.2: chunk → embed → kNN → context → predict → prompt)
    // hash-matches the DuckDB oracle end-to-end
    // Full flagship pipeline, step-for-step: chunker (gap-preserving
    // indexes, minLen=20, literal ' the ' separator) → portable hashed-BoW
    // embedding (dim 64) for chunks and queries → dot-metric kNN (both
    // sides L2-normalized) with (score DESC, chunk_id) total order →
    // char-budgeted context (500) → top-5-term extractive prediction →
    // prompt projection with the Thai empty-context fallback.
    Query("rag_flagship", s"""WITH ch AS (${chunkCte("documents")}),
         |${embedCtes("ce", "(SELECT chunk_id AS id, chunk_text AS __txt FROM ch)", 64)},
         |${embedCtes("qe", "(SELECT doc_id AS id, text AS __txt FROM documents WHERE doc_id < 5)", 64)},
         |hits AS (
         |  SELECT q.id AS query_id, c.id AS chunk_id,
         |    ${topKSql("q.id", s"${sqlDot("q.v", "c.v")} DESC, c.id")}
         |  FROM qe_emb q, ce_emb c
         |  QUALIFY rank <= 5),
         |hx AS (
         |  SELECT h.query_id, h.rank, ch.doc_id AS page, ch.chunk_index,
         |    trim(coalesce(ch.chunk_text, '')) AS t, ch.chunk_text
         |  FROM hits h JOIN ch ON h.chunk_id = ch.chunk_id),
         |budget AS (
         |  SELECT query_id, page, chunk_index, rank, t,
         |    coalesce(sum(length(t)) OVER (PARTITION BY query_id ORDER BY rank
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
         |  FROM hx WHERE length(t) > 0),
         |parts AS (
         |  SELECT query_id, rank,
         |    '[Page ' || page || ' | Chunk ' || chunk_index || ']' || chr(10) ||
         |      substr(t, 1, CAST(greatest(least(500 - prev, length(t)), 0) AS INT)) AS part,
         |    least(length(t), 500 - prev) AS used
         |  FROM budget WHERE prev < 500),
         |ctx AS (
         |  SELECT query_id,
         |    string_agg(part, chr(10) || chr(10) || '---' || chr(10) || chr(10) ORDER BY rank)
         |      AS context,
         |    CAST(sum(used) AS BIGINT) AS context_text_chars
         |  FROM parts GROUP BY query_id),
         |ptok AS (SELECT query_id, unnest(string_split(trim(chunk_text), ' ')) AS tok FROM hx),
         |pcnt AS (SELECT query_id, tok, count(*) AS c FROM ptok WHERE tok <> '' GROUP BY 1, 2),
         |ptop AS (
         |  SELECT query_id, tok, ${topKSql("query_id", "c DESC, tok", "r")}
         |  FROM pcnt QUALIFY r <= 5),
         |pred AS (
         |  SELECT query_id, string_agg(tok, ' ' ORDER BY r) AS predicted FROM ptop GROUP BY query_id),
         |qq AS (SELECT doc_id AS query_id, text AS question FROM documents WHERE doc_id < 5)
         |SELECT qq.query_id,
         |  coalesce(ctx.context, '') AS context,
         |  coalesce(ctx.context_text_chars, 0) AS context_text_chars,
         |  coalesce(pred.predicted, '') AS predicted,
         |  'คุณเป็นผู้ช่วยกฎหมาย จงตอบโดยอ้างอิงมาตราที่เกี่ยวข้อง' || chr(10) || chr(10) ||
         |    'บริบท:' || chr(10) ||
         |    (CASE WHEN length(coalesce(ctx.context, '')) = 0 THEN '(ไม่พบบริบท)'
         |      ELSE ctx.context END) || chr(10) || chr(10) ||
         |    'คำถาม: ' || qq.question AS prompt
         |FROM qq
         |LEFT JOIN ctx ON qq.query_id = ctx.query_id
         |LEFT JOIN pred ON qq.query_id = pred.query_id
         |ORDER BY qq.query_id""".stripMargin)((s, d) => Rag.flagship(s, d, portableHash = true)),
    Query("eval_per_row", """WITH g AS (
        |  SELECT user_id,
        |    string_agg(json_extract_string(props, '$.k'), ', ' ORDER BY ts, event_id) AS answers
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |p AS (
        |  SELECT user_id,
        |    string_agg(json_extract_string(props, '$.k'), ' ' ORDER BY ts, event_id) AS predicted
        |  FROM events GROUP BY user_id),
        |m AS (
        |  SELECT g.user_id,
        |    list_distinct(regexp_extract_all(coalesce(answers, ''), '\p{Nd}+')) AS gold,
        |    list_slice(regexp_extract_all(coalesce(predicted, ''), '\p{Nd}+'), 1, 5) AS predk
        |  FROM g JOIN p ON g.user_id = p.user_id)
        |SELECT user_id,
        |  round(CASE WHEN len(gold) = 0 THEN 0.0
        |    ELSE len(list_intersect(gold, predk))::DOUBLE / len(gold) END, 6) AS recall_at_k,
        |  round(coalesce(1.0 / list_position(
        |    list_transform(predk, x -> list_contains(gold, x)), true), 0.0), 6) AS mrr_at_k
        |FROM m
        |ORDER BY user_id""".stripMargin)((s, d) => Eval.evalPerRow(s, d)),
    Query("eval_macro", """WITH g AS (
        |  SELECT user_id,
        |    string_agg(json_extract_string(props, '$.k'), ', ' ORDER BY ts, event_id) AS answers
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |p AS (
        |  SELECT user_id,
        |    string_agg(json_extract_string(props, '$.k'), ' ' ORDER BY ts, event_id) AS predicted
        |  FROM events GROUP BY user_id),
        |m AS (
        |  SELECT g.user_id,
        |    list_distinct(regexp_extract_all(coalesce(answers, ''), '\p{Nd}+')) AS gold,
        |    list_slice(regexp_extract_all(coalesce(predicted, ''), '\p{Nd}+'), 1, 5) AS predk
        |  FROM g JOIN p ON g.user_id = p.user_id),
        |r AS (
        |  SELECT
        |    CASE WHEN len(gold) = 0 THEN 0.0
        |      ELSE len(list_intersect(gold, predk))::DOUBLE / len(gold) END AS recall_at_k,
        |    coalesce(1.0 / list_position(
        |      list_transform(predk, x -> list_contains(gold, x)), true), 0.0) AS mrr_at_k
        |  FROM m)
        |SELECT round(coalesce(avg(recall_at_k), 0.0), 6) AS avg_recall_at_k,
        |  round(coalesce(avg(mrr_at_k), 0.0), 6) AS avg_mrr_at_k
        |FROM r""".stripMargin)((s, d) => Eval.evalMacro(s, d)),
    // nDCG@5 with label-match relevance over the exact kNN ranking —
    // the position-sensitive retrieval-quality metric (extension: the
    // reference's eval stops at Recall/MRR, which see only membership
    // and the FIRST relevant hit; nDCG credits every relevant hit by
    // position against the ideal ordering of the same result set)
    Query("eval_ndcg", s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding, label AS q_label
         |  FROM embeddings WHERE vec_id < 10),
         |p AS (
         |  SELECT vec_id AS point_id, embedding, label AS p_label
         |  FROM embeddings WHERE vec_id >= 10),
         |hits AS (
         |  SELECT query_id, rank, q_label, p_label FROM (
         |    SELECT q.query_id, q.q_label, p.p_label,
         |      ${topKSql("q.query_id", s"${sqlCos("q.embedding", "p.embedding")} DESC, p.point_id")}
         |    FROM q, p
         |    QUALIFY rank <= 5)),
         |rel AS (
         |  SELECT query_id, rank,
         |    CASE WHEN q_label = p_label THEN 1 ELSE 0 END AS rel
         |  FROM hits),
         |per AS (
         |  SELECT query_id,
         |    CAST(sum(rel) AS BIGINT) AS n_rel,
         |    list_reduce(
         |      list_prepend(0.0::DOUBLE,
         |        list(rel::DOUBLE / log2((rank + 1)::DOUBLE) ORDER BY rank)),
         |      (a, b) -> a + b) AS dcg
         |  FROM rel GROUP BY query_id),
         |norm AS (
         |  SELECT query_id, n_rel, dcg,
         |    CASE WHEN n_rel = 0 THEN 0.0::DOUBLE ELSE
         |      list_reduce(
         |        list_prepend(0.0::DOUBLE,
         |          list_transform(generate_series(1, n_rel),
         |            i -> 1.0::DOUBLE / log2((i + 1)::DOUBLE))),
         |        (a, b) -> a + b)
         |    END AS idcg
         |  FROM per)
         |SELECT query_id, n_rel, round(dcg, 6) AS dcg,
         |  round(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END, 6) AS ndcg
         |FROM norm ORDER BY query_id""".stripMargin)((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val points = emb.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("point_id"), col("embedding"), col("label").as("p_label"))
      // knnJoin carries the point-side payload columns through, so
      // p_label rides along with each hit; only the query label joins
      val hits = Knn.knnJoin(queries, points, "vec_id", "embedding", "point_id", "embedding", 5)
        .join(queries.select(col("vec_id").as("query_id"), col("label").as("q_label")),
          "query_id")
        .withColumn("rel", (col("q_label") === col("p_label")).cast("int"))
      Eval.ndcgAtK(hits, "query_id", "rank", "rel").orderBy(col("query_id"))
    }),
    // average precision per query over the same label-relevance kNN
    // ranking — the third IR axis (position-sensitive, ungraded);
    // mean over the rows = MAP. Normalized the standard way:
    // min(total relevant in the corpus, k) — the per-query relevant
    // count is one label-frequency aggregate (index-sized shuffle)
    Query("eval_map", s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding, label AS q_label
         |  FROM embeddings WHERE vec_id < 10),
         |p AS (
         |  SELECT vec_id AS point_id, embedding, label AS p_label
         |  FROM embeddings WHERE vec_id >= 10),
         |hits AS (
         |  SELECT query_id, rank, q_label, p_label FROM (
         |    SELECT q.query_id, q.q_label, p.p_label,
         |      ${topKSql("q.query_id", s"${sqlCos("q.embedding", "p.embedding")} DESC, p.point_id")}
         |    FROM q, p
         |    QUALIFY rank <= 5)),
         |rel AS (
         |  SELECT query_id, rank,
         |    CASE WHEN q_label = p_label THEN 1 ELSE 0 END AS rel
         |  FROM hits),
         |terms AS (
         |  SELECT query_id, rank, rel,
         |    rel::DOUBLE * (sum(rel) OVER (PARTITION BY query_id ORDER BY rank
         |      ROWS UNBOUNDED PRECEDING))::DOUBLE / rank AS term
         |  FROM rel),
         |tr AS (
         |  SELECT q.query_id, count(p.point_id) AS total_rel
         |  FROM q LEFT JOIN p ON q.q_label = p.p_label
         |  GROUP BY q.query_id)
         |SELECT t.query_id,
         |  CAST(sum(rel) AS BIGINT) AS n_rel,
         |  round(CASE WHEN sum(rel) >= 1 THEN
         |      list_reduce(list_prepend(0.0::DOUBLE, list(term ORDER BY rank)),
         |        (a, b) -> a + b) / least(min(total_rel), 5)::DOUBLE
         |    ELSE 0.0 END, 6) AS ap
         |FROM terms t JOIN tr ON t.query_id = tr.query_id
         |GROUP BY t.query_id
         |ORDER BY t.query_id""".stripMargin)((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val points = emb.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("point_id"), col("embedding"), col("label").as("p_label"))
      val totalRel = queries
        .select(col("vec_id").as("query_id"), col("label").as("q_label"))
        .join(points.groupBy(col("p_label")).agg(count(lit(1)).as("total_rel")),
          col("q_label") === col("p_label"), "left")
        .select(col("query_id"), col("q_label"),
          coalesce(col("total_rel"), lit(0L)).as("total_rel"))
      val hits = Knn.knnJoin(queries, points, "vec_id", "embedding", "point_id", "embedding", 5)
        .join(totalRel, "query_id")
        .withColumn("rel", (col("q_label") === col("p_label")).cast("int"))
      Eval.apAtK(hits, "query_id", "rank", "rel",
        totalRelCol = Some("total_rel"), k = 5).orderBy(col("query_id"))
    }),
    // §3.2 + §3.3 chained end-to-end IN ONE CHECKED QUERY: retrieval
    // (kNN) → rank-ordered prediction text (retrieval-only L2 ceiling)
    // → Recall@5 / MRR@5 against a stand-in gold (the query document's
    // own digit-runs — the `answers`-column role).
    Query("rag_eval", s"""$ragHitsCte,
         |predtext AS (
         |  SELECT query_id, string_agg(t, ' ' ORDER BY rank) AS predicted
         |  FROM hits GROUP BY query_id),
         |gold AS (
         |  SELECT doc_id AS query_id, text AS answers FROM documents WHERE doc_id < 5),
         |m AS (
         |  SELECT g.query_id,
         |    list_distinct(regexp_extract_all(coalesce(answers, ''), '\\p{Nd}+')) AS gold,
         |    list_slice(regexp_extract_all(coalesce(predicted, ''), '\\p{Nd}+'), 1, 5) AS predk
         |  FROM gold g JOIN predtext p ON g.query_id = p.query_id)
         |SELECT query_id,
         |  round(CASE WHEN len(gold) = 0 THEN 0.0
         |    ELSE len(list_intersect(gold, predk))::DOUBLE / len(gold) END, 6) AS recall_at_k,
         |  round(coalesce(1.0 / list_position(
         |    list_transform(predk, x -> list_contains(gold, x)), true), 0.0), 6) AS mrr_at_k
         |FROM m
         |ORDER BY query_id""".stripMargin)((s, d) => {
      val hits = Rag.hits(s, d, nQueries = 5, k = 5)
      val predText = hits.groupBy(col("query_id"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("rank"), trim(coalesce(col("text"), lit(""))).as("t")))),
            x => x.getField("t")),
          " ").as("predicted"))
      val gold = Tables.documents(s, d).filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("text").as("answers"))
      Eval.withMetrics(gold.join(predText, "query_id"), "answers", "predicted", 5)
        .select(col("query_id"),
          round(col("recall_at_k"), 6).as("recall_at_k"),
          round(col("mrr_at_k"), 6).as("mrr_at_k"))
        .orderBy(col("query_id"))
    }),
    // hybrid retrieval: BM25 ranks (text) + dense cosine ranks
    // (embeddings; vec_id aligns with doc_id) fused by reciprocal rank
    Query("rag_hybrid", s"""WITH ${hybridCtes(5)}
         |SELECT query_id, rank, doc_id, rrf
         |FROM hyb
         |ORDER BY query_id, rank""".stripMargin)((s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val lex = Retrieval.bm25TopK(docs, "doc_id", "text",
        docs.filter(col("doc_id") < 8), "doc_id", "text", k = 10, maxDfFrac = 0.8)
      val dense = Knn.knnJoin(
          emb.filter(col("vec_id") < 8),
          emb.select(col("vec_id").as("point_id"), col("embedding")),
          "vec_id", "embedding", "point_id", "embedding", k = 10)
        .select(col("query_id"), col("point_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(lex, dense, "query_id", "doc_id", "rank", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),
    // the composed retrieval pipeline: hybrid RRF pool (lexical +
    // dense) -> MMR diversity selection. Relevance is the RRF score
    // normalized to [0,1] per query (max-division) so the λ trade-off
    // against cosine redundancy is scale-meaningful.
    Query("rag_hybrid_mmr", hybridMmrSql)((s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val lex = Retrieval.bm25TopK(docs, "doc_id", "text",
        docs.filter(col("doc_id") < 8), "doc_id", "text", k = 10, maxDfFrac = 0.8)
      val dense = Knn.knnJoin(
          emb.filter(col("vec_id") < 8),
          emb.select(col("vec_id").as("point_id"), col("embedding")),
          "vec_id", "embedding", "point_id", "embedding", k = 10)
        .select(col("query_id"), col("point_id").as("doc_id"), col("rank"))
      val fused = Retrieval.rrfFuse(lex, dense, "query_id", "doc_id", "rank", k = 8)
      val wq = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      val pool = fused
        .withColumn("__rel", round(col("rrf") / max(col("rrf")).over(wq), 6))
        .join(emb.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
        .select(col("query_id"), col("doc_id").as("point_id"),
          col("embedding").as("__pv"), col("__rel"))
      Retrieval.mmrFromPool(pool, selectK = 3, lambda = MmrLambda)
        .orderBy(col("query_id"), col("sel_rank"))
    }),
    // nDCG@k with label-match relevance for FOUR retrieval paths over
    // the same queries (ids < 8, the hybrid family's set) and corpus:
    // exact kNN (k=5), BM25 (k=5), RRF hybrid (k=5), hybrid+MMR
    // (pool 8 → select 3, the rag_hybrid_mmr config). One row per
    // path — the quality axis the fusion knobs (RRF k, MMR λ) tune
    // against: recall can't see position and MMR's diversity trade is
    // invisible to it, but nDCG credits every relevant hit by rank.
    // Each path's nDCG is self-normalized (IDCG from ITS retrieved
    // set), so the 3-deep MMR row is comparable as "quality of what
    // the path returns", not penalized for returning fewer hits.
    // four retrieval paths -> label-match relevance -> per-(method,
    // query) nDCG fold (the eval_ndcg discipline: sequential
    // list_reduce, never float sum()) -> one mean row per method.
    // bmr/vr/hyb come from hybridCtes; the MMR path embeds the
    // rag_hybrid_mmr oracle whole as a subquery (its inner WITH
    // shadows the outer CTE names — same-name resolution is CTE-first)
    Query("eval_ndcg_paths", s"""WITH ${hybridCtes(8)},
         |mmr3 AS (
         |  SELECT query_id, sel_rank AS rank, point_id
         |  FROM (${hybridMmrSql})),
         |allhits AS (
         |  SELECT 'knn' AS method, query_id, rank, doc_id AS point_id FROM vr WHERE rank <= 5
         |  UNION ALL SELECT 'bm25', query_id, rank, doc_id FROM bmr WHERE rank <= 5
         |  UNION ALL SELECT 'rrf', query_id, rank, doc_id FROM hyb WHERE rank <= 5
         |  UNION ALL SELECT 'hybrid_mmr', query_id, rank, point_id FROM mmr3),
         |rel AS (
         |  SELECT h.method, h.query_id, h.rank,
         |    CASE WHEN ql.label = pl.label THEN 1 ELSE 0 END AS rel
         |  FROM allhits h
         |  JOIN embeddings ql ON ql.vec_id = h.query_id
         |  JOIN embeddings pl ON pl.vec_id = h.point_id),
         |per AS (
         |  SELECT method, query_id,
         |    CAST(sum(rel) AS BIGINT) AS n_rel,
         |    list_reduce(
         |      list_prepend(0.0::DOUBLE,
         |        list(rel::DOUBLE / log2((rank + 1)::DOUBLE) ORDER BY rank)),
         |      (a, b) -> a + b) AS dcg
         |  FROM rel GROUP BY method, query_id),
         |norm AS (
         |  SELECT method, query_id, n_rel, dcg,
         |    CASE WHEN n_rel = 0 THEN 0.0::DOUBLE ELSE
         |      list_reduce(
         |        list_prepend(0.0::DOUBLE,
         |          list_transform(generate_series(1, n_rel),
         |            i -> 1.0::DOUBLE / log2((i + 1)::DOUBLE))),
         |        (a, b) -> a + b)
         |    END AS idcg
         |  FROM per)
         |SELECT method,
         |  CAST(count(*) AS BIGINT) AS n_queries,
         |  round(avg(round(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END, 6)), 6)
         |    AS mean_ndcg
         |FROM norm
         |GROUP BY method
         |ORDER BY method""".stripMargin)((s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val qLab = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("label").as("q_label"))
      val pLab = emb.select(col("vec_id").as("point_id"), col("label").as("p_label"))
      // lineage cut on the two expensive retrieval passes: the 4-way
      // union re-evaluates each consumer branch's FULL subtree (the
      // pipeline_mix_pack lesson) — without these, BM25 over the corpus
      // and the kNN join each run 3x for one 80-row result
      val lex10 = Retrieval.bm25TopK(docs, "doc_id", "text",
        docs.filter(col("doc_id") < 8), "doc_id", "text", k = 10, maxDfFrac = 0.8)
        .localCheckpoint(false)
      val dense10 = Knn.knnJoin(
          emb.filter(col("vec_id") < 8),
          emb.select(col("vec_id").as("point_id"), col("embedding")),
          "vec_id", "embedding", "point_id", "embedding", k = 10)
        .select(col("query_id"), col("point_id").as("doc_id"), col("rank"))
        .localCheckpoint(false)
      val knn5 = dense10.filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("doc_id").as("point_id"))
      val bm5 = lex10.filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("doc_id").as("point_id"))
      val fused8 = Retrieval.rrfFuse(lex10, dense10, "query_id", "doc_id", "rank", k = 8)
      val rrf5 = fused8.filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("doc_id").as("point_id"))
      val wq = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      val pool = fused8
        .withColumn("__rel", round(col("rrf") / max(col("rrf")).over(wq), 6))
        .join(emb.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
        .select(col("query_id"), col("doc_id").as("point_id"),
          col("embedding").as("__pv"), col("__rel"))
      val mmr3 = Retrieval.mmrFromPool(pool, selectK = 3, lambda = MmrLambda)
        .select(col("query_id"), col("sel_rank").as("rank"), col("point_id"))
      // ONE label-join + nDCG + mean pass over the UNION of the four
      // (small, already-truncated) hit tables, keyed by a composite
      // "method|query_id" — the per-(method, query) nDCG values are
      // identical to four separate passes (nDCG sees only its own
      // partition), but the old per-path tails planned 4× (2 joins +
      // group-fold + mean aggregate) ≈ 16 extra sequential AQE stage
      // jobs for 80 rows of input.
      val paths = Seq("knn" -> knn5, "bm25" -> bm5, "rrf" -> rrf5,
        "hybrid_mmr" -> mmr3)
      val tagged = paths
        .map { case (n, h) => h.withColumn("method", lit(n)) }
        .reduce(_.unionByName(_))
      val withRel = tagged.join(qLab, "query_id").join(pLab, "point_id")
        .withColumn("rel", (col("q_label") === col("p_label")).cast("int"))
        .withColumn("__mq", concat_ws("|", col("method"), col("query_id")))
      val perMethod = Eval.ndcgAtK(withRel, "__mq", "rank", "rel")
        .withColumn("method", substring_index(col("query_id"), "|", 1))
        .groupBy(col("method"))
        .agg(count(lit(1)).as("n_queries"), round(avg(col("ndcg")), 6).as("mean_ndcg"))
      // LEFT-join against the literal method list (the sim_recall_all
      // fusion's discipline): the old per-method agg-without-groupBy
      // emitted one row per method even when a method had zero hit rows
      // (n_queries = 0, mean_ndcg null); a bare groupBy would silently
      // drop such methods. Identical output whenever every method has
      // hits — the case at every bench/verify scale.
      import s.implicits._
      paths.map(_._1).toDF("method")
        .join(perMethod, Seq("method"), "left")
        .select(col("method"), coalesce(col("n_queries"), lit(0L)).as("n_queries"),
          col("mean_ndcg"))
        .orderBy(col("method"))
    }),
    // MMR diversity re-rank: greedy λ·rel − (1−λ)·max-sim selection
    // from the kNN pool — the redundancy filter before context assembly
    Query("rag_mmr", mmrSelect)((s, d) => {
      val emb = Tables.embeddings(s, d)
      Retrieval.mmrRerank(
          emb.filter(col("vec_id") < 5),
          emb.filter(col("vec_id") >= 10)
            .select(col("vec_id").as("point_id"), col("embedding")),
          "vec_id", "embedding", "point_id", "embedding",
          poolK = 8, selectK = 3, lambda = MmrLambda)
        .orderBy(col("query_id"), col("sel_rank"))
    }))
}
