package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lexical (BM25) retrieval and hybrid rank fusion — the keyword half
  * of the hybrid-search surface a vector store serves next to dense
  * kNN (the reference serves only the dense half:
  * `Qdrant/VectorDB/Database.py:22-28`; Qdrant's product API pairs it
  * with sparse/BM25 scoring fused by reciprocal rank).
  *
  * Shape at scale — everything is an inverted-index EQUI-JOIN on the
  * term, never a document cross join:
  *
  *  - The postings (`tf` per doc×term) and the doc-length table are
  *    one tokenize→aggregate pass over the corpus — the classic
  *    build-the-index stage; at 100 TB both are written once and
  *    reused per query batch.
  *  - The query side after term expansion is tiny (queries × distinct
  *    terms) and is BROADCAST into the postings join, so the corpus
  *    side never moves for candidate generation.
  *  - A document-frequency cap (`maxDfFrac`) drops stopword-class
  *    terms BEFORE the join — the lexical twin of the LSH hot-bucket
  *    cap (Dedup.minHashLsh): a term matching half the corpus would
  *    otherwise explode one join key into O(N) candidates while
  *    contributing ~zero idf.
  *  - Per-query top-k over (score, doc) is [[Knn.rankTopK]].
  */
object Retrieval {

  /** BM25 (Robertson/Okapi, +1 idf so scores stay positive) top-k.
    *
    * `queries(queryIdCol, queryTextCol)` must be broadcast-small; its
    * DISTINCT tokens are the match terms (classic short-query BM25 —
    * query-side tf is ignored). `N` and `avgdl` are computed over docs
    * with at least one token and ride the plan as a one-row broadcast
    * aggregate (the lazy [[TextAnalysis.tfIdf]] discipline — no eager
    * corpus pass at construction).
    *
    * Ranking ties: scores are rounded to 6 dp BEFORE ranking, then
    * tie-broken by doc id. The per-(query, doc) score is a hash-agg
    * SUM of double terms, so its last bits depend on addition order;
    * near-duplicate docs (the corpus has them by construction) produce
    * scores equal up to ulps that an unrounded ORDER BY would rank
    * differently between engines. Rounding first makes such docs true
    * ties with a deterministic id order.
    *
    * Output: `(query_id, rank, doc_id, score)`.
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      maxDfFrac: Double = 0.5): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0, s"need 0 < maxDfFrac <= 1, got $maxDfFrac")
    val tok = docs.select(col(idCol).as("doc_id"), explode(Dedup.tokens(col(textCol))).as("term"))
    // postings: one shuffle on (doc_id, term); BOTH doc lengths and
    // document frequencies fold out of the postings (tf already has
    // exactly one row per (doc, term), so df is a plain term count —
    // no re-tokenize, no extra distinct shuffle). The postings table is
    // LINEAGE-CUT: ReuseExchange does NOT dedup the three consumers'
    // copies — the df branch's aggregate loses its count (df needs only
    // the keys) and the dl branch loses the candidate join's
    // isnotnull(doc_id) pushdown, so the three exchanges stop
    // canonicalizing equal and the corpus tokenize+explode ran THREE
    // times (measured in the executed plan: 3 separate FileScan+
    // Generate subtrees; the cut leaves exactly 1). This is also the
    // documented 100 TB shape — the postings are built once at index
    // time and every consumer reads the artifact.
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).cast("double").as("dl"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = broadcast(dl.agg(
      count(lit(1)).cast("double").as("__n_docs"), avg(col("dl")).as("__avgdl")))
    // query-term weights: tiny side — join it into df (not the reverse)
    // and attach idf + corpus stats here so the postings join below
    // carries everything it needs in the broadcast
    val qterms = queries.select(
      col(queryIdCol).as("query_id"),
      explode(array_distinct(Dedup.tokens(col(queryTextCol)))).as("term"))
    val qw = broadcast(
      qterms
        .join(df, "term")
        .crossJoin(stats)
        .filter(col("df").cast("double") <= lit(maxDfFrac) * col("__n_docs"))
        .withColumn("idf",
          log((col("__n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)))
    // candidate docs are semi-join-reduced by the postings match before
    // the dl join, so the doc-length join touches only matched docs
    val cand = tf.join(qw, "term")
      .join(dl, "doc_id")
      .withColumn("contrib",
        col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + col("dl") * b / col("__avgdl"))))
    val scored = cand.groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("contrib")), 6).as("score"))
    Knn.rankTopK(scored, Seq(col("query_id")), Seq(desc("score"), col("doc_id").asc),
        lit(k), "rank")
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }

  /** Reciprocal-rank fusion (Cormack et al.: `1 / (k0 + rank)` summed
    * over rankers) of two per-query rankings — the standard way to
    * merge lexical and dense retrieval without score calibration,
    * since it consumes only RANKS (BM25 scores and cosines live on
    * incomparable scales).
    *
    * Both inputs are `(queryCol, docCol, rankCol)` tables already
    * truncated to their own top-k, so the fusion join is tiny however
    * large the corpus: FULL OUTER on (query, doc) — a doc ranked by
    * only one side still scores via its one term (the other
    * contributes 0, the rank-only analogue of a missing score).
    * `rrf` is a sum of two exact rationals computed identically on any
    * engine; ties (e.g. rank i on one side only vs rank i on the
    * other side only) break by doc id.
    *
    * Output: `(query_id, rank, doc_id, rrf)` — top `k` per query.
    */
  def rrfFuse(
      a: DataFrame,
      b: DataFrame,
      queryCol: String,
      docCol: String,
      rankCol: String,
      k: Int,
      k0: Int = 60): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    def side(df: DataFrame, tag: String): DataFrame =
      df.select(
        col(queryCol).as("query_id"),
        col(docCol).as("doc_id"),
        col(rankCol).as(s"__rank_$tag"))
    val fused = side(a, "a")
      .join(side(b, "b"), Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        round(
          coalesce(lit(1.0) / (lit(k0) + col("__rank_a")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(k0) + col("__rank_b")), lit(0.0)),
          6))
    Knn.rankTopK(fused, Seq(col("query_id")), Seq(desc("rrf"), col("doc_id").asc),
        lit(k), "rank")
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf"))
  }

  /** MMR diversity re-rank (Carbonell & Goldstein 1998): from each
    * query's top-`poolK` hits, greedily select `selectK` maximizing
    * `λ·rel − (1−λ)·max_{s∈selected} sim(cand, s)` — the standard
    * redundancy filter between retrieval and context assembly (two
    * near-identical chunks waste prompt budget; reference context is
    * assembled at `Qdrant/llm.py:93-101` with no such filter).
    *
    * Shape: everything happens INSIDE a query's pool — `poolK` rows —
    * so the pairwise-similarity join is `poolK²` per query however
    * large the corpus, and the greedy loop is a fixed `selectK − 1`
    * unroll of (anti-join selected → max-sim aggregate → argmax
    * window), each step over ≤ poolK rows per query. The first pick is
    * rank 1 (relevance alone; the MMR objective with an empty selected
    * set). Objectives are rounded to 6 dp before each argmax with ties
    * to the lowest point id (the BM25 rule — `λ·rel − penalty` is
    * engine-order-sensitive in its last bits).
    *
    * Output: `(query_id, sel_rank, point_id, objective)` where
    * `objective` is rel for the first pick and the MMR value for later
    * picks.
    */
  def mmrRerank(
      queries: DataFrame,
      points: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      pointIdCol: String,
      pointVecCol: String,
      poolK: Int,
      selectK: Int,
      lambda: Double): DataFrame = {
    require(poolK >= selectK, s"need selectK ($selectK) <= poolK ($poolK)")
    // knnJoin returns no vector, so the pool's copy rides through as __pv
    mmrFromPool(
      Knn.knnJoin(queries, points.withColumn("__pv", col(pointVecCol)), queryIdCol,
          queryVecCol, pointIdCol, pointVecCol, poolK)
        .select(col("query_id"), col(pointIdCol).as("point_id"),
          col("__pv"), col("score").as("__rel")),
      selectK, lambda)
  }

  /** MMR greedy selection over an ALREADY-BUILT candidate pool
    * `(query_id, point_id, __pv, __rel)` — the shared tail of
    * [[mmrRerank]] (cosine pool) and composed pipelines that pool by
    * other means (e.g. the hybrid RRF pool in `rag_hybrid_mmr`). The
    * pool is BOUNDED (per-query top-k × |queries| rows) but fans out
    * to the sims self-join, the first pick, and every greedy step's
    * anti-join/penalty — each a differently-pruned consumer, so
    * without a lineage cut whatever built the pool (a corpus-scanning
    * kNN join, the whole hybrid chain) re-executes per branch (the
    * SCALING.md rule: cut at the smallest bounded table, lazily).
    */
  def mmrFromPool(pool: DataFrame, selectK: Int, lambda: Double): DataFrame = {
    require(selectK >= 1, s"selectK ($selectK) must be >= 1")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda ($lambda) must be in [0, 1]")
    val hits = pool.localCheckpoint(false)
    // pairwise sims inside the pool: poolK² rows per query. Lineage-cut
    // like the pool itself: every greedy round probes it, and uncut each
    // probe re-embeds (and re-executes) the poolK² self-join — measured
    // on rag_hybrid_mmr, the uncut unroll replanned the pool leaf 72
    // times into a 2 297-line plan.
    val a = hits.select(col("query_id"), col("point_id").as("__pa"), col("__pv").as("__va"))
    val b = hits.select(col("query_id"), col("point_id").as("__pb"), col("__pv").as("__vb"))
    val sims = a.join(b, "query_id")
      .filter(col("__pa") =!= col("__pb"))
      .select(col("query_id"), col("__pa"), col("__pb"),
        VectorOps.cosine(col("__va"), col("__vb")).as("__sim"))
      .localCheckpoint(false)
    def argmax(cands: DataFrame): DataFrame =
      Knn.rankTopK(cands, Seq(col("query_id")), Seq(desc("__obj"), col("point_id").asc),
          lit(1), "__rn")
        .select(col("query_id"), col("point_id"), col("__obj"))
    // pick 1: pure relevance
    var pick = argmax(hits.withColumn("__obj", round(col("__rel"), 6)))
    var selected = pick.withColumn("sel_rank", lit(1L))
    // Greedy rounds carry RUNNING candidate state
    // (query_id, point_id, __rel, __maxsim): the max-sim-to-selected
    // penalty is a fold of pairwise max over the picks — greatest() per
    // round is EXACTLY the old full-selected-set max aggregate (max over
    // doubles has no rounding), but each round now touches only the new
    // pick's poolK sim rows instead of re-joining and re-aggregating the
    // whole selected set. The inner join on the new pick's sim rows also
    // evicts the pick itself (sims has no self-pair), replacing the
    // anti-join. Each round's state is lineage-cut (the clusterLabels
    // discipline) so round t's plan is leaf-sized, not 2^t subtrees.
    var cands = hits.select(col("query_id"), col("point_id"), col("__rel"))
      .withColumn("__maxsim", lit(null).cast("double"))
    for (t <- 2 to selectK) {
      val simsToNew = sims
        .join(pick.select(col("query_id"), col("point_id").as("__pb")),
          Seq("query_id", "__pb"))
        .select(col("query_id"), col("__pa").as("point_id"), col("__sim"))
      // greatest() skips NULLs, so the round-2 fold over the NULL seed
      // is exactly sim-to-first-pick
      cands = cands.join(simsToNew, Seq("query_id", "point_id"))
        .select(col("query_id"), col("point_id"), col("__rel"),
          greatest(col("__maxsim"), col("__sim")).as("__maxsim"))
        .localCheckpoint(false)
      pick = argmax(cands.withColumn("__obj",
        round(col("__rel") * lambda - col("__maxsim") * (1.0 - lambda), 6)))
      selected = selected.unionByName(pick.withColumn("sel_rank", lit(t.toLong)))
    }
    selected.select(col("query_id"), col("sel_rank"), col("point_id"),
      col("__obj").as("objective"))
  }
}
