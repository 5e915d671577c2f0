package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact top-k vector search — the reference's retrieval core.
  *
  *  - V4 single-query top-k: `Qdrant/VectorDB/Database.py:22-28`
  *    (`db.search(query_vector, limit=k)`), planned by Spark as
  *    `TakeOrderedAndProject` (partial per-partition top-k, no full sort).
  *  - V5 batch top-k: the reference's sequential per-row loop
  *    (`Qdrant/llm.py:93` calling `:20`) is semantically a k-NN JOIN —
  *    here one declarative plan: broadcast the (small) query side, then
  *    score and keep each query's top k by [[scoreTopK]], the one scored
  *    top-k every batch vector search shares.
  *
  * Determinism (V6): Qdrant's tie order is undefined; we strengthen to a
  * total order `(score DESC, point_id ASC)` so results are
  * oracle-hashable (SURVEY §2.3 V6).
  *
  * Scale: broadcast-nested-loop on the query side is the exact path; at
  * 100 TB with a large query side, pre-bucket both sides with LSH
  * (see Dedup.minHash*) or an IVF coarse quantizer (SimilaritySearch.ivf*)
  * so only same-bucket pairs are scored — never materialize the unbucketed
  * cross join.
  */
object Knn {

  /** The ONE per-group top-k rule: within each `partitionBy` group, number
    * the rows by `orderBy` (each key carries its own direction — score
    * DESC, Hamming ASC — and the last key is the unique tie-break, so the
    * order is total), cast that rank to bigint as `rankCol`, and keep
    * rank ≤ `k`.
    *
    * `row_number() <= k` over a partitioned window is what Spark ≥3.5
    * rewrites to `WindowGroupLimit`: a map-side partial top-k before the
    * shuffle, so per-query state is k rows, never the full candidate set
    * (PlanSpec pins the rewrite per routed operator). The rewrite needs
    * a literal `k` (`lit(n)`); a per-row bound such as
    * [[SimilaritySearch.prototypicalityPrune]]'s per-cell quota filters
    * after a full per-group sort.
    *
    * Not routed here directly: a cosine / dot vector search ranks
    * through [[scoreTopK]], the scored form of this rule. Not routed here
    * at all: single-query top-k ([[topK]], [[recommend]]) plans as
    * `orderBy.limit` → `TakeOrderedAndProject` with no window;
    * [[SimilaritySearch.nearestCells]] ranks cells inside its native
    * kernel; `row_number` windows that number rows rather than cut
    * them (shard positions, batch indices, span cuts) are not top-k; and
    * four cuts keep their own window: `TextAnalysis.quotaSample` (a
    * per-stratum CASE bound beside the literal one), `Curation.dsirSelect`
    * (a per-row bound over the boundary tie set), and the top-1 picks
    * `Dedup.keepBest` and `Relational.histogramQuantiles` (`=== 1`, no
    * bigint rank in their output).
    */
  def rankTopK(df: DataFrame, partitionBy: Seq[Column], orderBy: Seq[Column], k: Column,
      rankCol: String): DataFrame =
    df.withColumn(rankCol,
        row_number().over(Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)).cast("long"))
      .filter(col(rankCol) <= k)

  /** The ONE scored top-k: score every pair row of `pairs` (a query
    * vector column and a point vector column side by side) by `metric`
    * into `score`, and keep each `partitionBy` group's top `k` by the
    * one total order — score DESC (NULLs last), then `pointIdCol` ASC —
    * through [[rankTopK]]. `k` is an `Int`, so the cut is always a
    * literal and always plans as `WindowGroupLimit`. Every exact, IVF
    * and re-rank search ranks here; the Hamming shortlists and ADC keep
    * their own scores and call [[rankTopK]] directly.
    */
  def scoreTopK(pairs: DataFrame, queryVecCol: String, pointVecCol: String, pointIdCol: String,
      k: Int, metric: String = "cosine", partitionBy: Seq[Column] = Seq(col("query_id")),
      rankCol: String = "rank"): DataFrame = {
    val score = metric match {
      case "cosine" => VectorOps.cosine(col(queryVecCol), col(pointVecCol))
      // dot ≡ cosine when both sides are L2-normalized — 1 array pass vs 3
      case "dot" => VectorOps.dot(col(queryVecCol), col(pointVecCol))
      case other => throw new IllegalArgumentException(s"unknown metric: $other")
    }
    rankTopK(pairs.withColumn("score", score), partitionBy,
      Seq(desc("score"), col(pointIdCol).asc), lit(k), rankCol)
  }

  /** V4: score every point against one literal query vector, keep top-k. */
  def topK(points: DataFrame, vecCol: String, idCol: String, queryVec: Column, k: Int): DataFrame =
    points
      .withColumn("score", VectorOps.cosine(col(vecCol), queryVec))
      .orderBy(desc("score"), col(idCol).asc)
      .limit(k)

  /** V5: k-NN join. `queries` must be the small side (it is broadcast).
    * Output: all query columns + point id + `rank` (1..k) + `score`.
    */
  def knnJoin(
      queries: DataFrame,
      points: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      pointIdCol: String,
      pointVecCol: String,
      k: Int,
      metric: String = "cosine"): DataFrame = {
    val q = broadcast(
      queries.select(
        col(queryIdCol).as("query_id"),
        col(queryVecCol).as("__qvec")))
    scoreTopK(points.crossJoin(q), "__qvec", pointVecCol, pointIdCol, k, metric)
      .drop("__qvec")
  }

  /** Filtered k-NN: Qdrant's filtered search (`search(..., query_filter=…)`)
    * — a payload predicate restricts WHICH points are eligible, and the
    * top-k is exact over the survivors. This is PRE-filtering: the
    * predicate applies before scoring, so the result always has k hits
    * when k eligible points exist (post-filtering a plain top-k can
    * return fewer — the classic filtered-ANN deficit). In Spark the
    * composition is free: the predicate lands on the point-side SCAN
    * (PushedFilters, pinned in PlanSpec), so at 100 TB a selective
    * payload filter prunes row groups before a single score is
    * computed — the declarative win over index-side filtered search.
    */
  def filteredKnnJoin(
      queries: DataFrame,
      points: DataFrame,
      payloadFilter: Column,
      queryIdCol: String,
      queryVecCol: String,
      pointIdCol: String,
      pointVecCol: String,
      k: Int,
      metric: String = "cosine"): DataFrame =
    knnJoin(queries, points.filter(payloadFilter),
      queryIdCol, queryVecCol, pointIdCol, pointVecCol, k, metric)

  /** Recommendation search (the Qdrant `recommend` API shape,
    * `client.recommend(collection, positive=[ids], negative=[ids])`):
    * the query vector is CONSTRUCTED from example points —
    * `mean(positive vectors) − mean(negative vectors)` (the classic
    * contrastive pseudo-query; with no negatives it degrades to the
    * positive centroid) — then scored like any single-query top-k.
    * Example points are excluded from the results (you already have
    * them). Means are element-wise avg aggregates over the (few)
    * example rows, ROUNDED to 6 dp (the kmeans-update rule: hash-agg
    * means are addition-order-sensitive in their last bits, and the
    * pseudo-query must be identical on any engine), riding the plan
    * as a 1-row broadcast — no driver-side collect.
    *
    * Output: `(point_id, score)`, top-k by `(score DESC, point_id)` —
    * no rank column, so the single-query top-k plans as
    * `TakeOrderedAndProject` (the [[topK]] rule; a rank window here
    * would be an unpartitioned WindowExec, the shape PlanAuditSpec
    * bans).
    */
  def recommend(
      points: DataFrame,
      pointIdCol: String,
      vecCol: String,
      positiveIds: Seq[Long],
      negativeIds: Seq[Long],
      k: Int): DataFrame = {
    require(positiveIds.nonEmpty, "recommend: at least one positive example required")
    require(k >= 1, s"k ($k) must be >= 1")
    // every example id must resolve to a point: a silent miss would
    // shift (or empty) the mean and return k rows of plausible-looking
    // garbage. Lazy in-plan guard (the jaccardPairs discipline) — the
    // matched-id count rides the same 1-row aggregate the mean does.
    def meanVec(ids: Seq[Long]): DataFrame =
      points.filter(col(pointIdCol).isin(ids: _*))
        .select(col(pointIdCol).as("__ex_id"),
          posexplode(VectorOps.toDoubleArray(col(vecCol))).as(Seq("__j", "__x")))
        .groupBy(col("__j"))
        .agg(round(avg(col("__x")), 6).as("__m"),
          countDistinct(col("__ex_id")).as("__n_ex"))
        .agg(array_sort(collect_list(struct(col("__j"), col("__m")))).as("__jm"),
          min(col("__n_ex")).as("__n_ex"))
        .select(
          when(col("__n_ex") < ids.distinct.size || col("__n_ex").isNull,
            raise_error(concat(
              lit(s"recommend: only "), coalesce(col("__n_ex"), lit(0L)).cast("string"),
              lit(s" of ${ids.distinct.size} example ids matched a point"))))
            .otherwise(transform(col("__jm"), e => e.getField("__m"))).as("__mean"))
    val pos = meanVec(positiveIds).select(col("__mean").as("__pos"))
    val qvec = (if (negativeIds.isEmpty) pos.select(col("__pos").as("__qvec"))
      else pos.crossJoin(meanVec(negativeIds).select(col("__mean").as("__neg")))
        .select(zip_with(col("__pos"), col("__neg"), (p, n) => p - n).as("__qvec")))
    val excluded = (positiveIds ++ negativeIds).distinct
    points
      .filter(!col(pointIdCol).isin(excluded: _*))
      .crossJoin(broadcast(qvec))
      .withColumn("score", VectorOps.cosine(col("__qvec"), col(vecCol)))
      .orderBy(desc("score"), col(pointIdCol).asc)
      .limit(k)
      .select(col(pointIdCol).as("point_id"), col("score"))
  }

  /** Grouped search (the Qdrant `search_groups` API shape): per query,
    * the best `hitsPerGroup` hits of each payload group, with groups
    * ranked by their best hit and only the top `groupsK` kept —
    * "the most relevant document per source/author/domain" without a
    * second query. Two stacked cuts, the [[scoreTopK]] hits and the
    * [[rankTopK]] group cut: per-(query, group) state is
    * `hitsPerGroup` rows, per-query state `groupsK` groups.
    *
    * Output: `(query_id, group_rank, group, hit_rank, point_id,
    * score)`.
    */
  def searchGroups(
      queries: DataFrame,
      points: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      pointIdCol: String,
      pointVecCol: String,
      groupCol: String,
      groupsK: Int,
      hitsPerGroup: Int): DataFrame = {
    require(groupsK >= 1 && hitsPerGroup >= 1,
      s"need groupsK ($groupsK) >= 1 and hitsPerGroup ($hitsPerGroup) >= 1")
    val q = broadcast(
      queries.select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qvec")))
    val hits = scoreTopK(
      points
        .select(col(pointIdCol).as("point_id"), col(pointVecCol).as("__pvec"),
          col(groupCol).as("group"))
        .crossJoin(q),
      "__qvec", "__pvec", "point_id", hitsPerGroup,
      partitionBy = Seq(col("query_id"), col("group")), rankCol = "hit_rank")
    // groups ranked by their BEST hit; ties by group value
    val best = rankTopK(
        hits.filter(col("hit_rank") === 1)
          .select(col("query_id"), col("group"), col("score").as("__best")),
        Seq(col("query_id")), Seq(desc("__best"), col("group").asc), lit(groupsK), "group_rank")
      .select(col("query_id"), col("group"), col("group_rank"))
    hits.join(best, Seq("query_id", "group"))
      .select(col("query_id"), col("group_rank"), col("group"),
        col("hit_rank"), col("point_id"), col("score"))
  }

  /** Hard-negative mining for contrastive training: per anchor, the
    * `k` HIGHEST-scoring points whose label differs from the anchor's
    * — the close-but-wrong examples an embedding model learns the most
    * from (random negatives are trivially separable; the hardest ones
    * define the decision boundary). Same broadcast + [[scoreTopK]]
    * shape as [[knnJoin]], with the label inequality as a join-side
    * filter: per-anchor state stays k rows, and at 100 TB the corpus
    * side still never moves. Label here is any supervision proxy —
    * class, source, or a dedup cluster id (mining negatives OUTSIDE
    * the anchor's near-dup cluster avoids training on false
    * negatives that are really unlabeled positives).
    */
  def hardNegatives(
      anchors: DataFrame,
      points: DataFrame,
      anchorIdCol: String,
      anchorVecCol: String,
      anchorLabelCol: String,
      pointIdCol: String,
      pointVecCol: String,
      pointLabelCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    val a = broadcast(anchors.select(
      col(anchorIdCol).as("query_id"),
      col(anchorVecCol).as("__qvec"),
      col(anchorLabelCol).as("__qlabel")))
    scoreTopK(points.crossJoin(a).filter(col(pointLabelCol) =!= col("__qlabel")),
        "__qvec", pointVecCol, pointIdCol, k)
      .select(col("query_id"), col("rank"), col(pointIdCol).as("point_id"),
        col("score"), col(pointLabelCol).as("neg_label"))
  }

  /** Radius search: every point scoring at least `threshold` for each
    * query — the vector-store API next to top-k (Qdrant exposes it as
    * `score_threshold`; "all sufficiently similar", not "the k most
    * similar"). Same broadcast discipline as [[knnJoin]], but CHEAPER
    * at scale: a pure threshold needs no per-query ranking state at
    * all, so the whole operator is one scan-side filter — no window,
    * no WindowGroupLimit, no exchange; output order is imposed only by
    * the caller.
    */
  def rangeSearch(
      queries: DataFrame,
      points: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      pointIdCol: String,
      pointVecCol: String,
      threshold: Double): DataFrame = {
    val q = broadcast(
      queries.select(
        col(queryIdCol).as("query_id"),
        col(queryVecCol).as("__qvec")))
    points
      .crossJoin(q)
      .withColumn("score", VectorOps.cosine(col("__qvec"), col(pointVecCol)))
      .filter(col("score") >= threshold)
      .select(col("query_id"), col(pointIdCol).as("point_id"), col("score"))
  }

  /** Facet counts (the Qdrant `facet` API): the distinct values of a
    * payload column with their point counts under an optional filter,
    * top `limit` values by `(count DESC, value ASC)` — the standard
    * facet tie-break, total so the page is deterministic. Points
    * MISSING the facet field (NULL) are excluded, as the real facet
    * API excludes them — and a NULL bucket would also sort NULLS FIRST
    * in Spark vs NULLS LAST in the SQL oracle, the engine-divergence
    * class the no-NULL-sort-keys convention exists to avoid. One
    * map-side-combinable aggregate into `TakeOrderedAndProject`: the
    * shuffle carries one row per distinct facet value, never per
    * point, and no global sort exists.
    */
  def facetCounts(points: DataFrame, facetCol: String, filter: Column,
      limit: Int): DataFrame = {
    require(limit >= 1, s"limit ($limit) must be >= 1")
    points.filter(filter && col(facetCol).isNotNull)
      .groupBy(col(facetCol).as("value"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("value"))
      .limit(limit)
  }

  /** Exact count (the Qdrant `count` API with `exact=true`): points
    * matching `filter`, where a NULL predicate does NOT match (the
    * [[graft.ops.Store.deleteByFilter]] selector semantics). One
    * map-side-combinable aggregate to a single row; the approximate
    * variant of the API maps to `approx_count_distinct`-style sketches
    * (`q_approx_distinct`), already covered.
    */
  def countPoints(points: DataFrame, filter: Column): DataFrame =
    points.filter(coalesce(filter, lit(false)))
      .agg(count(lit(1)).as("n"))

  /** Keyset pagination (the Qdrant `scroll` API): one id-ordered page
    * of points strictly AFTER the `cursor` id; the caller feeds the
    * page's last id back as the next cursor. Keyset, not OFFSET: an
    * OFFSET-n page reads and discards n rows — a full sweep degrades
    * to O(N²/page) at 100 TB — where the `id > cursor` predicate
    * pushes to the scan (parquet min/max footers skip whole files on
    * an id-clustered layout, cf. [[graft.ops.Store.compact]]) and
    * every page costs O(page + pruned scan). `orderBy.limit` collapses
    * to `TakeOrderedAndProject` — per-partition top-page, no global
    * sort.
    */
  def scrollPage(points: DataFrame, idCol: String, cursor: Long,
      pageSize: Int): DataFrame = {
    require(pageSize >= 1, s"pageSize ($pageSize) must be >= 1")
    points.filter(col(idCol) > cursor).orderBy(col(idCol)).limit(pageSize)
  }

  /** Point lookup by explicit ids (the Qdrant `retrieve` API): the
    * payload rows of a request-supplied id batch, id-ordered. Ids the
    * store does not hold are silently absent from the page — the
    * client diffs, exactly the real API's contract. The batch is
    * request-sized (a literal list in the call), so it compiles to an
    * `In` predicate the parquet scan serves via PushedFilters —
    * footer min/max skips whole files on an id-clustered layout
    * ([[graft.ops.Store.compact]]) and no join or shuffle exists at
    * any corpus size; only `orderBy` on the page-sized result
    * remains. A MILLION-id batch would instead broadcast-semi-join an
    * id frame, but that is a bulk export, not the point-lookup verb.
    */
  def retrievePoints(points: DataFrame, idCol: String, ids: Seq[Long]): DataFrame = {
    require(ids.nonEmpty, "retrievePoints: the id batch must be non-empty")
    points.filter(col(idCol).isin(ids: _*)).orderBy(col(idCol))
  }
}
