package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions.CellMetric

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the compression layer a
  * vector store needs when the raw float corpus stops fitting: split
  * each vector into `m` subvectors, k-means a codebook per subspace,
  * and store each point as `m` small codes. At the reference's 384-d
  * float32 (1536 B/vector — `Qdrant/main.py:94`), m=8 byte-codes are a
  * 192× storage cut; search reads codes, never raw vectors.
  *
  * Search is ASYMMETRIC DISTANCE (ADC): the query stays exact, each
  * point is approximated by its per-subspace centroids. Because dot
  * products decompose over concatenation — `dot(q, p̂) = Σ_s
  * dot(q_s, c_{s, code_s})` — the whole search is a lookup-table join:
  *  - the per-query LUT (`m × kCodes` partial dots) is tiny and
  *    BROADCAST; the code table never moves,
  *  - per-point work is `m` LUT additions, no O(dim) math,
  *  - cosine comes from the same sums: `‖p̂‖² = Σ_s ‖c_{s,code_s}‖²`
  *    rides the join as a second accumulated column.
  *
  * The codebooks train through the IVF quantizer's Lloyd loop
  * ([[SimilaritySearch.lloyd]], which states the determinism rules),
  * with EUCLIDEAN assignment — `argmax dot(v, c) − ‖c‖²/2` (≡ argmin
  * ‖v − c‖², since ‖v‖² is constant per vector; `CellMetric.L2` of the
  * nearest-cell kernel is its one definition) — NOT the spherical
  * cosine the IVF coarse quantizer uses: PQ quality is reconstruction
  * error, and cosine assignment ignores the subvector magnitudes ADC
  * then relies on. Scores are rounded to 6 dp BEFORE ranking (the BM25
  * rule): the ADC sum is a hash-agg over `m` doubles, so its last bits
  * depend on addition order.
  *
  * At 100 TB compose with the IVF family (IVF-PQ): coarse cells prune
  * candidates ([[SimilaritySearch.ivfTopKStored]]), ADC scores the
  * survivors from codes. This module is the ADC half; the checked
  * query runs it brute-force over all codes (exact PQ semantics).
  */
object Pq {

  /** Per-subspace codebooks `(sub, cid, centroid)` as a driver-local
    * model (`m × kCodes` rows — the PQ analogue of
    * [[SimilaritySearch.trainedCentroids]]; [[SimilaritySearch.lloyd]]
    * returns the model already collected, so no consumer re-runs the
    * training).
    *
    * All `m` codebooks train TOGETHER — `sub` is a key of the shared
    * Lloyd loop, so each iteration is ONE pass over the corpus (assign:
    * each subvector against its sub's broadcast `kCodes` cells in the
    * nearest-cell kernel; update: one (sub, cid) group-by) instead of
    * `m` serial runs. At 100 TB that is the difference between `iters`
    * corpus scans and `m × iters`. Seeds are the `kCodes` lowest-id
    * vectors' subvectors, so every sub shares the same cid set.
    */
  def trainCodebooks(points: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, kCodes: Int, iters: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim ($dim) must divide into m ($m) subspaces")
    val dsub = dim / m
    SimilaritySearch.lloyd(points.select(col(idCol).as("__id"), col(vecCol).as("__v")),
      subvectors(_, "__v", m, dsub, Nil), Seq("sub"), CellMetric.L2, dsub, kCodes, iters)
  }

  /** Explode a vector column into its `m` double-widened subvectors:
    * one row per (row, sub) with columns `(sub, __sv)` appended.
    */
  private def explodeSubs(df: DataFrame, vecCol: String, m: Int, dsub: Int): DataFrame =
    df.withColumn("__e", explode(array((0 until m).map(s =>
        struct(lit(s).as("sub"),
          slice(VectorOps.toDoubleArray(col(vecCol)), s * dsub + 1, dsub).as("__sv"))): _*)))
      .withColumn("sub", col("__e.sub"))
      .withColumn("__sv", col("__e.__sv"))
      .drop("__e")

  /** `(__id, sub, __v, carry…)`: the k-means row shape of a frame
    * carrying `__id` and `vecCol`, one row per subvector.
    */
  private def subvectors(df: DataFrame, vecCol: String, m: Int, dsub: Int,
      carry: Seq[String]): DataFrame =
    explodeSubs(df, vecCol, m, dsub)
      .select((Seq(col("__id"), col("sub"), col("__sv").as("__v")) ++ carry.map(col)): _*)

  /** PQ-encode: `(point_id, sub, code)` — nearest codebook entry per
    * (point, subspace) under L2 (the training rule,
    * [[SimilaritySearch.nearestCells]], lowest-cid tie-break). Long
    * layout so ADC is a plain `(sub, code)` equi-join; a production
    * table would pack it to one `array<tinyint>` column per point.
    */
  def encode(points: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int, dsub: Int): DataFrame =
    encodeCore(points, idCol, vecCol, codebooks, m, dsub, carry = Nil)

  /** Shared encode body: explode to subvectors and assign each with
    * the training rule, keeping `carry` columns computed from the
    * original row.
    */
  private def encodeCore(points: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int, dsub: Int,
      carry: Seq[(String, Column)]): DataFrame = {
    val src = points.select(
      (Seq(col(idCol).as("__id"), col(vecCol)) ++
        carry.map { case (n, c) => c.as(n) }): _*)
    SimilaritySearch.nearestCells(subvectors(src, vecCol, m, dsub, carry.map(_._1)),
        codebooks, Seq("sub"), CellMetric.L2, 1)
      .select(
        (Seq(col("__id").as("point_id"), col("sub"), col("cid").as("code")) ++
          carry.map { case (n, _) => col(n) }): _*)
  }

  /** Per-query lookup table: the `m × kCodes` partial dots (plus
    * centroid norms and the query norm), optionally tagged with the
    * query's coarse bucket. Tiny by construction — always broadcast.
    */
  private def buildLut(queries: DataFrame, queryIdCol: String, vecCol: String,
      codebooks: DataFrame, m: Int, dsub: Int,
      queryBucket: Option[Column]): DataFrame = {
    val base = queries.select(
      (Seq(col(queryIdCol).as("query_id"), col(vecCol),
        VectorOps.l2Norm(col(vecCol)).as("__qnorm")) ++
        queryBucket.map(_.as("__qbucket")).toSeq): _*)
    val qsub = explodeSubs(base, vecCol, m, dsub)
    broadcast(
      qsub.join(broadcast(codebooks), "sub")
        .select(
          (Seq(col("query_id"), col("sub"), col("cid"), col("__qnorm"),
            VectorOps.dot(col("__sv"), col("centroid")).as("__pdot"),
            VectorOps.dot(col("centroid"), col("centroid")).as("__cn2")) ++
            queryBucket.map(_ => col("__qbucket")).toSeq): _*))
  }

  /** ADC ranking tail shared by the flat and bucketed paths: join
    * codes to the broadcast LUT, accumulate `Σ pdot` / `Σ ‖c‖²`,
    * round, rank. `bucketed` adds the coarse-cell equality to the
    * join, so only same-bucket (query, point) pairs are ever scored.
    */
  private def adcRank(lut: DataFrame, codes: DataFrame,
      bucketed: Boolean, k: Int): DataFrame = {
    val base = codes("sub") === lut("sub") && codes("code") === lut("cid")
    val cond = if (bucketed) base && codes("bucket") === lut("__qbucket") else base
    val scored = codes
      .join(lut, cond)
      .groupBy(col("query_id"), col("point_id"))
      .agg(sum(col("__pdot")).as("__num"),
        sum(col("__cn2")).as("__pn2"),
        max(col("__qnorm")).as("__qn"))
      .withColumn("__denom", col("__qn") * sqrt(col("__pn2")))
      .withColumn("score",
        round(when(col("__denom") === 0.0d, lit(0.0d))
          .otherwise(col("__num") / col("__denom")), 6))
    Knn.rankTopK(scored, Seq(col("query_id")), Seq(desc("score"), col("point_id").asc),
        lit(k), "rank")
      .select(col("query_id"), col("rank"), col("point_id"), col("score"))
  }

  /** Exact-cosine re-rank of a `(query_id, point_id)` candidate set —
    * raw vectors are fetched ONLY for candidates (an equi-join on
    * point_id), queries broadcast. [[Knn.knnJoin]] output conventions.
    */
  private def rerankExact(cand: DataFrame, queries: DataFrame,
      queryIdCol: String, vecCol: String,
      points: DataFrame, pointIdCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col(queryIdCol).as("query_id"), col(vecCol).as("__qvec")))
    val raw = points.select(col(pointIdCol).as("point_id"), col(vecCol).as("__pvec"))
    Knn.rankTopK(
        cand
          .join(raw, "point_id")
          .join(q, "query_id")
          .withColumn("__score", VectorOps.cosine(col("__qvec"), col("__pvec"))),
        Seq(col("query_id")), Seq(desc("__score"), col("point_id").asc), lit(k), "rank")
      .select(col("query_id"), col("rank"), col("point_id"),
        round(col("__score"), 6).as("score"))
  }

  /** ADC top-k over an encoded corpus: approximate cosine
    * `Σ_s dot(q_s, c) / (‖q‖ · sqrt(Σ_s ‖c‖²))` via the broadcast
    * LUT join described above. Output `(query_id, rank, point_id,
    * score)`, score rounded to 6 dp, rank tie-broken by point id.
    */
  def adcTopK(queries: DataFrame, queryIdCol: String, vecCol: String,
      codebooks: DataFrame, codes: DataFrame, m: Int, dsub: Int, k: Int): DataFrame =
    adcRank(buildLut(queries, queryIdCol, vecCol, codebooks, m, dsub, None),
      codes, bucketed = false, k)

  /** ADC shortlist + EXACT re-rank — the production PQ search (Jégou
    * et al. §V: ADC orders a candidate shortlist from codes alone,
    * then the top `shortlist` candidates are re-scored against their
    * raw vectors). Compression applies to the 99% of the corpus the
    * shortlist excludes; the raw-vector fetch is an equi-join on
    * point_id touching `shortlist × |queries|` rows, so at 100 TB the
    * full-precision column is read for a vanishing fraction of points
    * (in columnar storage, a row-group-pruned fetch). On the harness
    * embeddings (noise-dominated: exact top-5 cosine ≈ 0.33 vs ≈ 0.2
    * background) pure ADC recall@5 is 0.16 at m=8/k=16; re-ranking an
    * ADC shortlist of 25/50/100 lifts it to 0.52/0.68/0.86 — the
    * shortlist size is the recall knob, and PqSpec pins the floor.
    *
    * Output `(query_id, rank, point_id, score)` with EXACT cosine
    * scores (same rounding/tie rules as [[Knn.knnJoin]] outputs).
    */
  def adcRerank(queries: DataFrame, queryIdCol: String, vecCol: String,
      points: DataFrame, pointIdCol: String,
      codebooks: DataFrame, codes: DataFrame,
      m: Int, dsub: Int, shortlist: Int, k: Int): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val cand = adcTopK(queries, queryIdCol, vecCol, codebooks, codes, m, dsub, shortlist)
      .select(col("query_id"), col("point_id"))
    rerankExact(cand, queries, queryIdCol, vecCol, points, pointIdCol, k)
  }

  /** PQ-encode with the point's coarse bucket carried through the same
    * pass: `(point_id, sub, code, bucket)`. `bucket` is any
    * deterministic expression over the ORIGINAL vector column (e.g.
    * [[SimilaritySearch.signBucket]]) — computed once per point while
    * the vector is already in hand, so the IVF-PQ index needs no
    * second corpus scan.
    */
  def encodeBucketed(points: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int, dsub: Int, bucket: Column): DataFrame =
    encodeCore(points, idCol, vecCol, codebooks, m, dsub,
      carry = Seq("bucket" -> bucket))

  /** IVF-PQ — the full Jégou pipeline and the 100 TB serving shape:
    * a coarse quantizer prunes candidates to the query's cell, ADC
    * orders the survivors from codes alone, and exact cosine re-ranks
    * the shortlist from raw vectors. Each stage touches strictly less
    * data than the previous one: the cell join skips ~(1 − 1/cells)
    * of the code table per query, ADC reads codes (not vectors), and
    * only `shortlist × |queries|` raw vectors are ever fetched.
    * `codes` must come from [[encodeBucketed]]; `queryBucket` must be
    * the same bucket expression over the query's vector column.
    */
  def ivfpqRerank(queries: DataFrame, queryIdCol: String, vecCol: String,
      queryBucket: Column,
      points: DataFrame, pointIdCol: String,
      codebooks: DataFrame, codes: DataFrame,
      m: Int, dsub: Int, shortlist: Int, k: Int): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val lut = buildLut(queries, queryIdCol, vecCol, codebooks, m, dsub, Some(queryBucket))
    val cand = adcRank(lut, codes, bucketed = true, shortlist)
      .select(col("query_id"), col("point_id"))
    rerankExact(cand, queries, queryIdCol, vecCol, points, pointIdCol, k)
  }
}
