package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** The approximate-nearest-neighbor family (`sim_*`): sign-bucket,
  * trained and stored IVF, PQ, BQ, Matryoshka prefix and composed
  * IVF+BQ search, their recall tables, and the semantic-dedup and
  * cluster-curation operators over the same quantizers. Owns the
  * per-corpus index and model builds those queries search. Each
  * registration carries its Spark builder and its DuckDB oracle.
  */
object AnnQueries {

  import OracleSql.{clusterLabelCtesFrom, exactKnnSql, FixturesDir, h32Sql, kmeansCtes,
    nearestCellsSql, sqlCos, sqlDot, topKSql}

  /** Trained-IVF CTEs (16 cells, 2 Lloyd iterations, cosine
    * assignment — `ivfCentRows`' parameters) over the held-out split: a
    * CTE list (no leading WITH) ending at `ap(pid, v, cid)` (the trained
    * point assignment) with `c2(cid, c)` (the trained centroids) and
    * `qs(pid, v)` (the held-out query rows) still in scope. Shared by
    * the trained-IVF search oracle and the cluster-curation oracles.
    */
  private lazy val ivfTrainCtes: String =
    s"""emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |pts AS (SELECT vec_id AS pid, v FROM emb WHERE vec_id >= 10),
       |qs AS (SELECT vec_id AS pid, v FROM emb WHERE vec_id < 10),
       |${kmeansCtes("pts", k = 16, iters = 2, sqlCos, out = "ap")}""".stripMargin

  /** Trained k-means + multi-probe IVF search (nprobe=4, k=3) — mirrors
    * trainedCentroids + assignPoints + searchAssignedCells. A
    * standalone SELECT so `sim_recall_eval` can embed it as a derived
    * table as well as `sim_ivf_trained` using it directly.
    */
  private lazy val ivfTrainedSelect: String = {
    s"""WITH $ivfTrainCtes,
       |qp AS (
       |  SELECT pid AS qid, v AS qv, cid FROM (${nearestCellsSql("qs", "c2", sqlCos, 4)})),
       |scored AS (
       |  SELECT qp.qid AS query_id, ap.pid AS point_id, ${sqlCos("qp.qv", "ap.v")} AS score
       |  FROM qp JOIN ap ON qp.cid = ap.cid),
       |ranked AS (
       |  SELECT query_id, point_id, score,
       |    ${topKSql("query_id", "score DESC, point_id")}
       |  FROM scored QUALIFY rank <= 3)
       |SELECT query_id, rank, point_id, round(score, 6) AS score
       |FROM ranked ORDER BY query_id, rank""".stripMargin
  }

  /** Multi-probe (nprobe=2) probe-set CTEs over a query CTE
    * `qCte(query_id, embedding, bucket)`: own bucket UNION the single
    * flip of the lowest-|component| sign bit, ties by mask (mirrors the
    * struct array_sort in `ivfTopKStored`; for component j of 4 the
    * mask is 2^(4−j), flip via xor). ONE definition of the probe rule,
    * shared by the batch multi-probe oracle and the unified recall
    * table so the tie-break can never silently diverge between them.
    * Emits `fl`/`fr`/`probes`; callers join `probes` on the bucket.
    */
  private def mpProbeCtes(qCte: String): String =
    s"""fl AS (
       |  SELECT query_id, abs(embedding[j])::DOUBLE AS a,
       |    CAST(pow(2, 4 - j) AS BIGINT) AS m
       |  FROM $qCte, LATERAL (SELECT unnest(generate_series(1, 4)) AS j) g),
       |fr AS (
       |  SELECT query_id, m,
       |    ${topKSql("query_id", "a, m", "rn")}
       |  FROM fl),
       |probes AS (
       |  SELECT query_id, embedding, bucket FROM $qCte
       |  UNION ALL
       |  SELECT q0.query_id, q0.embedding, xor(q0.bucket, f.m) AS bucket
       |  FROM fr f JOIN $qCte q0 USING (query_id) WHERE f.rn <= 1)""".stripMargin

  /** Product-quantization oracle: per-subspace [[OracleSql.kmeansCtes]]
    * chains with EUCLIDEAN assignment (`argmax dot − ‖c‖²/2`) → per-(point, sub)
    * code assignment → broadcast-LUT ADC cosine — mirrors
    * Pq.trainCodebooks / Pq.encode / Pq.adcTopK step for step
    * (m=8 × 8-d subspaces, 16 codes, 2 Lloyd iterations, ADC scores
    * rounded to 6 dp before ranking). Modes: "adc" ranks ADC scores
    * directly; "rerank" turns the ADC ranking into a 50-candidate
    * shortlist whose raw vectors are re-scored with exact cosine
    * (Pq.adcRerank — ranking on the UNROUNDED exact score, the
    * Knn.knnJoin convention); "ivfpq" additionally prunes candidates
    * to the query's 4-bit sign bucket before ADC (Pq.ivfpqRerank,
    * shortlist 20).
    */
  private def pqSelect(mode: String, qMax: Int = 5, k: Int = 5): String = {
    val m = 8; val dsub = 8; val kCodes = 16
    val rerank = mode != "adc"
    val ivfpq = mode == "ivfpq"
    val adcK = if (!rerank) k else if (ivfpq) 20 else 50
    // L2 assignment (argmax dot − ‖c‖²/2), not the IVF trainer's cosine
    def l2(v: String, c: String): String = s"${sqlDot(v, c)} - ${sqlDot(c, c)} / 2"
    val subChains = (0 until m).map { s =>
      val lo = s * dsub + 1; val hi = (s + 1) * dsub
      s"""ps$s AS (SELECT pid, v[$lo:$hi] AS v FROM pts),
         |${kmeansCtes(s"ps$s", kCodes, iters = 2, l2, out = s"cd$s", sfx = s.toString)}""".stripMargin
    }.mkString(",\n")
    val cbUnion = (0 until m).map(s => s"SELECT $s AS sub, cid, c FROM c2$s")
      .mkString("\n  UNION ALL ")
    val codesUnion = (0 until m).map(s => s"SELECT $s AS sub, pid, cid FROM cd$s")
      .mkString("\n  UNION ALL ")
    val qsubUnion = (0 until m).map { s =>
      val lo = s * dsub + 1; val hi = (s + 1) * dsub
      s"SELECT pid AS qid, $s AS sub, v[$lo:$hi] AS qv FROM qs"
    }.mkString("\n  UNION ALL ")
    s"""WITH emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |pts AS (SELECT vec_id AS pid, v FROM emb WHERE vec_id >= 10),
       |qs AS (SELECT vec_id AS pid, v FROM emb WHERE vec_id < $qMax),
       |$subChains,
       |cb AS ($cbUnion),
       |codes AS ($codesUnion),
       |qsub AS ($qsubUnion),
       |qn AS (SELECT pid AS qid, ${OracleSql.sqlNorm("v")} AS n FROM qs),
       |lut AS (
       |  SELECT q.qid, q.sub, cb.cid,
       |    ${sqlDot("q.qv", "cb.c")} AS pdot,
       |    ${sqlDot("cb.c", "cb.c")} AS cn2
       |  FROM qsub q JOIN cb ON q.sub = cb.sub),
       |${if (ivfpq)
            s"""pbk AS (SELECT pid, ${bucketSql("v")} AS bucket FROM pts),
               |qbk AS (SELECT pid AS qid, ${bucketSql("v")} AS bucket FROM qs),""".stripMargin
          else ""}
       |sc AS (
       |  SELECT l.qid AS query_id, cds.pid AS point_id,
       |    round(CASE WHEN max(qn.n) * sqrt(sum(l.cn2)) = 0 THEN 0
       |          ELSE sum(l.pdot) / (max(qn.n) * sqrt(sum(l.cn2))) END, 6) AS score
       |  FROM codes cds
       |    JOIN lut l ON cds.sub = l.sub AND cds.cid = l.cid
       |    JOIN qn ON qn.qid = l.qid
       |${if (ivfpq)
            """    JOIN pbk ON pbk.pid = cds.pid
              |    JOIN qbk ON qbk.qid = l.qid AND qbk.bucket = pbk.bucket""".stripMargin
          else ""}
       |  GROUP BY l.qid, cds.pid),
       |ranked AS (
       |  SELECT query_id, point_id, score, ${topKSql("query_id", "score DESC, point_id")}
       |  FROM sc QUALIFY rank <= $adcK)
       |${if (!rerank)
            """SELECT query_id, rank, point_id, score
              |FROM ranked ORDER BY query_id, rank""".stripMargin
          else
            s""",rr AS (
              |  SELECT r.query_id, r.point_id, ${sqlCos("q.v", "p.v")} AS score
              |  FROM ranked r
              |    JOIN pts p ON p.pid = r.point_id
              |    JOIN qs q ON q.pid = r.query_id),
              |rr2 AS (
              |  SELECT query_id, point_id, score, ${topKSql("query_id", "score DESC, point_id")}
              |  FROM rr QUALIFY rank <= $k)
              |SELECT query_id, rank, point_id, round(score, 6) AS score
              |FROM rr2 ORDER BY query_id, rank""".stripMargin}""".stripMargin
  }

  /** The sign-bucket stored index both batch-ANN queries share — ONE
    * builder, so the layout (bits, bucket count, column name) cannot
    * silently diverge between the single-probe and multi-probe
    * registrations that search the same table.
    */
  private val signBucketIndex = Memo.table("ivf_batch_idx") { (s, d, tbl) =>
    Tables.embeddings(s, d).withColumnRenamed("vec_id", "point_id")
      .withColumn("b", SimilaritySearch.signBucket("embedding", 4))
      .write.mode("overwrite").option("path", Memo.tablePath(tbl))
      .bucketBy(16, "b").saveAsTable(tbl)
  }

  /** Binary-quantization signature index, materialized at ingest — the
    * production step [[SimilaritySearch.bqRerankTopKStored]] amortizes:
    * `sig = packSignBits(embedding, 64)` (2 BIGINTs per 64-d vector,
    * 16x smaller than the floats) written ONCE next to the point ids.
    * Layout: `bucketBy(32, point_id)`. Phase 1 has no join key (it is
    * a broadcast nested-loop scan), so the bucketing is NOT for join
    * co-location — it pins SCAN parallelism: a bucketed table scans
    * one task per bucket, where a plain narrow table this small
    * coalesces into 1–2 byte-sized splits and single-threads the
    * O(pairs) pass (measured: the un-bucketed prefix index ran 1.8x
    * SLOWER than the in-plan form at the 100x smoke for exactly this
    * reason). Production sizes the bucket count to corpus/task-size;
    * 32 matches the harness parallelism. Zero per-batch pack and zero
    * point-side exchange either way (BucketingSpec pin).
    */
  private val bqSigIndex = Memo.table("bq_sig_idx") { (s, d, tbl) =>
    Tables.embeddings(s, d).filter(col("vec_id") >= 10)
      .select(col("vec_id").as("point_id"),
        SimilaritySearch.packSignBits(col("embedding"), 64).as("sig"))
      .write.mode("overwrite").option("path", Memo.tablePath(tbl))
      .bucketBy(32, "point_id").saveAsTable(tbl)
  }

  /** Matryoshka prefix index (the [[bqSigIndex]] discipline for
    * [[SimilaritySearch.prefixRerankTopKStored]]): the leading 16 of 64
    * components stored as their own narrow column — the corpus-wide
    * prefix pass scans 1/4 of the vector bytes with no per-batch slice.
    */
  private val prefixSigIndex = Memo.table("prefix_idx") { (s, d, tbl) =>
    Tables.embeddings(s, d).filter(col("vec_id") >= 10)
      .select(col("vec_id").as("point_id"),
        slice(col("embedding"), 1, 16).as("pre"))
      .write.mode("overwrite").option("path", Memo.tablePath(tbl))
      .bucketBy(32, "point_id").saveAsTable(tbl)
  }

  /** Composed IVF+BQ stored index: sign bucket (the co-location key —
    * `bucketBy` serves the probe equi-join with zero point-side
    * movement) AND packed signature (the cheap pair-pass column) in
    * ONE table, for [[SimilaritySearch.ivfBqRerankTopK]]. The raw
    * vector column is deliberately NOT stored here: the pair pass
    * never reads it, and the rerank fetches it by id from the corpus.
    */
  private[graft] val ivfBqIndex = Memo.table("ivf_bq_idx") { (s, d, tbl) =>
    Tables.embeddings(s, d).filter(col("vec_id") >= 10)
      .select(col("vec_id").as("point_id"),
        SimilaritySearch.signBucket("embedding", 4).as("b"),
        SimilaritySearch.packSignBits(col("embedding"), 64).as("sig"))
      .write.mode("overwrite").option("path", Memo.tablePath(tbl))
      .bucketBy(16, "b").saveAsTable(tbl)
  }

  /** Trained-IVF stored index (cell assignment bucketed by `cid`, the
    * 16-row centroid model as a `_cents` side table) —
    * `sim_ivf_trained_batch`'s build.
    */
  private val ivfTrainedIndex = Memo.table("ivf_trained_idx") { (s, d, tbl) =>
    val points = Tables.embeddings(s, d).filter(col("vec_id") >= 10)
      .withColumnRenamed("vec_id", "point_id")
    val cents = ivfModel(s, d)
    cents.write.mode("overwrite").option("path", Memo.tablePath(tbl + "_cents"))
      .saveAsTable(tbl + "_cents")
    SimilaritySearch.assignPoints(points, "point_id", "embedding", cents)
      .write.mode("overwrite").option("path", Memo.tablePath(tbl))
      .bucketBy(16, "cid").saveAsTable(tbl)
  }

  /** Trained-IVF centroids (64-d, 16 centroids, 2 Lloyd iterations) and
    * PQ codebooks (m=8, 16 codes, 2 iterations) over `emb`'s
    * vec_id ≥ 10, as driver-local rows. Training is deterministic, so
    * [[Memo]] keeps one model per embedding source: production trains
    * once per corpus and every search amortizes it.
    */
  private def ivfCentRows(emb: DataFrame): Array[(Long, Array[Double])] =
    SimilaritySearch.trainedCentroids(
        emb.filter(col("vec_id") >= 10).withColumnRenamed("vec_id", "point_id"),
        "point_id", "embedding", dim = 64, kCentroids = 16, iters = 2)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
  private def pqCodeRows(emb: DataFrame): Array[(Int, Long, Array[Double])] =
    Pq.trainCodebooks(
        emb.filter(col("vec_id") >= 10), "vec_id", "embedding",
        dim = 64, m = 8, kCodes = 16, iters = 2)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
  private def centsDf(s: SparkSession, rows: Array[(Long, Array[Double])]): DataFrame = {
    import s.implicits._
    rows.toSeq.toDF("cid", "centroid")
  }
  private def codebookDf(s: SparkSession, rows: Array[(Int, Long, Array[Double])]): DataFrame = {
    import s.implicits._
    rows.toSeq.toDF("sub", "cid", "centroid")
  }
  private val ivfCents = Memo.corpus("ivf_cents")((s, d) => ivfCentRows(Tables.embeddings(s, d)))
  private val pqCodebooks =
    Memo.corpus("pq_codebooks")((s, d) => pqCodeRows(Tables.embeddings(s, d)))
  private def ivfModel(s: SparkSession, d: String): DataFrame = centsDf(s, ivfCents(s, d))
  private def pqModel(s: SparkSession, d: String): DataFrame = codebookDf(s, pqCodebooks(s, d))

  /** The unified nine-path ANN quality table (`sim_recall_all` /
    * `sim_recall_clustered`): mean recall@3 of every approximate path
    * against one exact ground truth over the same queries (vec_id < 10),
    * points (vec_id >= 10) and k, with `cents` / `cb` the IVF and PQ
    * models trained on `emb`.
    */
  private def recallAllOver(s: SparkSession, emb: DataFrame, cents: DataFrame,
      cb: DataFrame): DataFrame = {
    val queries = emb.filter(col("vec_id") < 10)
    val pts = emb.filter(col("vec_id") >= 10)
    val points = pts.withColumnRenamed("vec_id", "point_id")
    val exact = Knn.knnJoin(queries, points, "vec_id", "embedding",
        "point_id", "embedding", 3)
      .select(col("query_id"), col("point_id"))
    val codes = Pq.encode(pts, "vec_id", "embedding", cb, m = 8, dsub = 8)
    val bcodes = Pq.encodeBucketed(pts, "vec_id", "embedding", cb, m = 8, dsub = 8,
      SimilaritySearch.signBucket("embedding", 4))
    val paths: Seq[(String, DataFrame)] = Seq(
      "ivf" -> SimilaritySearch.ivfTopK(queries, points,
        "vec_id", "point_id", "embedding", bits = 4, k = 3),
      "ivf_mp" -> SimilaritySearch.ivfTopKStored(queries,
        points.withColumn("b", SimilaritySearch.signBucket("embedding", 4)),
        "vec_id", "point_id", "embedding", "b", bits = 4, k = 3, nprobe = 2),
      "ivf_trained" -> SimilaritySearch.searchAssignedCells(
        SimilaritySearch.assignPoints(points, "point_id", "embedding", cents),
        cents, queries, "vec_id", "embedding", nprobe = 4, k = 3),
      "pq_adc" -> Pq.adcTopK(queries, "vec_id", "embedding",
        cb, codes, m = 8, dsub = 8, k = 3),
      "pq_rerank" -> Pq.adcRerank(queries, "vec_id", "embedding",
        points.select(col("point_id"), col("embedding")), "point_id",
        cb, codes, m = 8, dsub = 8, shortlist = 50, k = 3),
      "ivfpq" -> Pq.ivfpqRerank(queries, "vec_id", "embedding",
        SimilaritySearch.signBucket("embedding", 4),
        points.select(col("point_id"), col("embedding")), "point_id",
        cb, bcodes, m = 8, dsub = 8, shortlist = 20, k = 3),
      "bq" -> SimilaritySearch.bqRerankTopK(queries, points,
        "vec_id", "point_id", "embedding", dim = 64, shortlist = 20, k = 3),
      "prefix" -> SimilaritySearch.prefixRerankTopK(queries, points,
        "vec_id", "point_id", "embedding", prefixDim = 16, shortlist = 20, k = 3),
      "ivf_bq" -> SimilaritySearch.ivfBqRerankTopK(queries,
        pts.select(col("vec_id").as("point_id"),
          SimilaritySearch.signBucket("embedding", 4).as("b"),
          SimilaritySearch.packSignBits(col("embedding"), 64).as("sig")),
        points.select(col("point_id"), col("embedding")),
        "vec_id", "point_id", "embedding", "b", "sig",
        bits = 4, dim = 64, nprobe = 2, shortlist = 20, k = 3))
    // ONE method-tagged tail instead of nine (the eval_ndcg_paths
    // fusion): each path's recallAtK + mean used to plan its own
    // semi-join, per-query fold, zero-fill join, and final aggregate —
    // ~3 sequential AQE stage jobs per path over ≤30 rows of hits.
    // Union the (tiny) hit tables tagged by method, dedup to preserve
    // the semi-join's count-once semantics, one semi-join against the
    // exact truth, one count per method. n_queries is path-independent
    // (recallAtK zero-fills misses from the exact side), so it comes
    // from the exact table once; the when(n_queries > 0) guards keep
    // the empty-input outputs (null sum/recall) bit-identical to the
    // old per-path aggregate.
    val tagged = paths.map { case (name, approx) =>
        approx.select(lit(name).as("method"), col("query_id"), col("point_id"))
      }.reduce(_.unionByName(_)).distinct()
    // Semi-join direction is approx-against-exact (the reverse of
    // recallAtK's exact-against-approx); the hit COUNTS are equal only
    // because knnJoin's row_number guarantees distinct (query_id,
    // point_id) on the exact side — if the exact path ever keeps ties,
    // this tail must .distinct() the exact projection too.
    val hitCounts = tagged
      .join(exact, Seq("query_id", "point_id"), "left_semi")
      .groupBy(col("method")).agg(count(lit(1)).as("__hits"))
    import s.implicits._
    val sumHits = when(col("n_queries") > 0, coalesce(col("__hits"), lit(0L)))
    paths.map(_._1).toDF("method")
      .crossJoin(exact.agg(count_distinct(col("query_id")).as("n_queries")))
      .join(hitCounts, Seq("method"), "left")
      .select(col("method"), col("n_queries"),
        sumHits.as("sum_hits"),
        round(sumHits.cast("double") / (col("n_queries") * 3), 6)
          .as("mean_recall"))
      .orderBy(col("method"))
  }

  /** DuckDB mirror of `SimilaritySearch.packSignBits` word `w`: sign
    * bits of components `[w*32, min(dim, (w+1)*32))` packed into bit
    * `31 - (i mod 32)` of one BIGINT — 32-bit words, so every sum stays
    * positive in both engines.
    */
  private def bqWordSql(c: String, w: Int, dim: Int): String =
    (w * 32 until math.min(dim, (w + 1) * 32))
      .map(i => s"CASE WHEN $c[${i + 1}] > 0 THEN ${1L << (31 - (i % 32))} ELSE 0 END")
      .mkString("(", " + ", ")::BIGINT")

  /** Shared oracle for `sim_prefix_rerank` AND `sim_prefix_stored`: the
    * stored index changes the execution layout, not the semantics, so
    * both check against one SQL (the single-sourcing discipline).
    */
  private lazy val prefixRerankSql: String =
    s"""WITH q AS (
       |  SELECT vec_id, embedding, embedding[1:16] AS pre
       |  FROM embeddings WHERE vec_id < 10),
       |p AS (
       |  SELECT vec_id, embedding, embedding[1:16] AS pre
       |  FROM embeddings WHERE vec_id >= 10),
       |sl AS (
       |  SELECT q.vec_id AS query_id, p.vec_id AS point_id,
       |    q.embedding AS qe, p.embedding AS pe,
       |    ${topKSql("q.vec_id", s"${sqlCos("q.pre", "p.pre")} DESC, p.vec_id", "prank")}
       |  FROM q, p
       |  QUALIFY prank <= 20)
       |SELECT query_id,
       |  ${topKSql("query_id", s"${sqlCos("qe", "pe")} DESC, point_id")},
       |  point_id,
       |  round(${sqlCos("qe", "pe")}, 6) AS score
       |FROM sl
       |QUALIFY rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Shared oracle for `sim_ivf_bq` AND `stream_idx_search` (the
    * streaming serving loop over the same stored index — per-query
    * purity makes micro-batch slicing invisible, so both check
    * against one SQL).
    */
  private[graft] lazy val ivfBqSql: String =
    s"""WITH b AS (
       |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket,
       |    ${bqWordSql("embedding", 0, 64)} AS w0,
       |    ${bqWordSql("embedding", 1, 64)} AS w1
       |  FROM embeddings),
       |q0 AS (SELECT vec_id AS query_id, embedding, bucket FROM b WHERE vec_id < 10),
       |${mpProbeCtes("q0")},
       |qs AS (SELECT vec_id AS query_id, embedding AS qe, w0 AS qw0, w1 AS qw1
       |       FROM b WHERE vec_id < 10),
       |p AS (SELECT vec_id AS point_id, embedding AS pe, bucket, w0, w1
       |      FROM b WHERE vec_id >= 10),
       |sl AS (
       |  SELECT pr.query_id, p.point_id, qs.qe, p.pe,
       |    ${topKSql("pr.query_id", s"${bqHammingSql("qs.qw", "p.w")} ASC, p.point_id ASC", "hrank")}
       |  FROM probes pr
       |  JOIN p ON pr.bucket = p.bucket
       |  JOIN qs ON pr.query_id = qs.query_id
       |  QUALIFY hrank <= 20)
       |SELECT query_id,
       |  ${topKSql("query_id", s"${sqlCos("qe", "pe")} DESC, point_id")},
       |  point_id,
       |  round(${sqlCos("qe", "pe")}, 6) AS score
       |FROM sl
       |QUALIFY rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Shared oracle for `sim_bq_rerank` AND `sim_bq_stored`. */
  private lazy val bqRerankSql: String =
    s"""WITH sig AS (
       |  SELECT vec_id, embedding,
       |    ${bqWordSql("embedding", 0, 64)} AS w0,
       |    ${bqWordSql("embedding", 1, 64)} AS w1
       |  FROM embeddings),
       |q AS (SELECT * FROM sig WHERE vec_id < 10),
       |p AS (SELECT * FROM sig WHERE vec_id >= 10),
       |sl AS (
       |  SELECT q.vec_id AS query_id, p.vec_id AS point_id,
       |    q.embedding AS qe, p.embedding AS pe,
       |    ${topKSql("q.vec_id", s"${bqHammingSql("q.w", "p.w")} ASC, p.vec_id ASC", "hrank")}
       |  FROM q, p
       |  QUALIFY hrank <= 20)
       |SELECT query_id,
       |  ${topKSql("query_id", s"${sqlCos("qe", "pe")} DESC, point_id")},
       |  point_id,
       |  round(${sqlCos("qe", "pe")}, 6) AS score
       |FROM sl
       |QUALIFY rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Hamming distance between two 2-word BQ signatures held as columns
    * `<q>0`, `<q>1` and `<p>0`, `<p>1` (see [[bqWordSql]]).
    */
  private def bqHammingSql(q: String, p: String): String =
    s"bit_count(xor(${q}0, ${p}0)) + bit_count(xor(${q}1, ${p}1))"

  private def bucketSql(col: String, bits: Int = 4): String =
    (0 until bits)
      .map(i => s"CASE WHEN $col[${i + 1}] > 0 THEN ${1L << (bits - 1 - i)} ELSE 0 END")
      .mkString("(", " + ", ")::BIGINT")

  /** Body of the nine-path recall oracle; `prefix` prepends (optionally)
    * a source-shadowing CTE — see `sim_recall_clustered`.
    */
  private def recallAllSql(prefix: String): String =
      s"""WITH ${prefix}exact AS (
         |  SELECT query_id, point_id
         |  FROM (${exactKnnSql("embeddings", "q.vec_id < 10", "p.vec_id >= 10", 3)})),
         |eb AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
         |qm AS (SELECT vec_id AS query_id, embedding, bucket FROM eb WHERE vec_id < 10),
         |pm AS (SELECT vec_id AS point_id, embedding, bucket FROM eb WHERE vec_id >= 10),
         |ivf AS (
         |  SELECT query_id, point_id FROM (
         |    SELECT q.query_id, p.point_id,
         |      ${topKSql("q.query_id", s"${sqlCos("q.embedding", "p.embedding")} DESC, p.point_id")}
         |    FROM qm q JOIN pm p ON q.bucket = p.bucket
         |    QUALIFY rank <= 3)),
         |${mpProbeCtes("qm")},
         |mp AS (
         |  SELECT query_id, point_id FROM (
         |    SELECT p.query_id, pm.point_id,
         |      ${topKSql("p.query_id", s"${sqlCos("p.embedding", "pm.embedding")} DESC, pm.point_id")}
         |    FROM probes p JOIN pm ON p.bucket = pm.bucket
         |    QUALIFY rank <= 3)),
         |trained AS (SELECT query_id, point_id FROM ($ivfTrainedSelect)),
         |adc AS (SELECT query_id, point_id FROM (${pqSelect("adc", qMax = 10, k = 3)})),
         |prr AS (SELECT query_id, point_id FROM (${pqSelect("rerank", qMax = 10, k = 3)})),
         |ipq AS (SELECT query_id, point_id FROM (${pqSelect("ivfpq", qMax = 10, k = 3)})),
         |bqs AS (
         |  SELECT vec_id, embedding,
         |    ${bqWordSql("embedding", 0, 64)} AS w0,
         |    ${bqWordSql("embedding", 1, 64)} AS w1
         |  FROM embeddings),
         |bq AS (
         |  SELECT query_id, point_id FROM (
         |    SELECT query_id, point_id,
         |      ${topKSql("query_id", s"${sqlCos("qe", "pe")} DESC, point_id")}
         |    FROM (
         |      SELECT q.vec_id AS query_id, p.vec_id AS point_id,
         |        q.embedding AS qe, p.embedding AS pe,
         |        ${topKSql("q.vec_id", s"${bqHammingSql("q.w", "p.w")} ASC, p.vec_id ASC", "hrank")}
         |      FROM bqs q, bqs p WHERE q.vec_id < 10 AND p.vec_id >= 10
         |      QUALIFY hrank <= 20)
         |    QUALIFY rank <= 3)),
         |pfx AS (
         |  SELECT query_id, point_id FROM (
         |    SELECT query_id, point_id,
         |      ${topKSql("query_id", s"${sqlCos("qe", "pe")} DESC, point_id")}
         |    FROM (
         |      SELECT q.vec_id AS query_id, p.vec_id AS point_id,
         |        q.embedding AS qe, p.embedding AS pe,
         |        ${topKSql("q.vec_id",
                    s"${sqlCos("q.embedding[1:16]", "p.embedding[1:16]")} DESC, p.vec_id ASC", "prank")}
         |      FROM embeddings q, embeddings p WHERE q.vec_id < 10 AND p.vec_id >= 10
         |      QUALIFY prank <= 20)
         |    QUALIFY rank <= 3)),
         |ibq AS (
         |  SELECT query_id, point_id FROM (
         |    SELECT query_id, point_id,
         |      ${topKSql("query_id", s"${sqlCos("qe", "pe")} DESC, point_id")}
         |    FROM (
         |      SELECT pr.query_id, pm.point_id,
         |        qb.embedding AS qe, pb.embedding AS pe,
         |        ${topKSql("pr.query_id", s"${bqHammingSql("qb.w", "pb.w")} ASC, pm.point_id ASC", "hrank")}
         |      FROM probes pr
         |      JOIN pm ON pr.bucket = pm.bucket
         |      JOIN bqs qb ON qb.vec_id = pr.query_id
         |      JOIN bqs pb ON pb.vec_id = pm.point_id
         |      QUALIFY hrank <= 20)
         |    QUALIFY rank <= 3)),
         |paths AS (
         |  SELECT 'ivf' AS method, query_id, point_id FROM ivf
         |  UNION ALL SELECT 'ivf_mp', query_id, point_id FROM mp
         |  UNION ALL SELECT 'ivf_trained', query_id, point_id FROM trained
         |  UNION ALL SELECT 'pq_adc', query_id, point_id FROM adc
         |  UNION ALL SELECT 'pq_rerank', query_id, point_id FROM prr
         |  UNION ALL SELECT 'ivfpq', query_id, point_id FROM ipq
         |  UNION ALL SELECT 'bq', query_id, point_id FROM bq
         |  UNION ALL SELECT 'prefix', query_id, point_id FROM pfx
         |  UNION ALL SELECT 'ivf_bq', query_id, point_id FROM ibq),
         |nq AS (SELECT count(DISTINCT query_id) AS n FROM exact),
         |hits AS (
         |  SELECT p.method, count(*) AS sum_hits
         |  FROM paths p JOIN exact e
         |    ON e.query_id = p.query_id AND e.point_id = p.point_id
         |  GROUP BY p.method)
         |SELECT m.method,
         |  CAST(nq.n AS BIGINT) AS n_queries,
         |  CAST(coalesce(h.sum_hits, 0) AS BIGINT) AS sum_hits,
         |  round(coalesce(h.sum_hits, 0)::DOUBLE / (3 * nq.n), 6) AS mean_recall
         |FROM (VALUES ('ivf'), ('ivf_mp'), ('ivf_trained'),
         |      ('pq_adc'), ('pq_rerank'), ('ivfpq'), ('bq'), ('prefix'),
         |      ('ivf_bq')) m(method)
         |CROSS JOIN nq
         |LEFT JOIN hits h ON h.method = m.method
         |ORDER BY m.method""".stripMargin

  val entries: Seq[Query] = Seq(
    // Fixed-width (bits = 4) sign-bucket IVF — the oracle-simplest ANN
    // form. AT SCALE prefer `sim_ivf_trained` (k-means cells sized to
    // the corpus, multi-probe recall control) or `sim_ivf_batch`'s
    // stored pre-bucketed index; a fixed bucket width has the same
    // saturation failure mode sim_semdedup documents
    Query("sim_ivf", s"""WITH b AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding, bucket FROM b WHERE vec_id < 10),
         |p AS (SELECT vec_id AS point_id, embedding, bucket FROM b WHERE vec_id >= 10),
         |s AS (
         |  SELECT q.query_id, p.point_id,
         |    ${sqlCos("q.embedding", "p.embedding")} AS score,
         |    ${topKSql("q.query_id", s"${sqlCos("q.embedding", "p.embedding")} DESC, p.point_id")}
         |  FROM q JOIN p ON q.bucket = p.bucket
         |  QUALIFY rank <= 3)
         |SELECT query_id, rank, point_id, round(score, 6) AS score
         |FROM s ORDER BY query_id, rank""".stripMargin)((s, d) => {
      val emb = Tables.embeddings(s, d)
      SimilaritySearch.ivfTopK(
          emb.filter(col("vec_id") < 10),
          emb.filter(col("vec_id") >= 10).withColumnRenamed("vec_id", "point_id"),
          "vec_id", "point_id", "embedding", bits = 4, k = 3)
        .select(col("query_id"), col("rank"), col("point_id"), round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // LARGE-query-side batch ANN: a query set too big to broadcast,
    // searched against the PRE-BUCKETED stored index (ivfTopKStored).
    // The index is written once (bucketBy on the materialized sign
    // bucket — production amortizes this over every later batch); the
    // point side then needs NO exchange and NO broadcast: only the
    // query side shuffles on the bucket key. hint("merge") models the
    // million-query case where the planner must not broadcast either
    // side (plan-pinned in PlanSpec: no broadcast join, exactly one
    // bucket-key exchange). Self-search: every 4th vector queries the
    // full index, rank 1 is the vector itself.
    // batch self-search: same bucket-join semantics as sim_ivf, query
    // side = every 4th vector, point side = the full (stored) index
    Query("sim_ivf_batch", s"""WITH b AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding, bucket FROM b WHERE vec_id % 4 = 0),
         |s AS (
         |  SELECT q.query_id, b.vec_id AS point_id,
         |    ${sqlCos("q.embedding", "b.embedding")} AS score,
         |    ${topKSql("q.query_id", s"${sqlCos("q.embedding", "b.embedding")} DESC, b.vec_id")}
         |  FROM q JOIN b ON q.bucket = b.bucket
         |  QUALIFY rank <= 3)
         |SELECT query_id, rank, point_id, round(score, 6) AS score
         |FROM s ORDER BY query_id, rank""".stripMargin)((s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = signBucketIndex(s, d)
      SimilaritySearch.ivfTopKStored(
          emb.filter(col("vec_id") % 4 === 0).hint("merge"),
          s.table(idx),
          "vec_id", "point_id", "embedding", "b", bits = 4, k = 3)
        .select(col("query_id"), col("rank"), col("point_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // multi-probe batch ANN over the SAME stored index: each query also
    // searches the bucket reached by flipping its least-confident sign
    // bit (nprobe=2) — the recall knob of the stored serving path. The
    // point side still never moves (PlanSpec: one bucket-key exchange,
    // query side only); recall@3 strictly above single-probe is pinned
    // in GuardrailSpec.
    // multi-probe (nprobe=2): own bucket UNION the single-bit flip of
    // the lowest-|component| sign bit (ties by mask — mirrors the
    // struct array_sort in ivfTopKStored); mask for component j of 4
    // is 2^(4-j), flip via xor
    Query("sim_ivf_batch_mp", s"""WITH b AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
         |q0 AS (SELECT vec_id AS query_id, embedding, bucket FROM b WHERE vec_id % 4 = 0),
         |${mpProbeCtes("q0")},
         |s AS (
         |  SELECT p.query_id, b.vec_id AS point_id,
         |    ${sqlCos("p.embedding", "b.embedding")} AS score,
         |    ${topKSql("p.query_id", s"${sqlCos("p.embedding", "b.embedding")} DESC, b.vec_id")}
         |  FROM probes p JOIN b ON p.bucket = b.bucket
         |  QUALIFY rank <= 3)
         |SELECT query_id, rank, point_id, round(score, 6) AS score
         |FROM s ORDER BY query_id, rank""".stripMargin)((s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = signBucketIndex(s, d)
      SimilaritySearch.ivfTopKStored(
          emb.filter(col("vec_id") % 4 === 0).hint("merge"),
          s.table(idx),
          "vec_id", "point_id", "embedding", "b", bits = 4, k = 3, nprobe = 2)
        .select(col("query_id"), col("rank"), col("point_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),
    Query("sim_ivf_trained", ivfTrainedSelect)((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = ivfModel(s, d)
      SimilaritySearch.searchAssignedCells(
          SimilaritySearch.assignPoints(
            emb.filter(col("vec_id") >= 10).withColumnRenamed("vec_id", "point_id"),
            "point_id", "embedding", cents),
          cents, emb.filter(col("vec_id") < 10), "vec_id", "embedding", nprobe = 4, k = 3)
        .select(col("query_id"), col("rank"), col("point_id"), round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // trained-IVF x stored-bucket composition: the trained cell
    // assignment is PERSISTED with bucketBy(cid) (plus the k-row
    // centroid model as a side table), so the batch path gets balanced
    // cells AND zero point-side movement. Same training/probe/scoring
    // semantics and parameters as sim_ivf_trained -> same oracle.
    // Build memoized per JVM per sfDir (production amortizes the index
    // write over every later batch search).
    Query("sim_ivf_trained_batch", ivfTrainedSelect)((s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = ivfTrainedIndex(s, d)
      SimilaritySearch.searchAssignedCells(
          s.table(idx).hint("merge"), s.table(idx + "_cents"),
          emb.filter(col("vec_id") < 10), "vec_id", "embedding", nprobe = 4, k = 3)
        .select(col("query_id"), col("rank"), col("point_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // index-quality eval: recall@3 of the trained IVF (nprobe=4) vs the
    // exact kNN ground truth — the nprobe/kCentroids tuning loop
    Query("sim_recall_eval", s"""WITH exact AS (
         |  SELECT query_id, point_id
         |  FROM (${exactKnnSql("embeddings", "q.vec_id < 10", "p.vec_id >= 10", 3)})),
         |approx AS (SELECT query_id, point_id FROM ($ivfTrainedSelect)),
         |hits AS (
         |  SELECT e.query_id, count(*) AS n_hits
         |  FROM exact e JOIN approx a USING (query_id, point_id)
         |  GROUP BY e.query_id)
         |SELECT q.query_id,
         |  coalesce(h.n_hits, 0) AS n_hits,
         |  round(coalesce(h.n_hits, 0)::DOUBLE / 3, 6) AS recall_at_k
         |FROM (SELECT DISTINCT query_id FROM exact) q
         |LEFT JOIN hits h USING (query_id)
         |ORDER BY q.query_id""".stripMargin)((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 10)
      val points = emb.filter(col("vec_id") >= 10).withColumnRenamed("vec_id", "point_id")
      val exact = Knn.knnJoin(queries, points, "vec_id", "embedding", "point_id", "embedding", 3)
      val cents = ivfModel(s, d)
      val approx = SimilaritySearch.searchAssignedCells(
        SimilaritySearch.assignPoints(points, "point_id", "embedding", cents),
        cents, queries, "vec_id", "embedding", nprobe = 4, k = 3)
      SimilaritySearch.recallAtK(exact, approx, "query_id", "point_id", 3)
        .orderBy(col("query_id"))
    }),
    // unified ANN quality table: mean recall@3 of ALL six approximate
    // paths (sign-bucket IVF, multi-probe IVF, trained IVF, PQ-ADC,
    // PQ+exact-rerank, IVF-PQ) against ONE exact ground truth — the
    // same query set (vec_id < 10), point set (vec_id >= 10) and k for
    // every path, so the rows are directly comparable: this is the
    // accuracy-vs-cost menu an ANN deployment picks its serving path
    // from. One row per method: (method, n_queries, sum_hits,
    // mean_recall). Integer hit counts divide once at the end, so the
    // only float compared is one 6-dp-rounded division per row.
    // nine approximate top-3 tables (each mirroring its Spark path
    // step for step), one exact ground truth, per-method hit counts
    Query("sim_recall_all", recallAllSql(""))((s, d) =>
      recallAllOver(s, Tables.embeddings(s, d), ivfModel(s, d), pqModel(s, d))),
    // the same nine-path quality table over the PLANTED-CLUSTER fixture:
    // on the noise-dominated harness embeddings recall ranks noise (pure
    // ADC 0.16), so this is the row where the menu actually measures
    // index quality — queries' true neighbors are their cluster-mates,
    // and the paths separate (ordering pinned in SimilaritySpec)
    // (its models are keyed by the fixture file, not a corpus, so
    // Memo.prewarm does not build them)
    // identical SQL over the clustered fixture: a leading CTE named
    // `embeddings` SHADOWS the registered harness view (DuckDB resolves
    // CTE names before catalog names), so every nested helper CTE —
    // training mirrors included — reads the fixture instead
    Query("sim_recall_clustered", recallAllSql(
      s"""embeddings AS (
         |  SELECT vec_id, embedding
         |  FROM read_parquet('$FixturesDir/clustered_emb.parquet/*.parquet')),
         |""".stripMargin))((s, _) => {
      val emb = Tables.clusteredEmbeddings(s, FixturesDir).select(col("vec_id"), col("embedding"))
      val key = s"fixture:$FixturesDir/clustered_emb.parquet"
      recallAllOver(s, emb, centsDf(s, Memo.once("ivf_cents", key)(ivfCentRows(emb))),
        codebookDf(s, Memo.once("pq_codebooks", key)(pqCodeRows(emb))))
    }),
    Query("sim_neardup", s"""WITH b AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings)
         |SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         |  round(${sqlCos("a.embedding", "b2.embedding")}, 6) AS score
         |FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         |WHERE ${sqlCos("a.embedding", "b2.embedding")} >= 0.4
         |ORDER BY id_a, id_b""".stripMargin)((s, d) =>
      SimilaritySearch.cosineNearDup(Tables.embeddings(s, d), "vec_id", "embedding",
          threshold = 0.4, bits = 4)
        .select(col("id_a"), col("id_b"), round(col("score"), 6).as("score"))
        .orderBy(col("id_a"), col("id_b"))),
    // SemDeDup-style semantic dedup: cosine near-dup components over the
    // sign-bucketed embedding space, min-id representative kept (the
    // shared recursive-closure label oracle). AT SCALE use
    // `sim_semdedup_vol` below: this fixed bits=4 width saturates the
    // hot-bucket guard at the 1000x decade (every bucket > cap -> zero
    // pairs, SCALING.md), which the vol form's self-sizing removes
    Query("sim_semdedup", s"""WITH b AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
         |prs AS (
         |  SELECT a.vec_id AS doc_a, b2.vec_id AS doc_b
         |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         |  WHERE ${sqlCos("a.embedding", "b2.embedding")} >= 0.4),
         |ids AS (SELECT vec_id AS doc_id FROM embeddings),
         |${clusterLabelCtesFrom("ids")}
         |SELECT doc_id AS id, label AS cluster_id, (label = doc_id) AS keep
         |FROM labels
         |ORDER BY id""".stripMargin)((s, d) =>
      SimilaritySearch.semanticDedup(Tables.embeddings(s, d), "vec_id", "embedding",
          threshold = 0.4, bits = 4)
        .orderBy(col("id"))),
    // the production form of the same operator: the quantizer width is
    // SELF-SIZED in-plan from a 1-row broadcast count (bits =
    // bitLength(n div 256), clamped — integer-exact, so the oracle
    // computes the identical width), because a fixed bits=4 saturates
    // the hot-bucket guard at the 1000× decade (every bucket > cap →
    // zero pairs). At verify scale the formula clamps to the same 4
    // bits, so this checks the sizing arithmetic cross-engine; the
    // width divergence is exercised in ScalaTest and at scale1000
    // mirrors semanticDedupVol: bits = bitLength(count div 256) clamped
    // to [4, 16] (integer `//` + bin-string length — the engine's exact
    // arithmetic), bucket = top-bits prefix of the 16-bit sign bucket,
    // hot-bucket guard included (count window over the bucket key),
    // then the shared label closure
    Query("sim_semdedup_vol", s"""WITH bt AS (
         |  SELECT least(16, greatest(4, length(bin(greatest(count(*) // 256, 1))))) AS bits
         |  FROM embeddings),
         |bkt AS (
         |  SELECT vec_id, embedding,
         |    ${bucketSql("embedding", 16)} >> (16 - bits) AS bucket
         |  FROM embeddings, bt),
         |g AS (
         |  SELECT vec_id, embedding, bucket FROM (
         |    SELECT vec_id, embedding, bucket,
         |      count(*) OVER (PARTITION BY bucket) AS bsz FROM bkt)
         |  WHERE bsz <= ${Dedup.DefaultMaxBucketSize}),
         |prs AS (
         |  SELECT a.vec_id AS doc_a, b2.vec_id AS doc_b
         |  FROM g a JOIN g b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         |  WHERE ${sqlCos("a.embedding", "b2.embedding")} >= 0.4),
         |ids AS (SELECT vec_id AS doc_id FROM embeddings),
         |${clusterLabelCtesFrom("ids")}
         |SELECT doc_id AS id, label AS cluster_id, (label = doc_id) AS keep
         |FROM labels
         |ORDER BY id""".stripMargin)((s, d) =>
      SimilaritySearch.semanticDedupVol(Tables.embeddings(s, d), "vec_id", "embedding",
          threshold = 0.4, targetBucket = 256)
        .orderBy(col("id"))),
    // Sorscher-et-al. prototypicality pruning: keep the hardest half of
    // every trained cluster (cosine-to-own-centroid ascending). Reuses
    // the memoized trained-IVF centroid model — the quantizer is ONE
    // per-corpus artifact shared by search and curation
    // prototypicality prune: the shared trained-k-means chain scores
    // every point against its own centroid; keep-hardest-half per cell
    Query("sim_proto_prune", s"""WITH $ivfTrainCtes,
         |scored AS (
         |  SELECT ap.cid, ap.pid AS point_id, ${sqlCos("ap.v", "c.c")} AS score
         |  FROM ap JOIN c2 c ON ap.cid = c.cid),
         |ranked AS (
         |  SELECT cid, point_id, score,
         |    CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS cluster_n,
         |    ${topKSql("cid", "score, point_id")}
         |  FROM scored)
         |SELECT cid, point_id, cluster_n, rank, round(score, 6) AS score
         |FROM ranked
         |WHERE rank <= greatest(1, CAST(floor(cluster_n * 0.5) AS BIGINT))
         |ORDER BY cid, rank""".stripMargin)((s, d) =>
      SimilaritySearch.prototypicalityPrune(
          Tables.embeddings(s, d).filter(col("vec_id") >= 10)
            .withColumnRenamed("vec_id", "point_id"),
          "point_id", "embedding", ivfModel(s, d), keepFrac = 0.5)
        .orderBy(col("cid"), col("rank"))),
    // cluster data-map cards: k-row per-cell report (population, corpus
    // share, cohesion, representative) over the same trained quantizer
    // cluster data-map cards: same trained chain + cosine-to-centroid
    // scores as sim_proto_prune, reduced to one row per cell
    Query("sim_cluster_cards", s"""WITH $ivfTrainCtes,
         |scored AS (
         |  SELECT ap.cid, ap.pid AS point_id, ${sqlCos("ap.v", "c.c")} AS score
         |  FROM ap JOIN c2 c ON ap.cid = c.cid),
         |agg AS (
         |  SELECT cid, CAST(count(*) AS BIGINT) AS cluster_n,
         |    avg(score) AS mean_s, min(score) AS min_s
         |  FROM scored GROUP BY cid),
         |rep AS (
         |  SELECT cid, point_id, score FROM (
         |    SELECT cid, point_id, score,
         |      ${topKSql("cid", "score DESC, point_id", "rn")}
         |    FROM scored) WHERE rn = 1),
         |tot AS (SELECT count(*)::DOUBLE AS n FROM scored)
         |SELECT a.cid, a.cluster_n,
         |  round(a.cluster_n / t.n, 6) AS corpus_frac,
         |  r.point_id AS representative,
         |  round(r.score, 6) AS rep_score,
         |  round(a.mean_s, 6) AS mean_score,
         |  round(a.min_s, 6) AS min_score
         |FROM agg a JOIN rep r USING (cid) CROSS JOIN tot t
         |ORDER BY a.cid""".stripMargin)((s, d) =>
      SimilaritySearch.clusterCards(
          Tables.embeddings(s, d).filter(col("vec_id") >= 10)
            .withColumnRenamed("vec_id", "point_id"),
          "point_id", "embedding", ivfModel(s, d))
        .orderBy(col("cid"))),
    // cluster-balanced sample: cap every cell at 20, deterministic
    // hash-ordered draw within the cell (flattens cluster dominance)
    // cluster-balanced sample: the assignment chain only — within-cell
    // order is the portable 32-bit hash, not the cosine score
    Query("sim_cluster_sample", s"""WITH $ivfTrainCtes,
         |r AS (
         |  SELECT cid, pid AS point_id,
         |    CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS cluster_n,
         |    ${topKSql("cid", s"${h32Sql("pid::VARCHAR")}, pid")}
         |  FROM ap)
         |SELECT cid, point_id, cluster_n, rank FROM r
         |WHERE rank <= 20 ORDER BY cid, rank""".stripMargin)((s, d) =>
      SimilaritySearch.clusterBalancedSample(
          Tables.embeddings(s, d).filter(col("vec_id") >= 10)
            .withColumnRenamed("vec_id", "point_id"),
          "point_id", "embedding", ivfModel(s, d), perCell = 20)
        .orderBy(col("cid"), col("rank"))),
    // per-cell outliers: flag members whose cosine-to-centroid z-score
    // within their own cell is <= -1.5 (quantized stats, exact set)
    // per-cell outliers: score/mean/std each quantized to 6 dp BEFORE
    // the z division (DSIR model discipline), so the flagged SET is
    // bit-identical across engines, not just the displayed numbers
    Query("sim_cluster_outliers", s"""WITH $ivfTrainCtes,
         |scored AS (
         |  SELECT ap.cid, ap.pid AS point_id,
         |    round(${sqlCos("ap.v", "c.c")}, 6) AS score
         |  FROM ap JOIN c2 c ON ap.cid = c.cid),
         |st AS (
         |  SELECT cid, point_id, score,
         |    CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS cluster_n,
         |    round(avg(score) OVER (PARTITION BY cid), 6) AS cell_mean,
         |    round(stddev_samp(score) OVER (PARTITION BY cid), 6) AS cell_std
         |  FROM scored)
         |SELECT cid, point_id, cluster_n, score, cell_mean, cell_std,
         |  round((score - cell_mean) / cell_std, 4) AS z
         |FROM st
         |WHERE cluster_n >= 4 AND cell_std > 0
         |  AND (score - cell_mean) / cell_std <= -1.5
         |ORDER BY cid, point_id""".stripMargin)((s, d) =>
      SimilaritySearch.clusterOutliers(
          Tables.embeddings(s, d).filter(col("vec_id") >= 10)
            .withColumnRenamed("vec_id", "point_id"),
          "point_id", "embedding", ivfModel(s, d), zThresh = 1.5)
        .orderBy(col("cid"), col("point_id"))),
    // product quantization: per-subspace codebooks + broadcast-LUT ADC
    // cosine — the compression path when raw floats stop fitting
    Query("sim_pq", pqSelect("adc"))((s, d) => {
      val emb = Tables.embeddings(s, d)
      val pts = emb.filter(col("vec_id") >= 10)
      val cb = pqModel(s, d)
      val codes = Pq.encode(pts, "vec_id", "embedding", cb, m = 8, dsub = 8)
      Pq.adcTopK(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          cb, codes, m = 8, dsub = 8, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),
    // the production PQ search: ADC shortlist (50) + exact re-rank —
    // raw vectors touched only for shortlisted candidates
    Query("sim_pq_rerank", pqSelect("rerank"))((s, d) => {
      val emb = Tables.embeddings(s, d)
      val pts = emb.filter(col("vec_id") >= 10)
      val cb = pqModel(s, d)
      val codes = Pq.encode(pts, "vec_id", "embedding", cb, m = 8, dsub = 8)
      Pq.adcRerank(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          pts.select(col("vec_id").as("point_id"), col("embedding")), "point_id",
          cb, codes, m = 8, dsub = 8, shortlist = 50, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),
    // IVF-PQ: coarse sign-bucket prune -> ADC over same-cell codes ->
    // exact re-rank; every stage reads strictly less than the last
    Query("sim_ivfpq", pqSelect("ivfpq"))((s, d) => {
      val emb = Tables.embeddings(s, d)
      val pts = emb.filter(col("vec_id") >= 10)
      val cb = pqModel(s, d)
      val codes = Pq.encodeBucketed(pts, "vec_id", "embedding", cb, m = 8, dsub = 8,
        SimilaritySearch.signBucket("embedding", 4))
      Pq.ivfpqRerank(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          SimilaritySearch.signBucket("embedding", 4),
          pts.select(col("vec_id").as("point_id"), col("embedding")), "point_id",
          cb, codes, m = 8, dsub = 8, shortlist = 20, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),
    // Matryoshka adaptive retrieval: 16-d prefix shortlist (4x
    // over-retrieve), full 64-d re-rank only on the shortlist
    Query("sim_prefix_rerank", prefixRerankSql)((s, d) => {
      val emb = Tables.embeddings(s, d)
      SimilaritySearch.prefixRerankTopK(
          emb.filter(col("vec_id") < 10),
          emb.filter(col("vec_id") >= 10)
            .select(col("vec_id").as("point_id"), col("embedding")),
          "vec_id", "point_id", "embedding", prefixDim = 16, shortlist = 20, k = 5)
        .select(col("query_id"), col("rank"), col("point_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // binary quantization: 1-bit sign signatures (2 longs per 64-d
    // vector), Hamming shortlist, full-width cosine re-rank
    Query("sim_bq_rerank", bqRerankSql)((s, d) => {
      val emb = Tables.embeddings(s, d)
      SimilaritySearch.bqRerankTopK(
          emb.filter(col("vec_id") < 10),
          emb.filter(col("vec_id") >= 10)
            .select(col("vec_id").as("point_id"), col("embedding")),
          "vec_id", "point_id", "embedding", dim = 64, shortlist = 20, k = 5)
        .select(col("query_id"), col("rank"), col("point_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // composed IVF+BQ over ONE stored index (the production recipe):
    // bucket equi-join prunes to probed cells (point side never moves
    // — bucketBy), Hamming ranks the survivors off the stored sig,
    // exact cosine reranks the shortlist fetched by id. hint("merge")
    // models the batch case where neither side broadcasts.
    // composed IVF+BQ: probe buckets (shared mpProbeCtes rule) ∩
    // Hamming shortlist (shared word packing) → exact rerank
    Query("sim_ivf_bq", ivfBqSql)((s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = ivfBqIndex(s, d)
      SimilaritySearch.ivfBqRerankTopK(
          emb.filter(col("vec_id") < 10).hint("merge"),
          s.table(idx),
          emb.filter(col("vec_id") >= 10)
            .select(col("vec_id").as("point_id"), col("embedding")),
          "vec_id", "point_id", "embedding", "b", "sig",
          bits = 4, dim = 64, nprobe = 2, shortlist = 20, k = 5)
        .select(col("query_id"), col("rank"), col("point_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // BQ search against the STORED signature index: same semantics as
    // sim_bq_rerank (identical oracle), but phase 1 scans the
    // ingest-time sig column — no per-batch pack, no point-side
    // exchange (BucketingSpec pin)
    Query("sim_bq_stored", bqRerankSql)((s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = bqSigIndex(s, d)
      SimilaritySearch.bqRerankTopKStored(
          emb.filter(col("vec_id") < 10),
          s.table(idx),
          emb.filter(col("vec_id") >= 10)
            .select(col("vec_id").as("point_id"), col("embedding")),
          "vec_id", "point_id", "embedding", "sig", dim = 64, shortlist = 20, k = 5)
        .select(col("query_id"), col("rank"), col("point_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // Matryoshka search against the STORED prefix index: same
    // semantics as sim_prefix_rerank (identical oracle), phase 1 scans
    // the ingest-time 16-d prefix column
    Query("sim_prefix_stored", prefixRerankSql)((s, d) => {
      val emb = Tables.embeddings(s, d)
      val idx = prefixSigIndex(s, d)
      SimilaritySearch.prefixRerankTopKStored(
          emb.filter(col("vec_id") < 10),
          s.table(idx),
          emb.filter(col("vec_id") >= 10)
            .select(col("vec_id").as("point_id"), col("embedding")),
          "vec_id", "point_id", "embedding", "pre",
          prefixDim = 16, shortlist = 20, k = 5)
        .select(col("query_id"), col("rank"), col("point_id"),
          round(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }))
}
