package graft

import org.apache.spark.sql.functions._
import graft.ops.{Curation, Dedup, Knn, Retrieval, Tables}

/** BM25 / RRF fusion / filtered kNN / leak-free split edge semantics.
  * Scores are checked against the closed-form BM25 formula computed
  * independently in the test (not by re-running the operator).
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  // corpus: x appears in 2/3 docs, y in 2/3, z in 1/3; doc lengths 3,2,3
  private def corpus =
    Seq((0L, "x x y"), (1L, "x z"), (2L, "y y y")).toDF("doc_id", "text")

  private def bm25Expected(tf: Long, df: Long, dl: Double,
      n: Double = 3.0, avgdl: Double = 8.0 / 3.0,
      k1: Double = 1.2, b: Double = 0.75): Double = {
    val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
  }

  test("bm25TopK matches the closed-form score on a hand corpus") {
    val q = Seq((100L, "x y")).toDF("qid", "qtext")
    val out = Retrieval.bm25TopK(corpus, "doc_id", "text", q, "qid", "qtext",
        k = 3, maxDfFrac = 1.0)
      .orderBy("rank").collect()
    // doc 0 matches x (tf 2) and y (tf 1), dl 3 — the only 2-term match
    val want0 = BigDecimal(bm25Expected(2, 2, 3.0) + bm25Expected(1, 2, 3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.map(_.getLong(2)).toSeq == Seq(0L, 2L, 1L),
      s"rank order wrong: ${out.mkString(", ")}")
    assert(out.head.getDouble(3) == want0,
      s"doc 0 score ${out.head.getDouble(3)} != closed-form $want0")
  }

  test("bm25TopK df-cap drops stopword-class terms from matching") {
    val q = Seq((100L, "x z")).toDF("qid", "qtext")
    // cap at 0.5: x (df 2/3) is dropped, z (df 1/3) survives — doc 2
    // (y y y) now matches nothing and must be absent
    val out = Retrieval.bm25TopK(corpus, "doc_id", "text", q, "qid", "qtext",
        k = 3, maxDfFrac = 0.5)
      .collect()
    assert(out.map(_.getLong(2)).toSet == Set(1L),
      s"only the z-match (doc 1) should survive the cap: ${out.mkString(", ")}")
  }

  test("rrfFuse sums reciprocal ranks and fills the missing side with 0") {
    val a = Seq((1L, 10L, 1L), (1L, 20L, 2L)).toDF("q", "d", "r")
    val b = Seq((1L, 20L, 1L), (1L, 30L, 2L)).toDF("q", "d", "r")
    val out = Retrieval.rrfFuse(a, b, "q", "d", "r", k = 3)
      .orderBy("rank").collect()
    def rrf(ranks: Long*) = BigDecimal(ranks.map(r => 1.0 / (60 + r)).sum)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 20: both sides (ranks 2, 1); docs 10/30: one side each (rank
    // 1 vs rank 2) — fusion must place the two-sided doc first
    assert(out.map(r => (r.getLong(2), r.getDouble(3))).toSeq ==
      Seq((20L, rrf(2, 1)), (10L, rrf(1)), (30L, rrf(2))))
  }

  test("filteredKnnJoin returns exact top-k over the eligible subset only") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 3)
    val points = emb.select(col("vec_id").as("point_id"), col("embedding"), col("label"))
    val got = Knn.filteredKnnJoin(queries, points, col("label") === 2,
      "vec_id", "embedding", "point_id", "embedding", k = 3)
    // knnJoin carries every point column through, label included
    val labels = got.select("label").distinct().as[Int].collect().toSet
    assert(labels == Set(2), s"a hit escaped the payload filter: $labels")
    // pre-filtering ≡ kNN over the filtered point set (exactness)
    val want = Knn.knnJoin(queries, points.filter(col("label") === 2),
      "vec_id", "embedding", "point_id", "embedding", k = 3)
      .select("query_id", "rank", "point_id").collect().toSet
    assert(got.select("query_id", "rank", "point_id").collect().toSet == want)
  }

  test("mmrRerank demotes a duplicate hit below a less-relevant novel one") {
    // q = (1,0); p1 (rel .9) tops the pool, p2 IS p1 (sim 1), p3 is
    // less relevant (rel .6) but nearly novel. λ=0.7:
    //   obj(p2) = .7·.9 − .3·1 = 0.33 < obj(p3) = .7·.6 − .3·sim(p3,p1)
    // so MMR must pick p3 second and push the duplicate to third —
    // pure relevance would keep the duplicate at rank 2.
    val q = Seq((0L, Array(1.0f, 0.0f))).toDF("qid", "qv")
    val pts = Seq(
      (1L, Array(0.9f, 0.43589f)),
      (2L, Array(0.9f, 0.43589f)),
      (3L, Array(0.6f, -0.8f))).toDF("pid", "pv")
    val out = Retrieval.mmrRerank(q, pts, "qid", "qv", "pid", "pv",
        poolK = 3, selectK = 3, lambda = 0.7)
      .orderBy("sel_rank").collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(1L, 3L, 2L),
      s"diversity selection order wrong: ${out.mkString(", ")}")
  }

  test("mmrRerank first pick is the pure-relevance winner") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 5)
    val points = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("point_id"), col("embedding"))
    val mmr1 = Retrieval.mmrRerank(queries, points, "vec_id", "embedding",
        "point_id", "embedding", poolK = 8, selectK = 3, lambda = 0.7)
      .filter(col("sel_rank") === 1)
      .select(col("query_id"), col("point_id"))
    val knn1 = Knn.knnJoin(queries, points, "vec_id", "embedding",
        "point_id", "embedding", 1)
      .select(col("query_id"), col("point_id"))
    assert(mmr1.collect().toSet == knn1.collect().toSet)
    // and every query selects 3 DISTINCT points
    val dup = Retrieval.mmrRerank(queries, points, "vec_id", "embedding",
        "point_id", "embedding", poolK = 8, selectK = 3, lambda = 0.7)
      .groupBy("query_id").agg(countDistinct(col("point_id")).as("n"))
      .filter(col("n") =!= 3)
    assert(dup.count() == 0, "a query re-selected a point")
  }

  test("bm25TopK is invariant to input partitioning") {
    val docs = Tables.documents(spark, sf0001)
    val q = docs.filter(col("doc_id") < 4)
    def run(parts: Int) =
      Retrieval.bm25TopK(docs.repartition(parts), "doc_id", "text",
          q, "doc_id", "text", k = 5, maxDfFrac = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    assert(run(1) == run(7),
      "BM25 scores/ranks must not depend on how the corpus is partitioned")
  }

  test("mmrRerank selection is invariant to input partitioning") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 3)
    def run(parts: Int) =
      Retrieval.mmrRerank(queries,
          emb.filter(col("vec_id") >= 10).repartition(parts)
            .select(col("vec_id").as("point_id"), col("embedding")),
          "vec_id", "embedding", "point_id", "embedding",
          poolK = 8, selectK = 3, lambda = 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(1) == run(5),
      "greedy MMR picks must not depend on point-side partitioning")
  }

  test("leakFreeSplit keeps every near-dup cluster wholly in one split") {
    val docs = Tables.documents(spark, sf0001)
    val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, rowsPerBand = 8)
      .filter(col("jaccard") >= 0.5)
    val split = Curation.leakFreeSplit(docs, "doc_id", pairs, trainPct = 80)
    val mixed = split.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1)
    assert(mixed.count() == 0, "a cluster straddles train and test — leakage")
    assert(split.filter(col("split") === "train").count() > 0)
    assert(split.filter(col("split") === "test").count() > 0)
    // degenerate percentages are total
    assert(Curation.leakFreeSplit(docs, "doc_id", pairs, 0)
      .filter(col("split") === "train").count() == 0)
    assert(Curation.leakFreeSplit(docs, "doc_id", pairs, 100)
      .filter(col("split") === "test").count() == 0)
  }
}
