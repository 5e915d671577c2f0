package graft

import org.apache.spark.sql.functions._
import graft.ops.{Knn, Pq, SimilaritySearch, Tables}

/** Product-quantization semantics: codebook shape, code validity,
  * ADC exactness properties, and a recall floor vs exact kNN.
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private val (dim, m, kCodes, dsub) = (64, 8, 16, 8)

  private lazy val emb = Tables.embeddings(spark, sf0001)
  private lazy val pts = emb.filter(col("vec_id") >= 10)
  private lazy val queries = emb.filter(col("vec_id") < 5)
  private lazy val cb = Pq.trainCodebooks(pts, "vec_id", "embedding", dim, m, kCodes, 2)
  private lazy val codes = Pq.encode(pts, "vec_id", "embedding", cb, m, dsub)

  test("codebooks: one k-entry codebook per subspace, dsub-wide centroids") {
    val rows = cb.collect()
    assert(rows.length == m * kCodes)
    assert(rows.map(r => (r.getInt(0), r.getLong(1))).distinct.length == m * kCodes,
      "(sub, cid) must be unique")
    assert(rows.forall(_.getSeq[Double](2).length == dsub),
      s"every centroid must be $dsub-dimensional")
  }

  test("encode: exactly m codes per point, all from the right codebook") {
    val n = pts.count()
    assert(codes.count() == n * m)
    val bad = codes.join(cb,
      codes("sub") === cb("sub") && codes("code") === cb("cid"), "left_anti")
    assert(bad.count() == 0, "a code points at no codebook entry")
  }

  test("ADC of a vector equal to its reconstruction is cosine-exact") {
    // a query that IS a concatenation of centroids scores 1.0 against a
    // point whose codes select those same centroids — ADC introduces no
    // error when the approximation is exact
    val cents = cb.orderBy("sub", "cid").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.minBy(_.getLong(1)).getSeq[Double](2))
    val recon = cents.flatten.toArray
    val q = Seq((999L, recon)).toDF("vec_id", "embedding")
    val syntheticCodes = (0 until m).map { s =>
      (888L, s, cb.filter(col("sub") === s).orderBy("cid").first().getLong(1))
    }.toDF("point_id", "sub", "code")
    val out = Pq.adcTopK(q, "vec_id", "embedding", cb, syntheticCodes, m, dsub, 1).collect()
    assert(out.length == 1 && out.head.getDouble(3) == 1.0,
      s"self-reconstruction must score exactly 1.0: ${out.mkString}")
  }

  test("shortlist re-rank recovers the recall pure ADC loses") {
    val exact = Knn.knnJoin(queries,
      pts.select(col("vec_id").as("point_id"), col("embedding")),
      "vec_id", "embedding", "point_id", "embedding", 5)
    def recallOf(approx: org.apache.spark.sql.DataFrame): Double =
      SimilaritySearch.recallAtK(exact, approx, "query_id", "point_id", 5)
        .agg(avg(col("recall_at_k"))).as[Double].head()
    val adc = recallOf(Pq.adcTopK(queries, "vec_id", "embedding", cb, codes, m, dsub, 5))
    val rerank = recallOf(Pq.adcRerank(queries, "vec_id", "embedding",
      pts.select(col("vec_id").as("point_id"), col("embedding")), "point_id",
      cb, codes, m, dsub, shortlist = 50, k = 5))
    // measured on the harness embeddings (noise-dominated space):
    // ADC 0.16, shortlist-50 re-rank 0.68. The floors catch a
    // codebook/assignment/shortlist regression, not a quality target.
    assert(adc >= 0.08, s"pure ADC recall@5 collapsed: $adc")
    assert(rerank >= 0.5, s"re-ranked recall@5 collapsed: $rerank")
    assert(rerank > adc, s"re-rank must improve on pure ADC ($rerank vs $adc)")
  }

  test("trainCodebooks at iters=10: flat lineage, bounded plan depth and time") {
    // Each Lloyd round reads the previous round's model; kept as a plan,
    // the model would be referenced twice per round (assignment +
    // stale-cell rule) and the logical plan would double per iteration —
    // at iters=10 the analyzer alone would walk ~2^10 copies of the
    // corpus subtree. With the model collected on the driver every round
    // is one flat plan and the training finishes in seconds; the
    // generous wall bound is a regression tripwire, not a perf target.
    val small = pts.filter(col("vec_id") < 60)
    val t0 = System.nanoTime()
    val cb10 = Pq.trainCodebooks(small, "vec_id", "embedding", dim, m, kCodes, iters = 10)
    val rows = cb10.collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(rows.length == m * kCodes)
    assert(rows.forall(_.getSeq[Double](2).length == dsub))
    // generous bound: healthy training is ~6-10 s and the broken 2^10
    // plan blow-up is minutes-to-hours, so 300 s separates the two even
    // under the documented multi-x host-interference windows
    assert(secs < 300.0, s"iters=10 training took ${secs}s — lineage growth is back")
  }

  test("encode is invariant to input partitioning") {
    def codesAt(parts: Int) =
      Pq.encode(pts.repartition(parts), "vec_id", "embedding", cb, m, dsub)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(codesAt(1) == codesAt(7),
      "code assignment must not depend on how points are partitioned")
  }

  test("IVF-PQ hits stay inside the query's coarse cell") {
    val bucketOf = SimilaritySearch.signBucket("embedding", 4)
    val codesB = Pq.encodeBucketed(pts, "vec_id", "embedding", cb, m, dsub, bucketOf)
    val out = Pq.ivfpqRerank(queries, "vec_id", "embedding", bucketOf,
      pts.select(col("vec_id").as("point_id"), col("embedding")), "point_id",
      cb, codesB, m, dsub, shortlist = 20, k = 5)
    val qb = emb.select(col("vec_id").as("query_id"), bucketOf.as("qb"))
    val pb = emb.select(col("vec_id").as("point_id"), bucketOf.as("pb"))
    val crossed = out.join(qb, "query_id").join(pb, "point_id")
      .filter(col("qb") =!= col("pb"))
    assert(crossed.count() == 0, "a hit escaped the query's coarse cell")
    assert(out.count() > 0)
  }
}
