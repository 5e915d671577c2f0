package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** Scale-guardrail behavior: the LSH hot-bucket cap, run-to-fixed-point
  * cluster labels, the jaccardPairs input guard, tfIdf laziness, the
  * kmeans numeric-id precondition, and the approx-distinct error bound.
  */
class GuardrailSpec extends SparkSpec {
  import spark.implicits._

  test("lsh hot-bucket guard: degenerate corpus stays bounded, guard is observable") {
    // 1000 copies of one viral boilerplate string + 4 normal docs (two
    // of them near-dups of each other). Unguarded, the boilerplate
    // bucket alone would emit 1000*999/2 = 499500 candidate pairs.
    val viral = (1 to 20).map(i => s"viral$i").mkString(" ")
    val base = (1 to 20).map(i => s"norm$i").mkString(" ")
    val docs = (
      (1L to 1000L).map(i => (i, viral)) ++ Seq(
        (2001L, base), (2002L, base + " tail"),
        (2003L, "p q r s t u v w x y z zz"), (2004L, "f g h i j k l m n o pp qq"))
    ).toDF("doc_id", "text")
    val sh = Dedup.shingleRows(docs, "doc_id", "text", 3).withColumn("h", Dedup.h32(col("sh")))
    val bands = Dedup.lshBands(Dedup.minHashSignatures(sh, 16), 16, 8)
    // diagnostic surfaces the boilerplate buckets that would be skipped
    val hot = Dedup.hotBuckets(bands, maxBucketSize = 50).collect()
    assert(hot.nonEmpty, "hotBuckets must surface the degenerate bucket")
    assert(hot.forall(_.getLong(2) == 1000L), "each hot bucket holds exactly the 1000 copies")
    // guarded candidate join: boilerplate bucket skipped, normal docs unaffected
    val cands = Dedup.lshCandidates(bands, maxBucketSize = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.size < 50, s"candidate count must stay bounded, got ${cands.size}")
    assert(!cands.exists { case (a, b) => a <= 1000 && b <= 1000 },
      "no candidate pair from inside the capped bucket")
    // end-to-end: the guarded pipeline still finds the genuine near-dup pair
    val pairs = Dedup.minHashLsh(docs, "doc_id", "text", 3, 16, 8, maxBucketSize = 50)
      .filter(col("jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((2001L, 2002L)), "normal near-dup pair survives the guard")
  }

  test("lsh guard default: harness-scale buckets pass through untouched") {
    // same pipeline ± guard on a normal corpus — identical pairs, so the
    // oracle-checked dedup_minhash query is unaffected by the default cap
    val docs = Tables.documents(spark, sf0001)
    val guarded = Dedup.minHashLsh(docs, "doc_id", "text", 3, 16, 8)
      .filter(col("jaccard") >= 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val unguarded = Dedup.minHashLsh(docs, "doc_id", "text", 3, 16, 8,
        maxBucketSize = Int.MaxValue)
      .filter(col("jaccard") >= 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(guarded == unguarded)
  }

  test("salted join: row-identical to the plain join at any salt count, hot key included") {
    // one hot key carrying 500 of 506 big-side rows — the straggler
    // shape the salt exists to break up
    val big = ((1 to 500).map(i => (7L, i.toLong)) ++
      Seq((1L, 1001L), (2L, 1002L), (2L, 1003L), (3L, 1004L), (9L, 1005L), (9L, 1006L)))
      .toDF("k", "row_id")
    val small = Seq((7L, "hot"), (2L, "warm"), (3L, "cool"), (5L, "unmatched"))
      .toDF("sk", "tag")
    val plain = big.join(small, big("k") === small("sk"))
      .select(col("k"), col("row_id"), col("tag"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    for (buckets <- Seq(1, 3, 8)) {
      val salted = graft.ops.Skew.saltedJoin(big, "k", small, "sk", "row_id", buckets)
        .select(col("k"), col("row_id"), col("tag"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(salted == plain, s"saltBuckets=$buckets diverged from the plain join")
    }
    // left outer: keys 1 and 9 have no small-side match and must
    // null-fill exactly once per big row, at any salt count
    val plainLeft = big.join(small, big("k") === small("sk"), "left")
      .select(col("k"), col("row_id"), col("tag"))
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSet
    assert(plainLeft.exists(_._3.isEmpty), "fixture must exercise unmatched keys")
    for (buckets <- Seq(1, 3, 8)) {
      val salted = graft.ops.Skew
        .saltedJoin(big, "k", small, "sk", "row_id", buckets, joinType = "left")
        .select(col("k"), col("row_id"), col("tag"))
        .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSet
      assert(salted == plainLeft, s"saltBuckets=$buckets diverged from the plain left join")
    }
    // right/full outer would duplicate unmatched small rows per replica
    val e = intercept[IllegalArgumentException](
      graft.ops.Skew.saltedJoin(big, "k", small, "sk", "row_id", 4, joinType = "full"))
    assert(e.getMessage.contains("once per salt replica"))
  }

  test("hot-bucket caps are not binding at the driver's checked scale (sf0.01)") {
    // The oracles of dedup_incremental / pipeline_curate_inc /
    // sim_neardup / sim_semdedup do NOT model the hot-bucket cap — if a
    // scale factor ever produced a bucket over the cap, the gate would
    // silently diverge with no pointer to the cause. This pins the
    // invariant the oracles rely on, at the scale the driver checks.
    // Full-table maxima bound every subset-based query: dropping rows
    // (the corpus/batch splits) can only shrink a bucket.
    val sfChecked = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, sfChecked)
    val sh = Dedup.shingleRows(docs, "doc_id", "text", 3)
      .withColumn("h", Dedup.h32(col("sh")))
    val bands = Dedup.lshBands(Dedup.minHashSignatures(sh, 16), 16, 8)
    val maxBand = bands.groupBy(col("band"), col("key")).count()
      .agg(max(col("count"))).first().getLong(0)
    assert(maxBand <= Dedup.DefaultMaxBucketSize,
      s"LSH band bucket of $maxBand rows exceeds the cap — oracle and engine diverge")
    val maxSign = Tables.embeddings(spark, sfChecked)
      .groupBy(SimilaritySearch.signBucket("embedding", 4)).count()
      .agg(max(col("count"))).first().getLong(0)
    assert(maxSign <= Dedup.DefaultMaxBucketSize,
      s"sign bucket of $maxSign rows exceeds the cap — oracle and engine diverge")
  }

  test("cosine near-dup hot-bucket guard: collapsed-embedding cluster stays bounded") {
    // 200 copies of one vector land in a single sign bucket — unguarded,
    // that bucket alone scores 200*199/2 pairs (the collapsed-encoder
    // failure mode); a genuine near-dup pair sits in a different bucket
    val collapsed = (1L to 200L).map(i => i -> Array(1.0f, 1.0f))
    val pair = Seq(900L -> Array(-1.0f, -0.9f), 901L -> Array(-0.9f, -1.0f))
    val vecs = (collapsed ++ pair).toDF("vec_id", "embedding")
    val got = SimilaritySearch.cosineNearDup(vecs, "vec_id", "embedding",
        threshold = 0.8, bits = 2, maxBucketSize = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((900L, 901L)),
      s"capped bucket must be skipped, genuine pair must survive: $got")
    // default cap is a no-op at harness scale (sim_neardup/sim_semdedup
    // oracles unaffected)
    val dflt = SimilaritySearch.cosineNearDup(vecs, "vec_id", "embedding",
      threshold = 0.8, bits = 2).count()
    assert(dflt == 200L * 199 / 2 + 1,
      "default cap must not drop harness-scale buckets")
  }

  test("clusterLabels: 5-doc chain collapses to ONE cluster") {
    // 1≈2≈3≈4≈5 — diameter 4, past any 3-round unroll; the loop runs
    // until no label changes, so the chain end reaches label 1
    val docs = (1L to 5L).map(i => Tuple1(i)).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("doc_a", "doc_b")
    val got = Dedup.clusterLabels(docs, "doc_id", pairs, maxIterations = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 5L).map(_ -> 1L).toMap, s"all five docs in cluster 1, got $got")
  }

  test("clusterLabels: capped run returns partial labels (warn path)") {
    // one round moves every label at most one hop toward the minimum
    val docs = (1L to 5L).map(i => Tuple1(i)).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("doc_a", "doc_b")
    val got = Dedup.clusterLabels(docs, "doc_id", pairs, maxIterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L), s"got $got")
  }

  test("clusterLabels: a diameter-6 MinHash chain is ONE cluster") {
    // 12 docs sliding a 16-token window by 2: jaccard is 14/18 at offset
    // 1 and 12/20 at offset 2 (both ≥ 0.5 → edges), 10/22 at offset 3
    // (< 0.5 → no edge) — a width-2 chain of diameter 6. The labels must
    // converge it to one cluster; three rounds provably cannot (asserted
    // below so the fixture keeps its bite).
    val docs = (1 to 12).map { i =>
      (i.toLong, (0 until 16).map(j => s"w${2 * (i - 1) + j}").mkString(" "))
    }.toDF("doc_id", "text")
    val pairs = Dedup.minHashLsh(docs, "doc_id", "text", 1, 16, 2)
      .filter(col("jaccard") >= 0.5)
    val got = Dedup.clusterLabels(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 12L).map(_ -> 1L).toMap, s"one converged cluster expected, got $got")
    val threeRounds = Dedup.clusterLabels(docs, "doc_id", pairs, maxIterations = 3)
      .collect().map(r => r.getLong(1)).toSet
    assert(threeRounds.size > 1,
      "fixture diameter must exceed three rounds for this test to bite")
  }

  test("clusterLabels: a clique corpus converges in one round") {
    // near-dup graphs are mostly cliques: one round already reaches the
    // component minimum, and the full run agrees
    val docs = (1L to 6L).map(i => Tuple1(i)).toDF("doc_id")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L)
    Seq(1, 20).foreach { cap =>
      val got = Dedup.clusterLabels(docs, "doc_id", pairs, maxIterations = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"maxIterations = $cap: got $got")
    }
  }

  test("clusterLabels: empty docs and pairs still end the loop with no rows") {
    // the round's change count must arrive even when its job scans
    // nothing, or the loop would wait on it forever
    val docs = Seq.empty[Long].toDF("doc_id")
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.clusterLabels(docs, "doc_id", pairs).count() == 0)
    val filtered = spark.range(5).select(col("id").as("doc_id")).filter(col("doc_id") < 0)
    assert(Dedup.clusterLabels(filtered, "doc_id", pairs).count() == 0)
  }

  test("dedup_cluster: a 5-hop MinHash chain is one cluster through the registry") {
    // doc i (1..12) holds the 200 tokens w{10(i-1)+j}: neighbours share
    // 190 of them, and the registry's own trigram MinHash (16 hashes,
    // 2 bands × 8 rows, j ≥ 0.5) links 1-2-6-7-8-10 plus side edges
    // from 3, 4, 5 and 9 — a 5-hop path no 3-round unroll crosses.
    // Docs 11 and 12 find no band collision and stay singletons.
    val dir = java.nio.file.Files.createTempDirectory("graft-chain").toString
    (1 to 12).map { i =>
      (i.toLong, (0 until 200).map(j => s"w${10 * (i - 1) + j}").mkString(" "))
    }.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("dedup_cluster")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (1L to 10L).map(_ -> 1L).toMap ++ Map(11L -> 11L, 12L -> 12L)
    assert(got == want, s"got $got")
  }

  test("jaccardPairs: guard raises at EXECUTION when input exceeds maxDocs") {
    val docs = (1L to 12L).map(i => (i, s"tok$i a b c")).toDF("doc_id", "text")
    // construction stays lazy — no job, no throw
    val df = Dedup.jaccardPairs(docs, "doc_id", "text", n = 1, threshold = 0.0, maxDocs = 5)
    val e = intercept[Exception](df.collect())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("use minHashLsh")),
      s"guard message must point at the scale path, got: ${messages(e)}")
  }

  test("jaccardPairs: under the cap, results are unchanged by the guard") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w")).toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(docs, "doc_id", "text", n = 1, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
  }

  test("tfIdf: construction is lazy — no corpus scan before the action") {
    // a doc source that RAISES if evaluated: with the old eager
    // docs.count() this line itself would throw; lazy construction must not
    val poison = spark.range(3).select(
      col("id").as("doc_id"),
      raise_error(lit("tfIdf scanned the corpus at plan-build")).cast("string").as("text"))
    val df = TextAnalysis.tfIdf(poison, "doc_id", "text", perDoc = 3)
    intercept[Exception](df.collect()) // and the action still evaluates the source
  }

  test("tfIdf: in-plan N matches the hand formula") {
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextAnalysis.tfIdf(docs, "doc_id", "text", perDoc = 2)
      .collect().map(r => ((r.getLong(0), r.getString(2)), r.getDouble(5))).toMap
    // N=2: idf(a)=ln(2/2)=0; idf(b)=idf(c)=ln(2/1)
    assert(got((1L, "b")) == math.BigDecimal(math.log(2.0)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got((1L, "a")) == 0.0)
  }

  test("trainedCentroids: non-numeric id column is rejected loudly") {
    val pts = Seq(("a", Array(1.0f, 0.0f)), ("b", Array(0.0f, 1.0f)))
      .toDF("sid", "embedding")
    val e = intercept[IllegalArgumentException](
      SimilaritySearch.trainedCentroids(pts, "sid", "embedding", dim = 2, kCentroids = 2, iters = 1))
    assert(e.getMessage.contains("must be numeric"))
    // the PQ codebooks train through the same loop; digit strings cast
    // cleanly, so only the up-front check can reject them
    val digits = Seq(("1", Array(1.0f, 0.0f)), ("2", Array(0.0f, 1.0f)))
      .toDF("sid", "embedding")
    for (df <- Seq(pts, digits)) {
      val pq = intercept[IllegalArgumentException](
        Pq.trainCodebooks(df, "sid", "embedding", dim = 2, m = 1, kCodes = 2, iters = 1))
      assert(pq.getMessage.contains("must be numeric"), pq.getMessage)
    }
  }

  test("trainedCentroids: an emptied cell keeps its centroid — k never shrinks") {
    // 3 identical vectors: every assignment ties to the lowest cid, so
    // the second seed's cell empties on iteration 1. The bare group-by
    // would drop it and silently shrink k; the stale-cell rule keeps it.
    val pts = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)), (3L, Array(1.0f, 0.0f)))
      .toDF("vid", "embedding")
    val cents = SimilaritySearch
      .trainedCentroids(pts, "vid", "embedding", dim = 2, kCentroids = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(cents.keySet == Set(1L, 2L), s"both cells must survive, got ${cents.keySet}")
    assert(cents(2L) == Seq(1.0, 0.0), "emptied cell keeps its previous centroid")
    val books = Pq.trainCodebooks(pts, "vid", "embedding", dim = 2, m = 1, kCodes = 2, iters = 2)
      .collect().map(r => r.getLong(1) -> r.getSeq[Double](2)).toMap
    assert(books.keySet == Set(1L, 2L), s"both PQ codes must survive, got ${books.keySet}")
    assert(books(2L) == Seq(1.0, 0.0), "emptied PQ cell keeps its previous centroid")
  }

  test("stored batch ANN: multi-probe lifts recall@3, floor pinned vs exact kNN") {
    // recall guardrail for the serving path: a future bucketing change
    // must not silently trade recall for speed. Ground truth = exact
    // kNN over the full point set; approx = the stored-index search
    // semantics (points carrying their materialized sign bucket).
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") % 4 === 0)
    val points = emb.withColumnRenamed("vec_id", "point_id")
    val exact = Knn.knnJoin(queries, points, "vec_id", "embedding",
      "point_id", "embedding", 3)
    val bucketed = points.withColumn("b", SimilaritySearch.signBucket("embedding", 4))
    def recall(nprobe: Int): Double =
      SimilaritySearch.recallAtK(
          exact,
          SimilaritySearch.ivfTopKStored(queries, bucketed, "vec_id", "point_id",
            "embedding", "b", bits = 4, k = 3, nprobe = nprobe),
          "query_id", "point_id", 3)
        .agg(avg(col("recall_at_k"))).first().getDouble(0)
    val r1 = recall(1)
    val r2 = recall(2)
    info(f"recall@3 single-probe=$r1%.4f nprobe=2=$r2%.4f")
    assert(r2 > r1,
      f"multi-probe must strictly beat single-probe recall ($r2%.4f vs $r1%.4f)")
    // floors a few points under measured (r1=0.4533, r2=0.5360 on the
    // sf0.001 harness embeddings) — loose enough for fixture drift,
    // tight enough that a bucketing regression trips them
    assert(r1 >= 0.40, f"single-probe recall floor broken: $r1%.4f")
    assert(r2 >= 0.48, f"multi-probe recall floor broken: $r2%.4f")
  }

  test("approx_count_distinct: |approx - exact| within 3x the configured rsd") {
    // quantitative gate for the one no-oracle query (HLL internals are
    // engine-specific, but the error bound is a published contract)
    val rows = Relational.approxDistinct(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getLong(1).toDouble
      val approx = r.getLong(2).toDouble
      val relErr = math.abs(approx - exact) / exact
      assert(relErr <= 3 * 0.02,
        s"${r.getString(0)}: relative error $relErr exceeds 3x rsd (exact=$exact approx=$approx)")
    }
  }
}
