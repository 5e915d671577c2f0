package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ops._

/** Generator-based properties (SURVEY §5.3) — scalacheck Gens sampled
  * with a fixed seed, asserted through the Spark operators.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val vecGen: Gen[Array[Float]] =
    Gen.choose(1, 16).flatMap(d =>
      Gen.listOfN(d, Gen.chooseNum(-100.0f, 100.0f)).map(_.toArray))

  test("property: normalize → unit norm (nonzero) and idempotent") {
    val vecs = samples(vecGen, 40) :+ Array(0.0f, 0.0f, 0.0f)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val once = df.select(col("id"), VectorOps.l2Normalize(col("v")).as("n"), col("v"))
    val rows = once
      .select(col("id"), VectorOps.l2Norm(col("n")).as("norm"),
        VectorOps.l2Norm(col("v")).as("orig"))
      .collect()
    rows.foreach { r =>
      val norm = r.getDouble(1); val orig = r.getDouble(2)
      if (orig == 0.0) assert(norm == 0.0) else assert(math.abs(norm - 1.0) < 1e-9)
    }
    val twice = once.select(
      VectorOps.l2Norm(VectorOps.l2Normalize(col("n"))).as("nn"), col("id")).collect()
    twice.foreach { r => assert(r.getDouble(0) == 0.0 || math.abs(r.getDouble(0) - 1.0) < 1e-9) }
  }

  test("property: cosine symmetric, bounded, self-similarity 1") {
    val vecs = samples(vecGen.map(_.padTo(16, 0.0f)), 30)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val pairs = df.as("a").crossJoin(df.as("b"))
      .select(
        VectorOps.cosine(col("a.v"), col("b.v")).as("ab"),
        VectorOps.cosine(col("b.v"), col("a.v")).as("ba"),
        col("a.id").as("ia"), col("b.id").as("ib"))
      .collect()
    pairs.foreach { r =>
      val ab = r.getDouble(0); val ba = r.getDouble(1)
      assert(ab == ba, "symmetry")
      assert(ab >= -1.0 - 1e-9 && ab <= 1.0 + 1e-9, "bounded")
    }
  }

  test("property: codegen dot/cosine bit-identical to the HOF reference forms") {
    // functions/VectorExpressions.scala claims the native Expressions
    // reproduce the declarative aggregate(zip_with(...)) forms
    // bit-for-bit (same sequential left-fold order). Pin it: any drift
    // in operation order would silently break oracle hash parity.
    val vecs = samples(vecGen.map(_.padTo(16, 0.0f)), 30) :+
      Array.fill(16)(0.0f) :+ Array.fill(16)(1e-30f) :+ Array.fill(16)(3.4e38f)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val rows = df.as("a").crossJoin(df.as("b"))
      .select(
        VectorOps.dot(col("a.v"), col("b.v")).as("dot_native"),
        VectorOps.dotHof(col("a.v"), col("b.v")).as("dot_hof"),
        VectorOps.cosine(col("a.v"), col("b.v")).as("cos_native"),
        VectorOps.cosineHof(col("a.v"), col("b.v")).as("cos_hof"),
        col("a.id"), col("b.id"))
      .collect()
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    rows.foreach { r =>
      assert(bits(r.getDouble(0)) == bits(r.getDouble(1)),
        s"dot diverged at (${r.getLong(4)}, ${r.getLong(5)}): ${r.getDouble(0)} vs ${r.getDouble(1)}")
      assert(bits(r.getDouble(2)) == bits(r.getDouble(3)),
        s"cosine diverged at (${r.getLong(4)}, ${r.getLong(5)}): ${r.getDouble(2)} vs ${r.getDouble(3)}")
    }
  }

  test("property: kNN join — per-query rows == min(k, |points|), scores non-increasing") {
    val points = samples(vecGen.map(_.padTo(8, 0.0f)), 25).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("pid", "pv")
    val queries = samples(vecGen.map(_.padTo(8, 0.0f)), 5).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("qid", "qv")
    for (k <- Seq(1, 3, 30)) {
      val hits = Knn.knnJoin(queries, points, "qid", "qv", "pid", "pv", k)
        .select("query_id", "rank", "score").collect()
        .groupBy(_.getLong(0))
      assert(hits.size == 5)
      hits.values.foreach { rs =>
        assert(rs.length == math.min(k, 25))
        val scores = rs.sortBy(_.getLong(1)).map(_.getDouble(2))
        assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, "monotone")
      }
    }
  }

  test("property: context length ≤ budget; budget-consumed == min(budget, total text)") {
    val textGen = Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, Gen.alphaChar).map(_.mkString))
    for (budget <- Seq(1, 10, 55, 1000)) {
      val hits = samples(textGen, 8).zipWithIndex.map { case (t, i) => (1L, i + 1, t) }
      val df = hits.toDF("q", "rank", "text")
      val out = ContextAssembly
        .budgetedContext(df, "q", "rank", "text", col("rank"), col("rank"), budget)
        .first()
      val total = hits.map(_._3.length).sum
      assert(out.getAs[Long]("context_text_chars") == math.min(budget, total))
    }
  }

  test("property: recall and mrr always in [0,1]") {
    val numListGen = Gen.choose(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.choose(1, 30)).map(_.mkString(", ")))
    val rows = samples(Gen.zip(numListGen, numListGen), 60)
    val df = rows.toDF("answers", "predicted")
    Eval.withMetrics(df, "answers", "predicted", 5)
      .select("recall_at_k", "mrr_at_k").collect()
      .foreach { r =>
        assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0)
        assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
      }
  }

  test("property: repetition fractions bounded; extremes hit 1.0 and 0-dup") {
    val tokGen = Gen.choose(1, 30).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e")).map(_.mkString(" ")))
    val docs = samples(tokGen, 50).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = (docs :+ (900L, "z z z z z") :+ (901L, "p q r s t")).toDF("doc_id", "text")
    val rows = TextAnalysis.repetitionStats(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    rows.values.foreach { case (n, u, b, t) =>
      assert(n >= 1)
      assert(u > 0.0 && u <= 1.0, s"top_unigram_frac out of range: $u")
      assert(b >= 0.0 && b <= 1.0, s"top_bigram_frac out of range: $b")
      assert(t >= 0.0 && t < 1.0, s"dup_trigram_frac out of range: $t")
    }
    assert(rows(900L) == ((5L, 1.0, 1.0, 0.666667)), "degenerate all-one-token doc maxes out")
    assert(rows(901L) == ((5L, 0.2, 0.25, 0.0)), "all-distinct doc has no repetition")
  }

  test("property: contamination finds every planted overlap, never invents one") {
    // train docs are disjoint 6-token blocks; each test doc copies a
    // 4-token window from one train doc (→ 2 shared trigrams) plus noise
    val train = (0 until 10).map(i =>
      (i.toLong, (0 until 6).map(j => s"w${i}_$j").mkString(" "))).toDF("doc_id", "text")
    val test_ = (0 until 10).map { i =>
      val src = (0 until 4).map(j => s"w${i}_$j").mkString(" ")
      (100L + i, s"$src noise$i more$i")
    }.toDF("doc_id", "text")
    val got = Dedup.contamination(train, test_, "doc_id", "text", n = 3, minHits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == (0 until 10).map(i => (100L + i, i.toLong, 2L)).toSet,
      s"each test doc pairs with exactly its source train doc: $got")
  }

  test("property: dedup idempotence — exact clusters stable under re-dedup") {
    val docs = samples(Gen.oneOf("aaa", "bbb", "ccc", "ddd"), 40).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val reps = Dedup.exactClusters(docs, "doc_id", "text")
    val deduped = docs.join(
      reps.select(col("representative").as("doc_id")), Seq("doc_id"), "left_semi")
    val again = Dedup.exactClusters(deduped, "doc_id", "text")
    assert(again.count() == reps.count())
    assert(again.filter(col("n_docs") > 1).count() == 0)
  }

  test("property: k-means partitions every point into exactly one of ≤ k cells") {
    val vecs = samples(vecGen.map(_.padTo(8, 1.0f)), 60)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "v")
    val k = 5
    val cents = SimilaritySearch.trainedCentroids(df, "vec_id", "v", dim = 8, kCentroids = k, iters = 2)
    val nCells = cents.count()
    assert(nCells <= k && nCells >= 1)
    assert(cents.select("cid").distinct().count() == nCells, "cell ids unique")
    // full-corpus search (nprobe = k) must return each query's exact result set
    val points = df.withColumnRenamed("vec_id", "point_id")
    val trained = SimilaritySearch.trainedCentroids(points, "point_id", "v",
      dim = 8, kCentroids = k, iters = 2)
    val topSelf = SimilaritySearch.searchAssignedCells(
      SimilaritySearch.assignPoints(points, "point_id", "v", trained), trained,
      df.limit(5), "vec_id", "v", nprobe = k, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // with points == queries, every query's nearest neighbor at nprobe=k is itself
    topSelf.foreach { case (q, p) => assert(q == p, s"query $q missed itself (got $p)") }
  }

  test("property: packSequences — sharded prefix sum equals global cumsum at any shard size") {
    val docs = samples(Gen.choose(1, 25), 60).zipWithIndex
      .map { case (n, i) => (i.toLong * 3 + 1, (1 to n).map(j => s"t$j").mkString(" ")) }
      .toDF("doc_id", "text")
    def run(shard: Int, sup: Int = 1024) =
      TextAnalysis.packSequences(docs, "doc_id", "text", seqLen = 16,
          docsPerShard = shard, shardsPerSuper = sup)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
    val ref = run(1000000) // one shard == the plain global cumsum
    for (shard <- Seq(1, 7, 50)) assert(run(shard) == ref, s"docsPerShard=$shard diverged")
    // supershard grouping must be offset-invariant too: exercise
    // many-supershards (sup=1: one shard each), uneven grouping, and
    // the everything-in-one-supershard degenerate case
    for (sup <- Seq(1, 3, 7)) assert(run(7, sup) == ref, s"shardsPerSuper=$sup diverged")
  }

  test("packSequences: hand-computed placement, spanning docs included") {
    val docs = Seq(
      (1L, (1 to 5).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 16).map(i => s"b$i").mkString(" ")), // spans sequences 0..2
      (3L, "c1 c2 c3"),
      (4L, "   ")                                     // zero tokens → dropped
    ).toDF("doc_id", "text")
    val got = TextAnalysis.packSequences(docs, "doc_id", "text", seqLen = 8, docsPerShard = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got == Map(
      1L -> ((5L, 0L, 0L, 0L)),
      2L -> ((16L, 0L, 2L, 5L)),
      3L -> ((3L, 2L, 2L, 5L))))
  }

  test("property: Misra-Gries keeps every term above N/(k+1) across partition merges") {
    // skewed stream, deterministically interleaved, split over 13
    // partitions so partial buffers MUST merge; N=750, k=6 → bound 107
    val rows = ((1 to 400).map(i => s"rare$i") ++ Seq.fill(200)("hot") ++ Seq.fill(150)("warm"))
      .zipWithIndex.sortBy { case (_, i) => (i * 7919) % 750 }.map(_._1)
    val df = rows.toDF("t").repartition(13)
    val cands = df.agg(graft.functions.MisraGriesAgg.mgCandidates(col("t"), 6).as("c"))
      .first().getSeq[String](0)
    assert(cands.length <= 6, s"state exceeded k: $cands")
    assert(cands.contains("hot") && cands.contains("warm"),
      s"terms above N/(k+1) must survive any merge order: $cands")
  }

  test("property: heavyHitters is EXACTLY the terms above phi*N, sketch at minimum k") {
    val toks = Seq.fill(60)("alpha") ++ Seq.fill(30)("beta") ++ (1 to 100).map(i => s"tail$i")
    val docs = toks.zipWithIndex.sortBy { case (_, i) => (i * 131) % 190 }.map(_._1)
      .grouped(10).zipWithIndex.map { case (g, i) => (i.toLong, g.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    // N=190: phi=0.2 → threshold 38 (alpha only); phi=0.1 → 19 (alpha+beta)
    for ((phi, want) <- Seq(0.2 -> Set("alpha"), 0.1 -> Set("alpha", "beta"))) {
      val k = math.ceil(1.0 / phi).toInt // tightest k the guarantee allows
      val got = TextAnalysis.heavyHitters(docs, "doc_id", "text", phi, sketchK = k)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got.keySet == want, s"phi=$phi: $got")
      assert(got("alpha") == 60L, "second pass counts are exact, not sketch estimates")
    }
    intercept[IllegalArgumentException](
      TextAnalysis.heavyHitters(docs, "doc_id", "text", 0.1, sketchK = 5))
  }

  test("property: bounded KMV aggregate equals the unbounded declarative k-min set") {
    val vals = samples(Gen.chooseNum(0L, 1L << 32), 500)
    val df = vals.zipWithIndex.map { case (h, i) => (i % 3, h) }.toDF("g", "h")
    val k = 16
    val custom = df.groupBy(col("g"))
      .agg(graft.functions.KmvMinsAgg.kmvMins(col("h"), k).as("mins"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    val declarative = df.groupBy(col("g"))
      .agg(slice(sort_array(collect_set(col("h"))), 1, k).as("mins"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(custom == declarative,
      "O(k)-state TypedImperativeAggregate must be value-identical to collect_set+slice")
    custom.values.foreach(m => assert(m.length <= k && m == m.sorted))
  }

  test("property: int8 quantization codes bounded ±127, round-trip cosine ≈ 1") {
    val vecs = samples(vecGen.map(_.padTo(8, 0.5f)), 40) :+ Array.fill(8)(0.0f)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "v")
    val rows = df.select(
        col("vec_id"),
        VectorOps.quantizeInt8(col("v")).as("codes"),
        VectorOps.cosine(col("v"),
          VectorOps.dequantizeInt8(VectorOps.quantizeInt8(col("v")),
            VectorOps.quantScale(col("v")))).as("recon"),
        VectorOps.l2Norm(col("v")).as("norm"))
      .collect()
    rows.foreach { r =>
      val codes = r.getSeq[Int](1)
      assert(codes.forall(c => c >= -127 && c <= 127), s"code out of range: $codes")
      if (r.getDouble(3) == 0.0) assert(r.getDouble(2) == 0.0) // zero vec: guard, all-zero codes
      else assert(r.getDouble(2) > 0.999, s"reconstruction cosine ${r.getDouble(2)}")
    }
  }

  test("S3: chunk-dump text sink writes the golden format to disk") {
    val tmp = java.nio.file.Files.createTempDirectory("dump").toString + "/out"
    val docs = Seq((1, "first paragraph here\n\nsecond paragraph text")).toDF("page", "text")
    Chunker.chunk(docs, Seq("page"), minLen = 5)
      .select(Chunker.dumpLine(col("page"), col("chunk_index"), col("chunk_text")).as("value"))
      .write.text(tmp)
    val back = spark.read.text(tmp).collect().map(_.getString(0)).mkString("\n")
    assert(back.contains("[Page 1 | Chunk 0]") && back.contains("[Page 1 | Chunk 1]"))
  }

  test("property: NB score/eval/bins agree on one generated corpus") {
    // the three NB reports are views of ONE score table — on any
    // corpus: quadrants partition the non-NULL-pred docs, bins
    // partition the same set, per-bin curated counts sum to the
    // curated docs the quadrants saw (tp + fn)
    val words = Gen.oneOf("a", "b", "c", "d", "e", "f", "zz")
    val textGen = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, words).map(_.mkString(" ")))
    val docs = samples(Gen.zip(textGen, Gen.oneOf("en", "de", "th")), 60)
      .zipWithIndex.map { case ((t, l), i) => (i.toLong, t, l) }
      .toDF("doc_id", "text", "lang")
    val cur = col("lang") === "en"
    val scored = Curation.nbQualityScore(docs, "doc_id", "text", cur).collect()
    val nonNull = scored.count(!_.isNullAt(1))
    val ev = Curation.nbQualityEval(docs, "doc_id", "text", cur).collect()(0)
    assert(ev.getLong(0) + ev.getLong(1) + ev.getLong(2) + ev.getLong(3) == nonNull.toLong,
      s"quadrants must partition the non-NULL-score docs: $ev vs $nonNull")
    assert(ev.getLong(4) == (scored.length - nonNull).toLong, s"n_null: $ev")
    val bins = Curation.nbCalibrationBins(docs, "doc_id", "text", cur).collect()
    assert(bins.map(_.getLong(1)).sum == nonNull.toLong,
      "bins must partition the same non-NULL-score docs")
    assert(bins.map(_.getLong(2)).sum == ev.getLong(0) + ev.getLong(2),
      "per-bin curated counts must sum to tp + fn")
  }

  test("property: volumeSizedBits window — 2^(bits-1) <= max(1, n div target) < 2^bits " +
      "inside the clamp range, monotone in n") {
    val ns = samples(Gen.chooseNum(0L, 1L << 50), 60) ++
      Seq(0L, 1L, 255L, 256L, 257L, (1L << 20) - 1, 1L << 20, Long.MaxValue / 2)
    val target = 256
    val got = ns.distinct.map(n => (n, n)).toDF("n", "n2")
      .select(col("n"), SimilaritySearch.volumeSizedBits(col("n"), target).as("bits"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { case (n, bits) =>
      assert(bits >= 4 && bits <= 16, s"clamp violated: bits($n) = $bits")
      val q = math.max(1L, n / target)
      // inside the clamp range the window must hold exactly; at the
      // clamp edges only the matching inequality survives
      if (bits > 4) assert(q >= (1L << (bits - 1)), s"n=$n bits=$bits: q=$q below window")
      if (bits < 16) assert(q < (1L << bits), s"n=$n bits=$bits: q=$q above window")
    }
    // monotone: more data can never pick a coarser quantizer
    val sorted = got.toSeq.sortBy(_._1)
    sorted.zip(sorted.tail).foreach { case ((n1, b1), (n2, b2)) =>
      assert(b1 <= b2, s"bits must be monotone in n: bits($n1)=$b1 > bits($n2)=$b2")
    }
  }
}
