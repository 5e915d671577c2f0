package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ops._

/** ANN quality: IVF bucketed search measured against the exact kNN
  * oracle (SURVEY §4: exactness is what any ANN index is judged
  * against).
  */
class SimilaritySpec extends SparkSpec {

  /** Hamming distance between packed signatures via higher-order
    * built-ins — any width; the reference for the unrolled
    * `SimilaritySearch.hammingUnrolled`.
    */
  private def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  test("ivf recall@3 vs exact kNN is reported and sane; hits subset of bucket") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 20)
    val points = emb.filter(col("vec_id") >= 20).withColumnRenamed("vec_id", "point_id")
    val exact = Knn.knnJoin(queries, points, "vec_id", "embedding", "point_id", "embedding", 3)
      .select("query_id", "point_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val ivf = SimilaritySearch
      .ivfTopK(queries, points, "vec_id", "point_id", "embedding", bits = 2, k = 3)
      .select("query_id", "point_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // every query has ≤3 ivf hits; recall vs exact is measurable and > 0
    val recalls = exact.map { case (q, ex) =>
      val got = ivf.getOrElse(q, Set.empty)
      ex.intersect(got).size.toDouble / ex.size
    }
    val macroRecall = recalls.sum / recalls.size
    info(f"IVF(bits=2) recall@3 vs exact: $macroRecall%.3f")
    assert(macroRecall > 0.2, s"suspiciously low ivf recall $macroRecall")
    assert(ivf.values.forall(_.size <= 3))
  }

  test("trained IVF (k-means + multi-probe) beats the sign-bucket quantizer on recall@3") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 20)
    val points = emb.filter(col("vec_id") >= 20).withColumnRenamed("vec_id", "point_id")
    def recallOf(approx: Map[Long, Set[Long]]): Double = {
      val exact = Knn.knnJoin(queries, points, "vec_id", "embedding", "point_id", "embedding", 3)
        .select("query_id", "point_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val rs = exact.map { case (q, ex) =>
        ex.intersect(approx.getOrElse(q, Set.empty)).size.toDouble / ex.size
      }
      rs.sum / rs.size
    }
    val cents = SimilaritySearch.trainedCentroids(points, "point_id", "embedding",
      dim = 64, kCentroids = 8, iters = 2)
    val assigned = SimilaritySearch.assignPoints(points, "point_id", "embedding", cents)
    def trainedAt(nprobe: Int): Map[Long, Set[Long]] = SimilaritySearch
      .searchAssignedCells(assigned, cents, queries, "vec_id", "embedding",
        nprobe = nprobe, k = 3)
      .select("query_id", "point_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val sign = SimilaritySearch
      .ivfTopK(queries, points, "vec_id", "point_id", "embedding", bits = 2, k = 3)
      .select("query_id", "point_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val rSign = recallOf(sign)
    // nprobe=2 of 8 cells probes the same ~1/4 of the corpus the bits=2
    // sign quantizer scores — the fair equal-budget comparison; nprobe=4
    // shows the knob the sign quantizer doesn't have.
    val rEqual = recallOf(trainedAt(2))
    val rWide = recallOf(trainedAt(4))
    info(f"recall@3 — sign-bucket(1/4): $rSign%.3f, trained nprobe=2 (1/4): $rEqual%.3f, nprobe=4 (1/2): $rWide%.3f")
    assert(rEqual >= rSign,
      f"trained quantizer lost to the data-blind one at equal probe budget ($rEqual%.3f < $rSign%.3f)")
    assert(rWide >= 0.7, f"multi-probe recall too low: $rWide%.3f")
    assert(rWide >= rEqual, "widening the probe set must not reduce recall")
  }

  test("recallAtK: self-recall 1.0, total miss 0.0, partial exact fraction") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L), (2L, 22L),
      (3L, 30L), (3L, 31L), (3L, 32L)).toDF("query_id", "point_id")
    // q1: all 3 found; q2: 1 of 3; q3: none (must still appear as 0.0)
    val approx = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 98L), (2L, 99L),
      (3L, 97L), (3L, 96L), (3L, 95L)).toDF("query_id", "point_id")
    val got = SimilaritySearch.recallAtK(exact, approx, "query_id", "point_id", 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == Map(1L -> ((3L, 1.0)), 2L -> ((1L, 0.333333)), 3L -> ((0L, 0.0))))
  }

  test("semantic dedup: chain converges to one min-id cluster; singleton kept") {
    import spark.implicits._
    def v(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat, math.sin(math.toRadians(deg)).toFloat)
    // 5-hop chain at 30° steps (consecutive cos = 0.866, two apart = 0.5):
    // the labels run to their fixed point, so the 4-hop chain collapses
    // end-to-end where a 3-round unroll provably could not
    val vecs = Seq(
      10L -> v(0), 11L -> v(30), 12L -> v(60), 13L -> v(90), 14L -> v(120),
      99L -> v(-90)).toDF("vec_id", "embedding")
    val m = SimilaritySearch
      .semanticDedup(vecs, "vec_id", "embedding", threshold = 0.85, bits = 0)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert((10L to 14L).forall(i => m(i)._1 == 10L),
      s"chain must collapse to the min id: $m")
    assert(m(10L)._2 && (11L to 14L).forall(i => !m(i)._2),
      s"exactly the min-id member is kept: $m")
    assert(m(99L) == ((99L, true)), s"singleton keeps itself: $m")
  }

  test("prototypicalityPrune: keeps the hardest keepFrac per cluster, singleton survives") {
    import spark.implicits._
    def v(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat, math.sin(math.toRadians(deg)).toFloat)
    // cluster 0 (centroid →): ids 1..3 at 0°/20°/40°; cluster 1 (centroid ↑):
    // ids 4..5 at 90°/80°; cluster 2 (centroid ←): lone id 6 at 180°
    val pts = Seq(1L -> v(0), 2L -> v(20), 3L -> v(40),
      4L -> v(90), 5L -> v(80), 6L -> v(180)).toDF("point_id", "embedding")
    val cents = Seq(
      0L -> Array(1.0, 0.0), 1L -> Array(0.0, 1.0), 2L -> Array(-1.0, 0.0))
      .toDF("cid", "centroid")
    val kept = SimilaritySearch
      .prototypicalityPrune(pts, "point_id", "embedding", cents, keepFrac = 0.5)
      .collect().map(r => r.getLong(1) -> ((r.getLong(0), r.getLong(2), r.getLong(3)))).toMap
    // keep-hardest: the farthest-from-centroid member of each cluster, and
    // the singleton survives floor(1·0.5) = 0 via the keep-at-least-one rule
    assert(kept.keySet == Set(3L, 5L, 6L), s"hardest-per-cluster kept: $kept")
    assert(kept(3L) == ((0L, 3L, 1L)) && kept(5L) == ((1L, 2L, 1L)) &&
      kept(6L) == ((2L, 1L, 1L)), s"(cid, cluster_n, rank) per survivor: $kept")
    // keepFrac = 1 keeps everything, ranked hardest-first within cluster
    val all = SimilaritySearch
      .prototypicalityPrune(pts, "point_id", "embedding", cents, keepFrac = 1.0)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(all == Map(1L -> 3L, 2L -> 2L, 3L -> 1L, 4L -> 2L, 5L -> 1L, 6L -> 1L),
      s"full keep ranks hardest-first: $all")
  }

  test("clusterCards: one row per cell — population, share, cohesion, representative") {
    import spark.implicits._
    def v(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat, math.sin(math.toRadians(deg)).toFloat)
    // same geometry as the prune test: cluster 0 spread (0°/20°/40°),
    // cluster 1 tight (90°/80°), cluster 2 a singleton at 180°
    val pts = Seq(1L -> v(0), 2L -> v(20), 3L -> v(40),
      4L -> v(90), 5L -> v(80), 6L -> v(180)).toDF("point_id", "embedding")
    val cents = Seq(
      0L -> Array(1.0, 0.0), 1L -> Array(0.0, 1.0), 2L -> Array(-1.0, 0.0))
      .toDF("cid", "centroid")
    val cards = SimilaritySearch
      .clusterCards(pts, "point_id", "embedding", cents)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    assert(cards.keySet == Set(0L, 1L, 2L), s"one card per non-empty cell: $cards")
    // cluster 0: n=3, half the corpus, rep = the on-axis point 1
    val (n0, f0, rep0, rs0, m0, mn0) = cards(0L)
    assert(n0 == 3L && f0 == 0.5 && rep0 == 1L && rs0 == 1.0)
    assert(math.abs(m0 - 0.901912) < 1e-5 && math.abs(mn0 - 0.766044) < 1e-5,
      s"spread cell mean/min cohesion: $cards")
    // cluster 1 is tighter than cluster 0 — the ordering the card exists to expose
    val (n1, f1, rep1, _, m1, mn1) = cards(1L)
    assert(n1 == 2L && f1 == 0.333333 && rep1 == 4L)
    assert(m1 > m0 && mn1 > mn0, s"tight cell scores above spread cell: $cards")
    // singleton: cohesion degenerate at its own score
    val (n2, f2, rep2, rs2, m2, mn2) = cards(2L)
    assert(n2 == 1L && f2 == 0.166667 && rep2 == 6L && rs2 == 1.0 && m2 == rs2 && mn2 == rs2)
  }

  test("clusterBalancedSample: caps each cell, small cells pass whole, deterministic") {
    import spark.implicits._
    def v(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat, math.sin(math.toRadians(deg)).toFloat)
    val pts = Seq(1L -> v(0), 2L -> v(20), 3L -> v(40),
      4L -> v(90), 5L -> v(80), 6L -> v(180)).toDF("point_id", "embedding")
    val cents = Seq(
      0L -> Array(1.0, 0.0), 1L -> Array(0.0, 1.0), 2L -> Array(-1.0, 0.0))
      .toDF("cid", "centroid")
    def run() = SimilaritySearch
      .clusterBalancedSample(pts, "point_id", "embedding", cents, perCell = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val got = run()
    // the size-3 cell is capped at 2, the size-2 and singleton cells pass whole
    val perCell = got.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perCell == Map(0L -> 2, 1L -> 2, 2L -> 1), s"cap per cell: ${got.toSeq}")
    assert(got.forall(r => r._4 >= 1 && r._4 <= 2), s"ranks within cap: ${got.toSeq}")
    assert(got.filter(_._1 == 0L).forall(r => r._3 == 3L && Set(1L, 2L, 3L)(r._2)),
      s"capped cell reports full population and draws from its members: ${got.toSeq}")
    assert(got.toSet == run().toSet, "hash-ordered draw is deterministic")
    // a cap above every cell size keeps the whole corpus
    val all = SimilaritySearch
      .clusterBalancedSample(pts, "point_id", "embedding", cents, perCell = 10)
    assert(all.count() == 6L)
  }

  test("clusterOutliers: flags the far member, respects minN / zero-std / threshold guards") {
    import spark.implicits._
    def v(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat, math.sin(math.toRadians(deg)).toFloat)
    // cell 0: five tight members (0°..8°) + one at 40° (still NEAREST to the
    // (1,0) centroid — assignment is by nearest, so an outlier can sit at most
    // 45° off with 90°-spaced centroids; the z-score is scale-invariant, so
    // relative spread is what flags it): z ≈ −2.04. Note sample-std caps |z|
    // at (n−1)/√n, so a z ≤ −2 flag needs n ≥ 6. cell 1: four tight members,
    // no outlier (n=4 caps |z| at 1.5 anyway); cell 2: three members with one
    // relatively far — below minN=4, must never flag; cell 3: four IDENTICAL
    // vectors — zero std, must never flag (and never divide by zero)
    val pts = Seq(
      1L -> v(0), 2L -> v(2), 3L -> v(4), 4L -> v(6), 5L -> v(8), 6L -> v(40),
      7L -> v(90), 8L -> v(92), 9L -> v(88), 10L -> v(91),
      11L -> v(180), 12L -> v(182), 13L -> v(150),
      14L -> v(270), 15L -> v(270), 16L -> v(270), 17L -> v(270)
    ).toDF("point_id", "embedding")
    val cents = Seq(
      0L -> Array(1.0, 0.0), 1L -> Array(0.0, 1.0),
      2L -> Array(-1.0, 0.0), 3L -> Array(0.0, -1.0)).toDF("cid", "centroid")
    val got = SimilaritySearch
      .clusterOutliers(pts, "point_id", "embedding", cents, zThresh = 2.0, minN = 4)
      .collect()
    assert(got.length == 1, s"exactly the one planted outlier: ${got.toSeq}")
    val r = got.head
    assert(r.getLong(0) == 0L && r.getLong(1) == 6L && r.getLong(2) == 6L,
      s"(cid, point_id, cluster_n): ${got.toSeq}")
    assert(math.abs(r.getDouble(6) - (-2.0398)) < 1e-3, s"z value: ${got.toSeq}")
    // the same cell stats must agree with a hand recomputation from the output
    assert(math.abs(r.getDouble(3) - 0.766044) < 1e-5 &&
      math.abs(r.getDouble(4) - 0.957965) < 1e-5, s"(score, cell_mean): ${got.toSeq}")
    // a threshold above the cell's max reachable |z| flags nothing
    assert(SimilaritySearch
      .clusterOutliers(pts, "point_id", "embedding", cents, zThresh = 3.0, minN = 4)
      .count() == 0L)
    // minN guard, isolated: at zThresh=1.0 the n=3 cell's far member (id 13,
    // z ≈ −1.155) flags only once minN admits its cell — nothing else changes
    def ids(z: Double, n: Int) = SimilaritySearch
      .clusterOutliers(pts, "point_id", "embedding", cents, zThresh = z, minN = n)
      .collect().map(_.getLong(1)).toSet
    assert(ids(1.0, 4) == Set(6L), s"minN=4 silences the n=3 cell")
    assert(ids(1.0, 3) == Set(6L, 13L), s"minN=3 admits it")
    // determinism: the flagged set is a total function of the input
    assert(SimilaritySearch
      .clusterOutliers(pts, "point_id", "embedding", cents, zThresh = 2.0, minN = 4)
      .collect().toSeq == got.toSeq)
  }

  test("sim_recall_all: nine methods, every count within [0, k·queries], recall consistent") {
    val rows = SparkEntry.queries("sim_recall_all")(spark, sf0001).collect()
    val methods = rows.map(_.getString(0)).toSet
    assert(methods == Set("ivf", "ivf_mp", "ivf_trained", "pq_adc", "pq_rerank", "ivfpq",
      "bq", "prefix", "ivf_bq"))
    rows.foreach { r =>
      val (n, hits, rec) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(n == 10L, s"${r.getString(0)}: expected the 10 fixed queries, got $n")
      assert(hits >= 0L && hits <= 3L * n, s"${r.getString(0)}: hits $hits out of range")
      assert(math.abs(rec - hits.toDouble / (3 * n)) < 1e-6,
        s"${r.getString(0)}: mean_recall $rec inconsistent with hits $hits")
    }
  }

  test("sim_recall_clustered: planted clusters separate the nine paths by quality") {
    // On the committed fixture (ClusteredFixture: 8 Gaussian clusters,
    // 64-d) a query's true top-3 are cluster-mates, so recall measures
    // what each index preserves of real structure — unlike the
    // noise-dominated harness table where it ranks noise. Everything is
    // deterministic (committed parquet + deterministic training), so
    // these bounds only move if an index implementation changes.
    // Measured r11: trained 1.0, rerank 0.967, mp 0.9, sign 0.733,
    // prefix 0.667, bq 0.6, ivfpq 0.467, pure-ADC 0.1; r12 adds the
    // composed ivf_bq at 0.5 — bucket pruning stacked on 1-bit
    // compression costs recall vs global Hamming, the menu's price tag
    // for its cheapest serving path.
    val rec = SparkEntry.queries("sim_recall_clustered")(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(rec.keySet == Set("ivf", "ivf_mp", "ivf_trained", "pq_adc", "pq_rerank",
      "ivfpq", "bq", "prefix", "ivf_bq"))
    // the 1-bit and prefix-dim compressions both retain far more of the
    // planted structure than pure ADC (which quantizes distances away)
    assert(rec("bq") > rec("pq_adc") + 0.3, s"BQ ~ pure ADC: $rec")
    assert(rec("prefix") > rec("pq_adc") + 0.3, s"prefix ~ pure ADC: $rec")
    // the trained coarse quantizer (16 cells over 8 planted clusters)
    // recovers the structure outright
    assert(rec("ivf_trained") == 1.0, s"trained IVF lost planted structure: $rec")
    // exact-rerank recovers what ADC quantization destroys
    assert(rec("pq_rerank") >= 0.9, s"rerank below 0.9: $rec")
    assert(rec("pq_rerank") > rec("pq_adc") + 0.5, s"rerank ~ pure ADC: $rec")
    // multi-probe strictly improves the single-bucket sign path
    assert(rec("ivf_mp") > rec("ivf"), s"multi-probe did not beat single-probe: $rec")
    // the composed IVF+BQ path pays for its bucket prune in recall:
    // below global-Hamming BQ, still far above pure ADC (deterministic
    // fixture — these move only if an index implementation changes)
    assert(rec("ivf_bq") <= rec("bq") && rec("ivf_bq") > rec("pq_adc") + 0.3,
      s"composed path out of its measured band: $rec")
    // quality ladder: trained > sign-bucket > pure ADC, with real gaps
    assert(rec("ivf_trained") > rec("ivf") + 0.1 && rec("ivf") > rec("pq_adc") + 0.1,
      s"paths did not separate: $rec")
  }

  test("cosineNearDup(bits=0) is the exact form: matches threshold filter on all pairs") {
    val emb = Tables.embeddings(spark, sf0001).filter(col("vec_id") < 60)
    val exact = SimilaritySearch.cosineNearDup(emb, "vec_id", "embedding", 0.3, bits = 0).count()
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val brute = a.crossJoin(b).filter(col("ia") < col("ib"))
      .filter(VectorOps.cosine(col("va"), col("vb")) >= 0.3).count()
    assert(exact == brute)
  }

  test("prefixRerankTopK degrades to exact kNN at full prefix + full shortlist") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 5)
    val points = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("point_id"), col("embedding"))
    val nPoints = points.count().toInt
    val exact = Knn.knnJoin(queries, points, "vec_id", "embedding", "point_id", "embedding", 5)
      .select("query_id", "rank", "point_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val degraded = SimilaritySearch.prefixRerankTopK(queries, points,
        "vec_id", "point_id", "embedding", prefixDim = 64, shortlist = nPoints, k = 5)
      .select("query_id", "rank", "point_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(degraded == exact, "full-prefix full-shortlist must equal exact kNN")
  }

  test("packSignBits/hamming: known patterns; hamming counts exactly the sign flips") {
    import spark.implicits._
    // 33 dims forces a second word with a 1-dim tail
    val a = Array.tabulate(33)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val b = a.clone(); b(0) = -1.0f; b(32) = -a(32) // flip dims 0 and 32 (word 0 and word 1)
    val df = Seq((a, b)).toDF("a", "b")
    val sig = df.select(
      SimilaritySearch.packSignBits(col("a"), 33).as("sa"),
      SimilaritySearch.packSignBits(col("b"), 33).as("sb"))
    val row = sig.select(
      hamming(col("sa"), col("sb")).as("h"),
      SimilaritySearch.hammingUnrolled(col("sa"), col("sb"), 33).as("hu"),
      element_at(col("sa"), 1).as("w0"), element_at(col("sa"), 2).as("w1")).first()
    assert(row.getAs[Long]("h") == 2L, "exactly the two flipped dims must differ")
    assert(row.getAs[Long]("hu") == 2L, "unrolled hamming must agree with the HOF form")
    // word 0 of a: alternating 10... from bit 31 down = 0xAAAAAAAA
    assert(row.getAs[Long]("w0") == 0xAAAAAAAAL)
    // word 1: only dim 32 (bit 31) set
    assert(row.getAs[Long]("w1") == 0x80000000L)
    // self-hamming is zero
    assert(sig.select(hamming(col("sa"), col("sa"))).first().getLong(0) == 0L)
  }

  test("bqRerankTopK degrades to exact kNN at full shortlist; scores are full-width") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 5)
    val points = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("point_id"), col("embedding"))
    val nPoints = points.count().toInt
    val exact = Knn.knnJoin(queries, points, "vec_id", "embedding", "point_id", "embedding", 5)
      .select("query_id", "rank", "point_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val degraded = SimilaritySearch.bqRerankTopK(queries, points,
        "vec_id", "point_id", "embedding", dim = 64, shortlist = nPoints, k = 5)
      .select("query_id", "rank", "point_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(degraded == exact, "full-shortlist BQ must equal exact kNN")
    val got = SimilaritySearch.bqRerankTopK(queries, points,
      "vec_id", "point_id", "embedding", dim = 64, shortlist = 20, k = 5)
    assert(got.groupBy("query_id").count().collect().forall(_.getLong(1) == 5L))
  }

  test("prefixRerankTopK: scores are full-width; shortlist bounds the candidates") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 5)
    val points = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("point_id"), col("embedding"))
    val got = SimilaritySearch.prefixRerankTopK(queries, points,
      "vec_id", "point_id", "embedding", prefixDim = 16, shortlist = 20, k = 5)
    assert(got.groupBy("query_id").count().collect().forall(_.getLong(1) == 5L))
    // every returned score equals the exact full-width cosine for that pair
    val full = got.join(points, Seq("point_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"))), Seq("query_id"))
      .withColumn("expect", VectorOps.cosine(col("qv"), col("embedding")))
      .filter(abs(col("score") - col("expect")) > lit(1e-12))
    assert(full.count() == 0, "returned scores must be full-width cosine")
  }

  test("volumeSizedBits: integer-exact bit-length formula, clamped to [4, 16]") {
    import spark.implicits._
    // (count, expected bits at targetBucket=256): below 1,280 docs the
    // clamp floor holds; 2^18 → 2^10 buckets-worth → 11 bits; the 1000×
    // corpus count (2M) → 13; astronomically large clamps at 16
    val cases = Seq(1L -> 4, 500L -> 4, 2000L -> 4, 262144L -> 11,
      2000000L -> 13, (1L << 40) -> 16)
    val got = cases.map(_._1).toDF("n")
      .select(col("n"), SimilaritySearch.volumeSizedBits(col("n"), 256).as("bits"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    cases.foreach { case (n, want) =>
      assert(got(n) == want, s"bits($n) = ${got(n)}, want $want")
    }
  }

  test("semanticDedupVol ≡ semanticDedup at the clamp floor (prefix property: " +
      "top-4 bits of the 16-bit bucket ARE the 4-bit bucket)") {
    val emb = Tables.embeddings(spark, sf0001) // 500 vectors → bits clamps to 4
    val fixed = SimilaritySearch.semanticDedup(emb, "vec_id", "embedding",
      threshold = 0.4, bits = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val vol = SimilaritySearch.semanticDedupVol(emb, "vec_id", "embedding",
      threshold = 0.4, targetBucket = 256).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(vol == fixed, "volume-sized form must equal the fixed form where the widths agree")
  }

  test("cosineNearDupVol widens with the corpus: 500 vectors at targetBucket=4 " +
      "score the bits=7 pair set, not the bits=4 one") {
    // 500 div 4 = 125 → bitLength 7: the dynamic width must leave the
    // clamp floor and match the STATIC 7-bit quantizer exactly (the
    // dynamic piece is only the shift amount)
    val emb = Tables.embeddings(spark, sf0001)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val vol = pairs(SimilaritySearch.cosineNearDupVol(
      emb, "vec_id", "embedding", threshold = 0.4, targetBucket = 4))
    val at7 = pairs(SimilaritySearch.cosineNearDup(
      emb, "vec_id", "embedding", threshold = 0.4, bits = 7))
    val at4 = pairs(SimilaritySearch.cosineNearDup(
      emb, "vec_id", "embedding", threshold = 0.4, bits = 4))
    assert(vol == at7, "dynamic width must reproduce the static bits=7 pair set")
    assert(vol != at4, "fixture must distinguish bits=7 from the clamp floor")
  }
}
