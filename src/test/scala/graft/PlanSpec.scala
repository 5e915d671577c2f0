package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import graft.ops._

/** Physical-plan shape assertions: the scale-critical plan properties
  * SCALING.md claims (filter pushdown, column pruning, broadcast joins,
  * window-group-limit top-k) are pinned here so a refactor that
  * silently loses one fails the suite, not the 100 TB run.
  */
class PlanSpec extends SparkSpec {

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("parquet scan pushes id predicates down and prunes columns") {
    val df = Tables.documents(spark, sf0001)
      .filter(col("doc_id") < 20)
      .select(col("doc_id"), col("text"))
    val plan = formatted(df)
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,20)]"),
      s"doc_id filter did not reach the parquet scan:\n$plan")
    assert(!plan.contains("lang"),
      s"unprojected column still read (pruning lost):\n$plan")
  }

  test("kNN join broadcasts the query side and plans a WindowGroupLimit top-k") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 10)
    val points = emb.filter(col("vec_id") >= 10).withColumnRenamed("vec_id", "point_id")
    val plan = formatted(
      Knn.knnJoin(queries, points, "vec_id", "embedding", "point_id", "embedding", 5))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side not broadcast — the crossJoin would shuffle N×Q at scale:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=k not rewritten to WindowGroupLimit (partial top-k before shuffle):\n$plan")
  }

  test("quota sample compiles to WindowGroupLimit (per-task prune before the stratum shuffle)") {
    val plan = formatted(TextAnalysis.quotaSample(
      Tables.documents(spark, sf0001), "doc_id", "lang", Map("en" -> 5), defaultQuota = 3))
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=quota did not install a group limit — full per-stratum sort at scale:\n$plan")
  }

  test("cosine near-dup (and semanticDedup candidates) join on the sign bucket, not all pairs") {
    val plan = formatted(SimilaritySearch.cosineNearDup(
      Tables.embeddings(spark, sf0001), "vec_id", "embedding", threshold = 0.4, bits = 4))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"near-dup candidates must come from the bucket equi-join, not an all-pairs join:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      s"expected an equi-join on the bucket key:\n$plan")
  }

  test("cosineNearDupVol: pair join stays a bucket equi-join; the corpus count " +
      "joins as a 1-row broadcast, never a shuffle") {
    val plan = formatted(SimilaritySearch.cosineNearDupVol(
      Tables.embeddings(spark, sf0001), "vec_id", "embedding", threshold = 0.4))
    assert(!plan.contains("CartesianProduct"),
      s"no all-pairs join anywhere in the vol plan:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      s"expected an equi-join on the bucket key:\n$plan")
    // the in-plan bits count: at most the two 1-row broadcasts (one per
    // join side — each side re-derives the bucket from its own count
    // broadcast), never a shuffled join against the corpus. formatted()
    // prints every node twice (tree + details), so 1–2 joins = 2–4 hits
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj >= 2 && bnlj <= 4,
      s"count side must be 1-row broadcast joins (got $bnlj BNLJ mentions):\n$plan")
  }

  test("salted join: the exchange carries the salt, no broadcast join") {
    val plan = formatted(SparkEntry.queries("q_salted_join")(spark, sf0001))
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastNestedLoopJoin"),
      s"salting only matters when neither side broadcasts:\n$plan")
    // the join exchange must partition on (key, salt) — that spread IS
    // the skew mitigation; without __salt in the partitioning the hot
    // key still lands on one reducer
    assert("hashpartitioning\\([^)]*__salt".r.findFirstIn(plan).isDefined,
      s"join exchange does not carry the salt column:\n$plan")
  }

  test("sim_ivf_batch: the big point side is neither broadcast nor re-shuffled") {
    // the named batch-ANN query end-to-end: stored bucketed index +
    // non-broadcastable query set. The executed plan must show a
    // non-broadcast join with exactly ONE bucket-key exchange (the
    // query side) — a second would mean the 100 TB point side moves on
    // every batch search; a broadcast join would mean the plan only
    // works while one side fits in memory.
    val df = SparkEntry.queries("sim_ivf_batch")(spark, sf0001)
    assert(df.count() > 0)
    val planStr = df.queryExecution.executedPlan.toString
    assert(!planStr.contains("BroadcastHashJoin")
        && !planStr.contains("BroadcastNestedLoopJoin"),
      s"batch ANN must not broadcast either side:\n$planStr")
    assert(planStr.contains("SortMergeJoin") || planStr.contains("ShuffledHashJoin"),
      s"expected a non-broadcast equi-join on the bucket key:\n$planStr")
    val bucketExchanges = "Exchange hashpartitioning\\(b#".r.findAllIn(planStr).size
    assert(bucketExchanges == 1,
      s"expected only the query side to exchange on the bucket key:\n$planStr")
  }

  test("sim_ivf_batch_mp: multi-probe still leaves the point side unmoved") {
    // the recall knob must not change the scale shape: the query side
    // explodes into nprobe buckets BEFORE its exchange; the stored
    // point side still contributes zero exchanges and no broadcast
    val df = SparkEntry.queries("sim_ivf_batch_mp")(spark, sf0001)
    assert(df.count() > 0)
    val planStr = df.queryExecution.executedPlan.toString
    assert(!planStr.contains("BroadcastHashJoin")
        && !planStr.contains("BroadcastNestedLoopJoin"),
      s"multi-probe batch ANN must not broadcast either side:\n$planStr")
    val bucketExchanges = "Exchange hashpartitioning\\(b#".r.findAllIn(planStr).size
    assert(bucketExchanges == 1,
      s"expected only the query side to exchange on the bucket key:\n$planStr")
  }

  test("bm25: broadcast postings join, group-limited top-k, no all-pairs join") {
    val plan = formatted(SparkEntry.queries("text_bm25")(spark, sf0001))
    // candidate generation must be the term equi-join with the tiny
    // query-term side broadcast — the corpus-side postings never move
    // to meet the queries
    assert(!plan.contains("CartesianProduct"),
      s"BM25 candidates must come from the inverted-index term join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"query-term side not broadcast into the postings join:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"per-query top-k not rewritten to a group limit:\n$plan")
  }

  test("filtered kNN pushes the payload predicate to the point scan") {
    val plan = formatted(SparkEntry.queries("v_knn_filtered")(spark, sf0001))
    // the whole point of pre-filtered search: at 100 TB the label
    // predicate prunes parquet row groups before any vector is scored
    assert(plan.contains("EqualTo(label,2)"),
      s"payload filter did not reach the parquet scan:\n$plan")
  }

  test("PQ search: the code table joins a broadcast LUT, never a shuffle of codes to queries") {
    val plan = formatted(SparkEntry.queries("sim_ivfpq")(spark, sf0001))
    // ADC's whole point at scale: per-query work is a broadcast LUT
    // lookup per code row; the (huge) code table must not exchange to
    // meet the query side, and nothing may cartesian
    assert(!plan.contains("CartesianProduct"),
      s"ADC must join codes to the LUT, not cross-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the per-query LUT must broadcast into the code join:\n$plan")
  }

  test("PQ re-rank: the raw-vector fetch broadcasts the candidate ids, never the point vectors") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.types.ArrayType
    object walk extends AdaptiveSparkPlanHelper
    // The shortlist is shortlist × |queries| ids; the point table is the
    // corpus. The fetch must stream the points through a broadcast of the
    // ids (SimilaritySearch.fetchAndRerank): a broadcast that carries
    // point ids beside a vector column is the point table shipped whole
    // to every task, and at scale it does not fit.
    val emb = Tables.embeddings(spark, sf0001)
    val points = emb.filter(col("vec_id") >= 10).withColumnRenamed("vec_id", "point_id")
    val cb = Pq.trainCodebooks(points, "point_id", "embedding", dim = 64, m = 8, kCodes = 8,
      iters = 1)
    val df = Pq.adcRerank(emb.filter(col("vec_id") < 5), "vec_id", "embedding", points,
      "point_id", cb, Pq.encode(points, "point_id", "embedding", cb, m = 8, dsub = 8),
      m = 8, dsub = 8, shortlist = 20, k = 5)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val broadcasts = walk.collect(plan) { case b: BroadcastExchangeExec => b.output }
    assert(broadcasts.exists(_.map(_.name) == Seq("query_id", "point_id")),
      s"the candidate ids are not broadcast into the raw-vector fetch:\n$plan")
    val pointVectors = broadcasts.filter(out =>
      out.exists(_.name == "point_id") && out.exists(_.dataType.isInstanceOf[ArrayType]))
    assert(pointVectors.isEmpty,
      s"a broadcast carries point vectors (${pointVectors.map(_.map(_.name))}):\n$plan")
  }

  test("BQ search: signature pack is materialized behind an exchange, never inside the pair loop") {
    // The load-bearing boundary of bqRerankTopK (SCALING.md round 11):
    // whole-stage codegen evaluates stream-side projections lazily
    // inside a nested-loop join's inner loop, so WITHOUT an exchange
    // between packSignBits and the cross join the 64-branch pack runs
    // once per PAIR (measured 9x at the 100x smoke). Pin: the plan must
    // carry a hash-partitioning exchange on point_id below the BNLJ,
    // and the raw vector fetch must be a broadcast hash join (phase 2),
    // not part of the pair pass.
    val emb = Tables.embeddings(spark, sf0001)
    val plan = formatted(SimilaritySearch.bqRerankTopK(
      emb.filter(col("vec_id") < 10),
      emb.filter(col("vec_id") >= 10).select(col("vec_id").as("point_id"), col("embedding")),
      "vec_id", "point_id", "embedding", dim = 64, shortlist = 20, k = 5))
    assert(plan.contains("hashpartitioning(point_id"),
      s"signature table not exchanged on point_id — pack would re-run per pair:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"Hamming pair pass must broadcast the query signatures:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"shortlist vector fetch must be a broadcast id join:\n$plan")
  }

  test("prefix search: narrow prefix table behind an exchange, vectors fetched by id") {
    // same boundary contract as the BQ pin above — removing the
    // repartition would re-slice the prefix once per PAIR in the
    // nested-loop inner loop (measured 3-5x at the 100x smoke)
    val emb = Tables.embeddings(spark, sf0001)
    val plan = formatted(SimilaritySearch.prefixRerankTopK(
      emb.filter(col("vec_id") < 10),
      emb.filter(col("vec_id") >= 10).select(col("vec_id").as("point_id"), col("embedding")),
      "vec_id", "point_id", "embedding", prefixDim = 16, shortlist = 20, k = 5))
    assert(plan.contains("hashpartitioning(point_id"),
      s"prefix table not exchanged on point_id — slice would re-run per pair:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") && plan.contains("BroadcastHashJoin"),
      s"expected broadcast pair pass + broadcast id fetch:\n$plan")
  }

  test("single-query top-k plans as TakeOrderedAndProject, not a global sort") {
    val emb = Tables.embeddings(spark, sf0001)
    val qvec = emb.filter(col("vec_id") === 0).select(col("embedding")).head.getSeq[Float](0)
    val plan = formatted(
      Knn.topK(emb.withColumnRenamed("vec_id", "point_id"), "embedding", "point_id",
        lit(qvec.toArray), 5))
    assert(plan.contains("TakeOrderedAndProject"),
      s"sort+limit did not fuse (a full sort at 100 TB):\n$plan")
  }

  test("recommend plans TakeOrderedAndProject — no rank window over the corpus") {
    val emb = Tables.embeddings(spark, sf0001)
    val plan = formatted(Knn.recommend(
      emb.select(col("vec_id").as("point_id"), col("embedding")),
      "point_id", "embedding", positiveIds = Seq(0L, 1L, 2L), negativeIds = Seq(3L, 4L),
      k = 5))
    assert(plan.contains("TakeOrderedAndProject"),
      s"sort+limit did not fuse — a full corpus sort at 100 TB:\n$plan")
    // the output deliberately has no rank column so no Window node may
    // appear anywhere (a rank here would be an unpartitioned WindowExec
    // over the whole corpus — the shape PlanAuditSpec bans)
    assert("(?<![A-Za-z])Window(?![A-Za-z])".r.findFirstIn(plan).isEmpty,
      s"a window operator crept into the single-query top-k:\n$plan")
  }

  test("dsirSelect selection is threshold-based — no TakeOrderedAndProject with corpus-sized k") {
    // the selection keeps keepFrac·|candidates| rows — a CORPUS-SIZED
    // k, so orderBy+limit(k)'s TakeOrderedAndProject (fine for the kNN
    // family's constant top-k) would single-point-merge k rows from
    // every partition; the threshold form must keep the plan free of
    // it (the boundary weight is a bounded histogram aggregate, the
    // selection a broadcast filter)
    val plan = formatted(Curation.dsirSelect(
      Tables.documents(spark, sf0001), "doc_id", "text",
      isTarget = col("lang") === "en", buckets = 64, keepFrac = 0.25))
    assert(!plan.contains("TakeOrderedAndProject"),
      s"corpus-sized limit(k) crept back into dsirSelect:\n$plan")
    assert(!plan.contains("GlobalLimit"),
      s"a global limit crept back into dsirSelect:\n$plan")
    // the 1-row boundary (w*, slack) feeds BOTH the strictly-above join
    // and the tie-set join; without its localCheckpoint cut Catalyst
    // inlines the histogram/prefix sub-plan into each branch and
    // ReusedExchange does NOT canonicalize the copies across the
    // upstream checkpoint cuts (r18 ADVICE, verified in the executed
    // plan: the boundary computation ran twice per action). The cut
    // leaves the main plan free of the boundary's k-selection
    // arithmetic — both branches must scan the checkpointed RDD.
    assert(!plan.contains("greatest(1,"),
      s"boundary sub-plan inlined into the selection joins (checkpoint cut lost):\n$plan")
  }

  test("searchGroups plans BOTH rank limits as WindowGroupLimit") {
    val emb = Tables.embeddings(spark, sf0001)
    val df = Knn.searchGroups(
      emb.filter(col("vec_id") < 5),
      emb.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("point_id"), col("embedding"), col("label")),
      "vec_id", "embedding", "point_id", "embedding", "label",
      groupsK = 3, hitsPerGroup = 2)
    // per-(query, group) state must be hitsPerGroup rows and per-query
    // state groupsK rows BEFORE any exchange: both stacked rank windows
    // must install a group limit — one partitioned by (query_id, group),
    // one by query_id alone (Partial/Final modes of the same limit
    // share a partition spec, hence the distinct-by-spec count).
    val specs = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
        w.partitionSpec.map(_.toString)
    }
    assert(specs.map(_.length).toSet == Set(1, 2),
      s"expected group limits partitioned by (query_id, group) AND by query_id; got: $specs")
  }

  test("every routed retrieval top-k executes as a WindowGroupLimit keyed on the query id") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    object walk extends AdaptiveSparkPlanHelper
    val emb = Tables.embeddings(spark, sf0001)
    val docs = Tables.documents(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 5)
    val points = emb.filter(col("vec_id") >= 10).withColumnRenamed("vec_id", "point_id")
    val cents = SimilaritySearch.trainedCentroids(points, "point_id", "embedding",
      dim = 64, kCentroids = 8, iters = 1)
    val cb = Pq.trainCodebooks(points, "point_id", "embedding", dim = 64, m = 8, kCodes = 8,
      iters = 1)
    val bm25 = Retrieval.bm25TopK(docs, "doc_id", "text", docs.filter(col("doc_id") < 5),
      "doc_id", "text", k = 5)
    val dense = Knn.knnJoin(queries, points, "vec_id", "embedding", "point_id", "embedding", 5)
      .select(col("query_id"), col("point_id").as("doc_id"), col("rank"))
    val routed = Seq(
      "bm25TopK" -> bm25,
      "rrfFuse" -> Retrieval.rrfFuse(bm25, dense, "query_id", "doc_id", "rank", k = 5),
      "searchAssignedCells" -> SimilaritySearch.searchAssignedCells(
        SimilaritySearch.assignPoints(points, "point_id", "embedding", cents), cents,
        queries, "vec_id", "embedding", nprobe = 2, k = 3),
      "adcRerank" -> Pq.adcRerank(queries, "vec_id", "embedding", points, "point_id", cb,
        Pq.encode(points, "point_id", "embedding", cb, m = 8, dsub = 8),
        m = 8, dsub = 8, shortlist = 20, k = 5),
      "hardNegatives" -> Knn.hardNegatives(queries, points, "vec_id", "embedding", "label",
        "point_id", "embedding", "label", k = 5),
      "ivfTopKStored" -> SimilaritySearch.ivfTopKStored(queries,
        points.withColumn("b", SimilaritySearch.signBucket("embedding", 4)),
        "vec_id", "point_id", "embedding", "b", bits = 4, k = 3),
      "bqRerankTopK" -> SimilaritySearch.bqRerankTopK(queries, points, "vec_id", "point_id",
        "embedding", dim = 64, shortlist = 20, k = 5),
      "prefixRerankTopK" -> SimilaritySearch.prefixRerankTopK(queries, points, "vec_id",
        "point_id", "embedding", prefixDim = 16, shortlist = 20, k = 5),
      "ivfBqRerankTopK" -> SimilaritySearch.ivfBqRerankTopK(queries,
        points.select(col("point_id"), SimilaritySearch.signBucket("embedding", 4).as("b"),
          SimilaritySearch.packSignBits(col("embedding"), 64).as("sig")),
        points, "vec_id", "point_id", "embedding", "b", "sig", bits = 4, dim = 64, nprobe = 2,
        shortlist = 20, k = 5),
      "ivfpqRerank" -> Pq.ivfpqRerank(queries, "vec_id", "embedding",
        SimilaritySearch.signBucket("embedding", 4), points, "point_id", cb,
        Pq.encodeBucketed(points, "point_id", "embedding", cb, m = 8, dsub = 8,
          SimilaritySearch.signBucket("embedding", 4)),
        m = 8, dsub = 8, shortlist = 20, k = 5))
    for ((name, df) <- routed) {
      df.collect()
      val plan = df.queryExecution.executedPlan
      val keys = walk.collect(plan) {
        case w: WindowGroupLimitExec => w.partitionSpec.flatMap(_.references.map(_.name))
      }
      assert(keys.contains(Seq("query_id")),
        s"$name: per-query top-k is not a WindowGroupLimit on query_id (got $keys):\n$plan")
    }
  }

  test("featurizer: one id-hashed exchange, no Generate, distinct ids") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object walk extends AdaptiveSparkPlanHelper
    for (emb <- Seq(
        VectorOps.embedTextDistributed(Tables.documents(spark, sf0001), Seq("doc_id"), "text", 16),
        VectorOps.embedTextPortable(Tables.documents(spark, sf0001), Seq("doc_id"), "text", 16))) {
      // the distinct key is what keeps a later join against the vectors
      // estimated at the id count, not at the text join's fan-out
      val keys = emb.queryExecution.optimizedPlan.distinctKeys
        .map(_.toSeq.flatMap(_.references.map(_.name)))
      assert(keys.contains(Seq("doc_id")), s"ids lost as distinct keys (got $keys)")
      emb.collect()
      val plan = emb.queryExecution.executedPlan
      val shuffles = walk.collect(plan) { case e: ShuffleExchangeExec => e.outputPartitioning }
      assert(shuffles.size == 1 && (shuffles.head match {
          case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)) == Seq("doc_id")
          case _ => false
        }), s"expected ONE exchange, hashed on doc_id (got $shuffles):\n$plan")
      assert(walk.collect(plan) { case g: GenerateExec => g }.isEmpty,
        s"the featurizer must not explode tokens into rows:\n$plan")
    }
  }

  test("weighted sample compiles to WindowGroupLimit (pre-shuffle top-k prune)") {
    val plan = formatted(TextAnalysis.weightedSample(
      Tables.documents(spark, sf0001).withColumn("w", lit(3L)),
      "doc_id", "lang", "w", k = 5))
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=k over the ES key did not install a group limit:\n$plan")
  }

  test("token budget: every window is partitioned, shard offsets broadcast") {
    val plan = formatted(TextAnalysis.tokenBudgetSample(Tables.documents(spark, sf0001),
      "doc_id", "lang", "text", Map("en" -> 500L), defaultBudget = 300L))
    // the whole point of the sharded design: the doc-level cumulative
    // window partitions on (stratum, __shard), never stratum alone (a
    // whole domain in one task at 100 TB) or globally (SinglePartition)
    assert(plan.contains("Window"), s"expected the two prefix-sum windows:\n$plan")
    assert("""windowspecdefinition\([^)]*\)[^\n]*\[stratum#\d+, __shard#\d+L\]""".r
        .findFirstIn(plan).isDefined,
      s"doc-level window no longer partitioned by (stratum, shard) — sharding lost:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"a global single-partition exchange crept into the prefix sum:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"shard-offset table must broadcast, not shuffle the corpus:\n$plan")
  }

  test("LSH candidate generation is an equi-join on the band key, not a nested loop") {
    val docs = Tables.documents(spark, sf0001)
    val sh = Dedup.shingleRows(docs, "doc_id", "text", 3).withColumn("h", Dedup.h32(col("sh")))
    val cands = Dedup.lshCandidates(
      Dedup.lshBands(Dedup.minHashSignatures(sh, 16), 16, 8))
    val plan = formatted(cands)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"band-bucket join is not an equi-join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"candidate generation degenerated to all-pairs:\n$plan")
  }

  test("IVF cell join is an equi-join on the cell id (prune before score)") {
    val emb = Tables.embeddings(spark, sf0001)
    val plan = formatted(SimilaritySearch.ivfTopK(
      emb.filter(col("vec_id") < 10),
      emb.filter(col("vec_id") >= 10).withColumnRenamed("vec_id", "point_id"),
      "vec_id", "point_id", "embedding", bits = 4, k = 3))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"),
      s"bucket join is not an equi-join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"IVF degenerated to a cartesian scoring pass:\n$plan")
  }

  test("k-means assignment is map-side: no window, no shuffle of the points (assign, encode, probe)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    object walk extends AdaptiveSparkPlanHelper
    def executed(df: DataFrame): SparkPlan = { df.collect(); df.queryExecution.executedPlan }
    def windowKeys(p: SparkPlan): Seq[Seq[String]] = walk.collect(p) {
      case w: WindowExec => w.partitionSpec.flatMap(_.references.map(_.name))
      case w: WindowGroupLimitExec => w.partitionSpec.flatMap(_.references.map(_.name))
    }
    def shuffleKeys(p: SparkPlan): Seq[Seq[String]] = walk.collect(p) {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions.flatMap(_.references.map(_.name))
        case other => Seq(other.toString)
      }
    }
    val emb = Tables.embeddings(spark, sf0001)
    val points = emb.filter(col("vec_id") >= 10).withColumnRenamed("vec_id", "point_id")
    val cents = SimilaritySearch.trainedCentroids(points, "point_id", "embedding",
      dim = 64, kCentroids = 8, iters = 1)
    val cb = Pq.trainCodebooks(emb, "vec_id", "embedding", dim = 64, m = 8, kCodes = 8, iters = 1)
    for ((name, df) <- Seq(
        "assignPoints" -> SimilaritySearch.assignPoints(points, "point_id", "embedding", cents),
        "Pq.encode" -> Pq.encode(emb, "vec_id", "embedding", cb, m = 8, dsub = 8))) {
      val plan = executed(df)
      assert(windowKeys(plan).isEmpty && shuffleKeys(plan).isEmpty,
        s"$name must rank cells in the kernel, without a window or an exchange:\n$plan")
    }
    // the probe (queries → their nprobe cells) adds no window of its own
    // and no exchange on the query id; the one window left is the
    // per-query top-k over the probed cells' points
    val search = executed(SimilaritySearch.searchAssignedCells(
      SimilaritySearch.assignPoints(points, "point_id", "embedding", cents), cents,
      emb.filter(col("vec_id") < 10), "vec_id", "embedding", nprobe = 4, k = 3))
    assert(windowKeys(search).nonEmpty && windowKeys(search).forall(_ == Seq("query_id")),
      s"only the top-k window over query_id may remain:\n$search")
    assert(!shuffleKeys(search).exists(_.contains("__id")),
      s"the probe must not exchange the queries by id:\n$search")
  }

  test("contamination is hash equi-joins on the shingle hash, never all-pairs") {
    val docs = Tables.documents(spark, sf0001)
    val plan = formatted(Dedup.contamination(
      docs.filter(col("doc_id") % 5 =!= 4), docs.filter(col("doc_id") % 5 === 4),
      "doc_id", "text", n = 3, minHits = 3))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"train×test degenerated to all-pairs:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"),
      s"shingle-hash join is not an equi-join:\n$plan")
    // The shingle-df cap is an anti-join against the tiny over-cap gram
    // set (which broadcasts), NOT a count-over-window: a Window here
    // would mean every train shingle row is exchanged and sorted just to
    // drop a handful of boilerplate grams.
    assert(plan.contains("LeftAnti"),
      s"train-df guard anti-join missing from the plan:\n$plan")
    assert(!plan.contains("Window"),
      s"df cap regressed to a full count-over-window of train shingles:\n$plan")
  }

  test("heavy hitters: sketch aggregates map-side, candidates broadcast into a semi-join") {
    val plan = formatted(
      TextAnalysis.heavyHitters(Tables.documents(spark, sf0001), "doc_id", "text", phi = 0.01))
    assert(plan.contains("ObjectHashAggregate"),
      s"Misra-Gries pass lost its partial (map-side) aggregation:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"exact pass must count candidates only (semi-join missing):\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"candidate set (≤ k rows) must broadcast, not shuffle:\n$plan")
  }

  test("partitioned layout: a partition-key filter prunes directories, not rows") {
    val tmp = java.nio.file.Files.createTempDirectory("part").toString + "/docs"
    Tables.documents(spark, sf0001)
      .write.partitionBy("lang").mode("overwrite").parquet(tmp)
    val all = spark.read.parquet(tmp)
    val one = all.filter(col("lang") === "en").select(col("doc_id"), col("text"))
    val plan = formatted(one)
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"lang filter did not become a partition filter:\n$plan")
    def partitionsScanned(df: DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }.sum
    val pruned = partitionsScanned(one)
    val total = partitionsScanned(all.select(col("doc_id"), col("text"), col("lang")))
    assert(pruned > 0 && pruned < total,
      s"partition pruning should skip non-matching directories ($pruned of $total scanned)")
    assert(one.count() == all.filter(col("lang") === "en").count())
  }

  test("star-schema join keeps small dimensions broadcast") {
    val plan = formatted(Relational.revenueCube(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"),
      s"dimension tables (region/nation/customer) not broadcast:\n$plan")
  }

  test("AQE initial-partition key shadows spark.sql.shuffle.partitions (both-keys pin)") {
    // Under AQE + partition coalescing (both on by default in Spark 4),
    // SQLConf.numShufflePartitions reads
    // coalescePartitions.initialPartitionNum whenever that key is SET —
    // the harness sessions set it volume-sized, so a scoped override
    // that touches ONLY spark.sql.shuffle.partitions is silently
    // shadowed there. This pin encodes the fact that forces
    // withVocabSizedShuffle to set/restore BOTH keys; if a Spark
    // upgrade changes the precedence, this fails and the override
    // logic must be re-audited.
    val s = spark
    val keyS = "spark.sql.shuffle.partitions"
    val keyI = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val prevS = s.conf.get(keyS)
    val prevI = s.conf.getOption(keyI)
    try {
      assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(s.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
      s.conf.set(keyI, "3")
      s.conf.set(keyS, "7")
      assert(s.sessionState.conf.numShufflePartitions == 3,
        "shuffle.partitions override NOT shadowed by the AQE initial key — " +
          "precedence changed; re-audit withVocabSizedShuffle's set/restore")
      s.conf.set(keyI, "7")
      assert(s.sessionState.conf.numShufflePartitions == 7)
    } finally {
      s.conf.set(keyS, prevS)
      prevI match {
        case Some(v) => s.conf.set(keyI, v)
        case None    => s.conf.unset(keyI)
      }
    }
  }
}
