package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{ScoredTopKAgg, TopKHeap}
import graft.ops.{Knn, VectorOps}

/** `Knn.scoreTopK` (one heap aggregate per group) against the inline
  * window form every vector search wrote before it: a score column, then
  * a `row_number` window by (score DESC, point id ASC) cut at k, without
  * the two vector columns. Inputs: tied scores, a NULL vector, a zero
  * vector, a NaN element and a null element, a zero / NaN / NULL query,
  * −0.0 against 0.0, duplicate (score, id) rows, a NULL partition key,
  * k beyond the group, `dot` and `cosine`, the two-key (query, group)
  * partition of `searchGroups`, one row per partition, and more groups
  * in one task than the hash aggregate holds before it falls back to
  * sorting. The points span three partitions, so map-side partial heaps
  * are serialized and merged before the final one.
  */
class ScoreTopKSpec extends SparkSpec {

  private val dim = 4
  private val vec = ArrayType(DoubleType, containsNull = true)

  private def frame(rows: Seq[Row], fields: Seq[StructField], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), StructType(fields))

  private def points(pts: Seq[(java.lang.Long, Seq[Any])], parts: Int = 3): DataFrame =
    frame(pts.map { case (i, v) => Row(i, if (i == null) null else s"p$i", v) },
      Seq(StructField("point_id", LongType), StructField("tag", StringType),
        StructField("pv", vec)), parts)

  private def queries(qs: Seq[(java.lang.Long, Seq[Any])]): DataFrame =
    frame(qs.map { case (i, v) => Row(i, v) },
      Seq(StructField("query_id", LongType), StructField("qv", vec)), 1)

  private lazy val pairs: DataFrame = {
    val pts = Seq[(Long, String, Seq[Any])](
      (0L, "a", Seq(1.0, 0.0, 0.0, 0.0)), (1L, "a", Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, "b", Seq(0.0, 1.0, 0.0, 0.0)), (3L, "b", null), (4L, "a", Seq.fill(dim)(0.0)),
      (5L, "c", Seq(1.0, Double.NaN, 0.0, 0.0)), (6L, "c", Seq.fill(dim)(0.5)),
      (7L, "b", Seq(-1.0, 0.0, 0.0, 0.0)), (8L, "a", Seq(0.3, -0.2, 0.9, 0.1)),
      (9L, "c", Seq(0.3, -0.2, 0.9, 0.1)), (10L, "c", Seq(1.0, null, 0.0, 0.0)))
    val qs = Seq[(java.lang.Long, Seq[Any])](
      (100L, Seq(1.0, 0.0, 0.0, 0.0)), (101L, Seq.fill(dim)(0.0)),
      (102L, Seq(0.3, -0.2, 0.9, 0.1)), (103L, Seq(Double.NaN, 1.0, 0.0, 0.0)), (104L, null))
    frame(pts.map { case (i, g, v) => Row(i, g, s"p$i", v) },
        Seq(StructField("point_id", LongType), StructField("grp", StringType),
          StructField("tag", StringType), StructField("pv", vec)), 3)
      .crossJoin(broadcast(queries(qs)))
  }

  /** The window form, kept as the reference, without the two vectors. */
  private def reference(pairs: DataFrame, metric: String, k: Int, partitionBy: Seq[Column],
      rankCol: String = "rank"): DataFrame = {
    val score = metric match {
      case "cosine" => VectorOps.cosine(col("qv"), col("pv"))
      case "dot" => VectorOps.dot(col("qv"), col("pv"))
    }
    val w = Window.partitionBy(partitionBy: _*).orderBy(desc("score"), col("point_id").asc)
    pairs.withColumn("score", score)
      .withColumn(rankCol, row_number().over(w).cast("long"))
      .filter(col(rankCol) <= k)
      .drop("qv", "pv")
  }

  /** Same schema and same rows (doubles by their exact decimal form). */
  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"$what: schema ${got.schema} vs ${want.schema}")
    val g = got.collect().map(_.toString).sorted.toSeq
    val w = want.collect().map(_.toString).sorted.toSeq
    assert(g.nonEmpty && g == w, s"$what:\n${g.diff(w).mkString("\n")}\nvs\n" +
      w.diff(g).mkString("\n"))
  }

  private def assertParity(pairs: DataFrame, ks: Seq[Int], what: String,
      partitionBy: Seq[Column] = Seq(col("query_id")), metrics: Seq[String] = Seq("cosine")
      ): Unit =
    for (metric <- metrics; k <- ks)
      assertSame(Knn.scoreTopK(pairs, "qv", "pv", "point_id", k, metric, partitionBy),
        reference(pairs, metric, k, partitionBy), s"$what, $metric k=$k")

  test("cosine and dot, per query: the inline rows for ties, NULL / zero / NaN vectors and " +
      "k beyond the group") {
    assertParity(pairs, Seq(1, 3, 50), "per query", metrics = Seq("cosine", "dot"))
    // NULL scores rank last: the NULL point is each scored query's last hit
    val all = Knn.scoreTopK(pairs, "qv", "pv", "point_id", 50)
    val nullRanks = all.filter(col("point_id") === 3L && col("query_id") =!= 104L)
      .select(col("rank")).collect().map(_.getLong(0)).toSet
    assert(nullRanks == Set(11L), s"the NULL vector must rank 11th of 11, got $nullRanks")
    intercept[IllegalArgumentException](Knn.scoreTopK(pairs, "qv", "pv", "point_id", 3, "l2"))
  }

  test("NaN scores rank first and NULL scores last, each tie set by id") {
    val all = Knn.scoreTopK(pairs, "qv", "pv", "point_id", 50)
    def ranked(q: Long): Seq[(Long, java.lang.Double)] =
      all.filter(col("query_id") === q).orderBy(col("rank"))
        .select(col("point_id"), col("score")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))))
        .toSeq
    // the NaN point tops query 100; the NULL vector trails it
    val q100 = ranked(100L)
    assert(q100.head._1 == 5L && q100.head._2.isNaN && q100.last == ((3L, null)), s"query 100: $q100")
    // a NaN query scores every point NaN or NULL: NaNs by id, then NULLs by id
    val q103 = ranked(103L)
    val (nans, nulls) = q103.span(_._2 != null)
    assert(nans.nonEmpty && nans.forall(_._2.isNaN) && nulls.nonEmpty && nulls.forall(_._2 == null) &&
      nans.map(_._1) == nans.map(_._1).sorted && nulls.map(_._1) == nulls.map(_._1).sorted,
      s"query 103: $q103")
    // a NULL query scores every point NULL: ranked by id alone
    assert(ranked(104L).map(_._1) == (0L to 10L), s"query 104: ${ranked(104L)}")
    assertParity(pairs.filter(col("query_id") >= 103L), Seq(1, 2, 4), "NaN / NULL tie sets")
  }

  test("−0.0 ties 0.0: the tie set is ordered by id, the sign kept in the score") {
    // cosine underflows to −0.0 for p21 and to 0.0 for p22; p20 and p23
    // are zero vectors (0.0 by the guard); p24 scores above them all
    val q = queries(Seq((200L, Seq(1e-170, 1e150, 0.0, 0.0))))
    val pts = points(Seq((20L, Seq.fill(dim)(0.0)), (21L, Seq(-1e-150, 0.0, 1e150, 0.0)),
      (22L, Seq(1e-150, 0.0, 1e150, 0.0)), (23L, Seq.fill(dim)(0.0)),
      (24L, Seq(0.0, 1.0, 0.0, 0.0))))
    val p = pts.crossJoin(broadcast(q))
    val scores = Knn.scoreTopK(p, "qv", "pv", "point_id", 5).orderBy("rank")
      .select(col("point_id"), col("score")).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(scores.map(_._1).toSeq == Seq(24L, 20L, 21L, 22L, 23L), scores.toSeq.toString)
    val neg = scores.find(_._1 == 21L).get._2
    assert(neg == 0.0 && 1.0 / neg < 0, s"p21 must score −0.0, got $neg")
    assertParity(p, Seq(1, 2, 3, 4, 5), "−0.0 / 0.0 ties")
  }

  test("duplicate (score, id) rows stay separate rows, as row_number numbers them") {
    val dup = Seq(1.0, 0.0, 0.0, 0.0)
    val pts = points(Seq((30L, dup), (30L, dup), (30L, dup), (31L, dup), (29L, Seq(0.0, 1.0, 0.0, 0.0))))
    val p = pts.crossJoin(broadcast(queries(Seq((300L, dup)))))
    assertParity(p, Seq(1, 2, 3, 4, 5), "duplicates")
    val top2 = Knn.scoreTopK(p, "qv", "pv", "point_id", 2)
      .select(col("point_id")).collect().map(_.getLong(0)).toSeq
    assert(top2 == Seq(30L, 30L), s"the two best are two rows of point 30: $top2")
  }

  test("a NULL partition key and a NULL point id are a group and an id like any other") {
    val pts = points(Seq((40L, Seq(1.0, 0.0, 0.0, 0.0)), (null, Seq(0.0, 1.0, 0.0, 0.0)),
      (41L, Seq(0.5, 0.5, 0.0, 0.0)), (null, Seq(1.0, 0.0, 0.0, 0.0))))
    val qs = queries(Seq((null, Seq(1.0, 0.0, 0.0, 0.0)), (null, Seq(0.0, 1.0, 0.0, 0.0)),
      (400L, Seq(1.0, 1.0, 0.0, 0.0))))
    val p = pts.crossJoin(broadcast(qs))
    assertParity(p, Seq(1, 2, 3, 8), "NULL key and id")
    assert(Knn.scoreTopK(p, "qv", "pv", "point_id", 8).filter(col("query_id").isNull).count() == 8)
  }

  test("the two-key (query, group) partition under searchGroups' rank name: the inline rows") {
    for (k <- Seq(1, 2, 50))
      assertSame(
        Knn.scoreTopK(pairs, "qv", "pv", "point_id", k,
          partitionBy = Seq(col("query_id"), col("grp")), rankCol = "hit_rank"),
        reference(pairs, "cosine", k, Seq(col("query_id"), col("grp")), "hit_rank"),
        s"(query, group) k=$k")
  }

  test("one row per partition: the inline rows") {
    assertParity(pairs, Seq(1), "one row per partition",
      partitionBy = Seq(col("query_id"), col("point_id")), metrics = Seq("cosine", "dot"))
  }

  test("partial heaps from three partitions merge to the window rows") {
    assert(pairs.rdd.getNumPartitions == 3)
    // every partition holds rows of every query, so each final heap merges three partials
    val perQuery = pairs.groupBy(spark_partition_id().as("part")).agg(countDistinct("query_id"))
      .collect().map(_.getLong(1)).toSet
    assert(perQuery == Set(5L), s"$perQuery")
    assertParity(pairs, Seq(2, 4), "three partials")
  }

  test("more groups in one task than the hash aggregate holds: the sort-based fallback") {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val old = spark.conf.getOption(key)
    val rnd = new scala.util.Random(7)
    def v: Seq[Any] = Seq.fill(dim)(rnd.nextInt(5).toDouble - 2.0)
    val pts = points((0L until 12L).map(i => (java.lang.Long.valueOf(i), v)), parts = 1)
    val qs = queries((0L until 200L).map(i => (java.lang.Long.valueOf(1000L + i), v)))
    val p = pts.crossJoin(broadcast(qs)).coalesce(1)
    spark.conf.set(key, "128")
    try assertParity(p, Seq(1, 3), "200 groups in one task")
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a heap survives serialize / deserialize, empty and full") {
    // a variable-width entry (a string carried) and a fixed-width one,
    // whose entries are written without their sizes
    for (carried <- Seq(Seq(StringType), Nil)) {
      val schema = Seq(DoubleType, LongType) ++ carried
      val agg = ScoredTopKAgg(schema.zipWithIndex.map { case (t, i) => BoundReference(i, t, true) },
        Seq("score", "id", "tag").take(schema.size), k = 3)
      def rows(buf: TopKHeap): Seq[String] = {
        val a = agg.eval(buf).asInstanceOf[ArrayData]
        (0 until a.numElements()).map { i =>
          val r = a.getStruct(i, schema.size)
          s"${if (r.isNullAt(0)) "null" else r.getDouble(0)},${r.getLong(1)}" +
            (if (carried.isEmpty) "" else s",${r.getUTF8String(2)}")
        }
      }
      val empty = agg.createAggregationBuffer()
      val empty2 = agg.deserialize(agg.serialize(empty))
      assert(empty2.size == 0 && rows(empty2).isEmpty)
      val full = agg.createAggregationBuffer()
      for ((s, id) <- Seq[(java.lang.Double, Long)]((0.5, 3L), (null, 1L), (0.9, 7L), (0.5, 2L),
          (Double.NaN, 9L), (-0.0, 4L)))
        agg.update(full, InternalRow.fromSeq(Seq(s, id, UTF8String.fromString(s"t$id"))
          .take(schema.size)))
      assert(full.size == 3)
      val want = Seq("NaN,9,t9", "0.9,7,t7", "0.5,2,t2")
        .map(w => if (carried.isEmpty) w.split(",").take(2).mkString(",") else w)
      assert(rows(full) == want)
      val back = agg.deserialize(agg.serialize(full))
      assert(rows(back) == want, s"carried $carried")
      // a deserialized heap keeps ranking: merging it into an empty one is itself
      assert(rows(agg.merge(agg.createAggregationBuffer(), back)) == want)
    }
  }
}
