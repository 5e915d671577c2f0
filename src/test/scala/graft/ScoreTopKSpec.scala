package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Knn, VectorOps}

/** `Knn.scoreTopK` against the inline form every vector search wrote
  * before it: a score column, then a `row_number` window by (score DESC,
  * point id ASC) cut at k. Inputs: tied scores, a NULL vector, a zero
  * vector, a NaN element and a null element, a zero / NaN / NULL query,
  * k beyond the group, `dot` and `cosine`, the two-key (query, group)
  * partition of `searchGroups` and one row per partition. The points
  * span three partitions, so the map-side partial top-k runs before the
  * final one.
  */
class ScoreTopKSpec extends SparkSpec {

  private val dim = 4

  private lazy val pairs: DataFrame = {
    val vec = ArrayType(DoubleType, containsNull = true)
    val pts = Seq[(Long, String, Seq[Any])](
      (0L, "a", Seq(1.0, 0.0, 0.0, 0.0)), (1L, "a", Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, "b", Seq(0.0, 1.0, 0.0, 0.0)), (3L, "b", null), (4L, "a", Seq.fill(dim)(0.0)),
      (5L, "c", Seq(1.0, Double.NaN, 0.0, 0.0)), (6L, "c", Seq.fill(dim)(0.5)),
      (7L, "b", Seq(-1.0, 0.0, 0.0, 0.0)), (8L, "a", Seq(0.3, -0.2, 0.9, 0.1)),
      (9L, "c", Seq(0.3, -0.2, 0.9, 0.1)), (10L, "c", Seq(1.0, null, 0.0, 0.0)))
    val qs = Seq[(Long, Seq[Any])](
      (100L, Seq(1.0, 0.0, 0.0, 0.0)), (101L, Seq.fill(dim)(0.0)),
      (102L, Seq(0.3, -0.2, 0.9, 0.1)), (103L, Seq(Double.NaN, 1.0, 0.0, 0.0)), (104L, null))
    val points = spark.createDataFrame(
      spark.sparkContext.parallelize(pts.map { case (i, g, v) => Row(i, g, v) }, 3),
      StructType(Seq(StructField("point_id", LongType), StructField("grp", StringType),
        StructField("pv", vec))))
    val queries = spark.createDataFrame(
      spark.sparkContext.parallelize(qs.map { case (i, v) => Row(i, v) }, 1),
      StructType(Seq(StructField("query_id", LongType), StructField("qv", vec))))
    points.crossJoin(broadcast(queries))
  }

  /** The inline form, kept as the reference. */
  private def reference(metric: String, k: Int, partitionBy: Seq[Column],
      rankCol: String = "rank"): DataFrame = {
    val score = metric match {
      case "cosine" => VectorOps.cosine(col("qv"), col("pv"))
      case "dot" => VectorOps.dot(col("qv"), col("pv"))
    }
    val w = Window.partitionBy(partitionBy: _*).orderBy(desc("score"), col("point_id").asc)
    pairs.withColumn("score", score)
      .withColumn(rankCol, row_number().over(w).cast("long"))
      .filter(col(rankCol) <= k)
  }

  /** Same schema and same rows (doubles by their exact decimal form). */
  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, s"$what: schema ${got.schema} vs ${want.schema}")
    val g = got.collect().map(_.toString).sorted.toSeq
    val w = want.collect().map(_.toString).sorted.toSeq
    assert(g.nonEmpty && g == w, s"$what:\n${g.diff(w).mkString("\n")}\nvs\n" +
      w.diff(g).mkString("\n"))
  }

  test("cosine and dot, per query: the inline rows for ties, NULL / zero / NaN vectors and " +
      "k beyond the group") {
    for (metric <- Seq("cosine", "dot"); k <- Seq(1, 3, 50))
      assertSame(Knn.scoreTopK(pairs, "qv", "pv", "point_id", k, metric),
        reference(metric, k, Seq(col("query_id"))), s"$metric k=$k")
    // NULL scores rank last: the NULL point is each scored query's last hit
    val all = Knn.scoreTopK(pairs, "qv", "pv", "point_id", 50)
    val nullRanks = all.filter(col("point_id") === 3L && col("qv").isNotNull)
      .select(col("rank")).collect().map(_.getLong(0)).toSet
    assert(nullRanks == Set(11L), s"the NULL vector must rank 11th of 11, got $nullRanks")
    intercept[IllegalArgumentException](Knn.scoreTopK(pairs, "qv", "pv", "point_id", 3, "l2"))
  }

  test("the two-key (query, group) partition under searchGroups' rank name: the inline rows") {
    for (k <- Seq(1, 2, 50))
      assertSame(
        Knn.scoreTopK(pairs, "qv", "pv", "point_id", k,
          partitionBy = Seq(col("query_id"), col("grp")), rankCol = "hit_rank"),
        reference("cosine", k, Seq(col("query_id"), col("grp")), "hit_rank"),
        s"(query, group) k=$k")
  }

  test("one row per partition: the inline rows") {
    val byPair = Seq(col("query_id"), col("point_id"))
    for (metric <- Seq("cosine", "dot"))
      assertSame(Knn.scoreTopK(pairs, "qv", "pv", "point_id", 1, metric, partitionBy = byPair),
        reference(metric, 1, byPair), s"one row per partition, $metric")
  }
}
