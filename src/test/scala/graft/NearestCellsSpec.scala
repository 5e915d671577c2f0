package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.functions.VectorExpressions
import graft.functions.VectorExpressions.CellMetric

/** The nearest-cell kernel against the window rule it replaced: every
  * row keeps its `n` best cells, ranked score DESC (NULLs last), then
  * lowest cid — on random vectors, exact ties (duplicate centroids), a
  * NULL vector, a null element, zero, denormal and ±1e10 vectors, for
  * Cosine (IVF, no key) and L2 keyed by `sub` (PQ). In `graft.ops` to
  * reach the ops-private `SimilaritySearch.nearestCells`.
  */
class NearestCellsSpec extends SparkSpec {

  private val dim = 6

  private lazy val (vecs, cents) = {
    val rnd = new scala.util.Random(7)
    def rv(): Seq[Any] = Seq.fill(dim)(math.round(rnd.nextGaussian() * 100) / 100.0)
    val special: Seq[Seq[Any]] = Seq(
      null, Seq.fill(dim)(0.0), Seq.fill(dim)(1e10), Seq.fill(dim)(-1e10),
      Seq.fill(dim)(Double.MinPositiveValue), Seq(1.0, null, -1.0, 0.5, null, 2.0))
    val centRows = for (sub <- 0 to 1; cid <- 0L until 8L) yield (sub, cid, rv())
    // duplicate centroids: cells 5 and 6 copy cells 2 and 0 — exact ties
    val dup = Map(5L -> 2L, 6L -> 0L)
    val cs = centRows.map { case (s, c, v) =>
      Row(s, c * 10 + 3, dup.get(c).map(d => centRows.find(r => r._1 == s && r._2 == d).get._3)
        .getOrElse(v))
    }
    // some vectors sit exactly on a duplicated centroid (a tie at rank 1)
    val vs = (0 to 1).flatMap { s =>
      val pool = special ++ Seq.fill(40)(rv()) ++ cs.filter(_.getInt(0) == s).take(3).map(_.getSeq[Any](2))
      pool.zipWithIndex.map { case (v, i) => Row(i.toLong, s, v) }
    }
    val arr = ArrayType(DoubleType, containsNull = true)
    (spark.createDataFrame(vs.asJava, StructType(Seq(StructField("__id", LongType),
        StructField("sub", IntegerType), StructField("__v", arr)))),
      spark.createDataFrame(cs.asJava, StructType(Seq(StructField("sub", IntegerType),
        StructField("cid", LongType), StructField("centroid", arr)))))
  }

  /** The old formulation: one row per (row, cell) pair, ranked by a window. */
  private def windowRule(v: DataFrame, c: DataFrame, keys: Seq[String],
      score: (Column, Column) => Column, n: Int): DataFrame = {
    val w = Window.partitionBy((col("__id") +: keys.map(col)): _*).orderBy(desc("__s"), col("cid"))
    val pairs = if (keys.isEmpty) v.crossJoin(broadcast(c)) else v.join(broadcast(c), keys)
    pairs.withColumn("__s", score(col("__v"), col("centroid")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= n)
      .select((col("__id") +: keys.map(col)) ++ Seq(col("rank"), col("cid")): _*)
  }

  /** The kernel over cells packed per key, ranks from its output order. */
  private def kernel(v: DataFrame, c: DataFrame, keys: Seq[String],
      metric: CellMetric, n: Int): DataFrame = {
    val cells = collect_list(struct(col("cid"), col("centroid"))).as("__cells")
    val packed = if (keys.isEmpty) c.agg(cells) else c.groupBy(keys.map(col): _*).agg(cells)
    val paired = if (keys.isEmpty) v.crossJoin(packed) else v.join(packed, keys)
    paired.select((col("__id") +: keys.map(col)) :+
        posexplode(VectorExpressions.nearestCells(col("__v"), col("__cells"), metric, n))
          .as(Seq("__p", "cid")): _*)
      .select((col("__id") +: keys.map(col)) ++ Seq((col("__p") + 1).cast("long").as("rank"),
        col("cid")): _*)
  }

  private def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  /** One metric over n = 1, 4 and 12 (more than the 8 cells), under both
    * the generated code and the interpreted eval.
    */
  private def check(v: DataFrame, c: DataFrame, keys: Seq[String], metric: CellMetric,
      score: (Column, Column) => Column): Unit =
    for (n <- Seq(1, 4, 12)) {
      val ref = rows(windowRule(v, c, keys, score, n))
      for ((codegen, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")) {
        spark.conf.set("spark.sql.codegen.factoryMode", codegen)
        spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
        try {
          assert(rows(kernel(v, c, keys, metric, n)) == ref, s"ranked cells differ (n = $n, $codegen)")
          val viaOps = SimilaritySearch.nearestCells(v, c, keys, metric, n)
            .select((col("__id") +: keys.map(col)) :+ col("cid"): _*)
          assert(rows(viaOps) == rows(windowRule(v, c, keys, score, n).drop("rank")),
            s"nearestCells differs from the window rule (n = $n, $codegen)")
        } finally {
          spark.conf.unset("spark.sql.codegen.factoryMode")
          spark.conf.unset("spark.sql.codegen.wholeStage")
        }
      }
      // the NULL vector (id 0) keeps its n lowest cids
      val lowest = (0L until 8L).map(_ * 10 + 3).take(n).toSet
      val nullCells = kernel(v, c, keys, metric, n).filter(col("__id") === 0L).collect()
      assert(nullCells.map(_.getAs[Long]("cid")).toSet == lowest &&
        nullCells.length == lowest.size * (if (keys.isEmpty) 1 else 2))
    }

  test("Cosine (IVF, no key): the kernel keeps the window's cells in the window's order") {
    check(vecs.filter(col("sub") === 0).drop("sub"), cents.filter(col("sub") === 0).drop("sub"),
      Nil, CellMetric.Cosine, VectorOps.cosine)
  }

  test("L2 keyed by sub (PQ): the kernel keeps the window's cells in the window's order") {
    check(vecs, cents, Seq("sub"), CellMetric.L2,
      (v, c) => VectorOps.dot(v, c) - VectorOps.dot(c, c) / 2)
  }
}
