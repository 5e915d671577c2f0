package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Dedup, Tables, VectorOps}

/** The one-pass featurizer ([[graft.functions.HashedBowAgg]] behind
  * `VectorOps.embedTextDistributed` / `embedTextPortable`) against the
  * formulation it replaced: explode the tokens, count per (id, bucket),
  * regroup per id through a map and two `transform` lambdas. Equality is
  * on raw double bits, for both bucket hashes, on edge texts and on the
  * corpus, with every row in its own partition so partial buffers are
  * serialized, shuffled and merged.
  */
class HashedBowSpec extends SparkSpec {

  /** The old explode / two-groupBy form, kept as the reference. */
  private def reference(df: DataFrame, ids: Seq[String], textCol: String, dim: Int,
      portable: Boolean): DataFrame = {
    val idc = ids.map(col)
    val toks = df.select(idc :+
      explode(filter(split(trim(lower(col(textCol))), " "), t => t =!= "")).as("__tok"): _*)
    val bucket =
      if (portable) pmod(Dedup.h32(col("__tok")), lit(dim.toLong)).cast("int")
      else pmod(hash(col("__tok")), lit(dim))
    toks.withColumn("__b", bucket)
      .groupBy(idc :+ col("__b"): _*)
      .agg(count(lit(1)).cast("double").as("__c"))
      .groupBy(idc: _*)
      .agg(map_from_entries(collect_list(struct(col("__b"), col("__c")))).as("__m"),
        sum(col("__c") * col("__c")).as("__ss"))
      .withColumn("embedding", transform(
        transform(sequence(lit(0), lit(dim - 1)), j => coalesce(element_at(col("__m"), j), lit(0.0))),
        x => x / when(col("__ss") === 0.0d, lit(1.0d)).otherwise(sqrt(col("__ss")))))
      .drop("__m", "__ss")
  }

  private def featurize(df: DataFrame, dim: Int, portable: Boolean): DataFrame =
    if (portable) VectorOps.embedTextPortable(df, Seq("id"), "text", dim)
    else VectorOps.embedTextDistributed(df, Seq("id"), "text", dim)

  /** id → the embedding's raw double bits. */
  private def bits(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) ->
      r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits)).toMap

  private def assertParity(df: DataFrame, dims: Seq[Int]): Unit =
    for (dim <- dims; portable <- Seq(false, true)) {
      val got = bits(featurize(df, dim, portable))
      val want = bits(reference(df, Seq("id"), "text", dim, portable))
      assert(got == want, s"dim=$dim portable=$portable: ids ${got.keySet} vs ${want.keySet}, " +
        s"differing ${got.keySet.union(want.keySet).filter(k => got.get(k) != want.get(k))}")
    }

  // duplicate ids sit far apart; one row per partition below
  private val edges = Seq[(Long, String)](
    (1L, null), (2L, ""), (3L, "   "), (4L, "a  b   a "), (8L, "x y"),
    (5L, "tab\tinside word\nnewline  x\r\n"), (6L, "ศาลฎีกา พิพากษา ยืน ศาลฎีกา"),
    (9L, null), (7L, "İstanbul STRASSE Straße ß İ"), (10L, "  Hello World  "),
    (11L, " nbsp  word"), (8L, "y z z"), (9L, "only one row has text"))

  private lazy val edgeDf: DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(edges.map { case (i, t) => Row(i, t) }, edges.size),
      schema)
  }

  test("edge texts at dims 1, 8, 64: bit-identical, both hashes") {
    assertParity(edgeDf, Seq(1, 8, 64))
    val ids = bits(featurize(edgeDf, 8, portable = false)).keySet
    assert(ids == Set(4L, 5L, 6L, 7L, 8L, 9L, 10L, 11L),
      s"NULL, empty and whitespace-only texts must leave no row: $ids")
  }

  test("sort-based aggregate fallback: bit-identical") {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try assertParity(edgeDf, Seq(8))
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("corpus texts: bit-identical, same output schema") {
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id").as("id"), col("text")).repartition(4)
    assertParity(docs, Seq(16))
    for (portable <- Seq(false, true))
      assert(featurize(docs, 16, portable).schema ==
        reference(docs, Seq("id"), "text", 16, portable).schema)
  }

  test("rejects dim < 1 before any job") {
    intercept[IllegalArgumentException](
      VectorOps.embedTextDistributed(edgeDf, Seq("id"), "text", 0))
  }
}
