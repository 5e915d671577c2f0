package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Vector column operators — the core capability of the reference
  * (L2-normalize `Qdrant/main.py:15-18`, cosine scoring implied by
  * `Distance.COSINE` at `Qdrant/main.py:107`, search scoring consumed at
  * `Qdrant/VectorDB/Database.py:22-28`).
  *
  * Every op is a Catalyst expression — higher-order array functions, or
  * a native expression / aggregate from `graft.functions` (dot, cosine,
  * mean pooling, the featurizer) — never a UDF. That keeps Catalyst able
  * to plan and constant-fold them, and every op keeps a SQL form for the
  * DuckDB oracle.
  *
  * Numeric discipline for oracle parity: elements are cast FLOAT→DOUBLE
  * before arithmetic, and `aggregate` is a sequential left fold (same
  * element order as DuckDB's `list_reduce`), so sums are reproducible
  * bit-for-bit modulo the final rounding the queries apply.
  */
object VectorOps {

  /** ARRAY<FLOAT> → ARRAY<DOUBLE>; double math end-to-end. A native
    * cast, not a `transform` lambda: same values, NULL array → NULL,
    * null element → null, but the result type is always
    * `array<double>` with `containsNull = true`, whatever the input's
    * element nullability.
    */
  def toDoubleArray(v: Column): Column = v.cast(ArrayType(DoubleType))

  /** Σ x² — sequential left fold, deterministic order. */
  def sumSquares(v: Column): Column =
    aggregate(toDoubleArray(v), lit(0.0), (acc, x) => acc + x * x)

  /** L2 norm ‖v‖₂. */
  def l2Norm(v: Column): Column = sqrt(sumSquares(v))

  /** L2-normalize with the reference's zero-vector guard
    * (`Qdrant/main.py:18`: `norm or 1.0` — a zero vector passes through
    * unchanged instead of producing NaN).
    *
    * Implementation note: higher-order functions are interpreted and do
    * NOT hoist loop-invariant subexpressions out of lambdas — a naive
    * `transform(v, x => x / norm(v))` recomputes the full norm (an
    * aggregate over v) once per ELEMENT (observed 129 evaluations/row).
    * The nested array-of-struct wrappers below are let-bindings: each
    * single-element `transform` evaluates its payload exactly once, so
    * the dense array and its norm are computed once per row and the
    * inner lambda only does a field access + divide.
    */
  def l2Normalize(v: Column): Column =
    flatten(transform(
      array(struct(toDoubleArray(v).as("d"))), // let d = double(v)
      s =>
        flatten(transform(
          array(struct(
            s.getField("d").as("d"), // let n = ||d||
            sqrt(aggregate(s.getField("d"), lit(0.0), (acc, x) => acc + x * x)).as("n"))),
          t => {
            val n = t.getField("n")
            val safe = when(n === 0.0d, lit(1.0d)).otherwise(n)
            transform(t.getField("d"), x => x / safe)
          }))))

  /** Dot product a·b — native codegen Expression (graft.functions); the
    * declarative equivalent `aggregate(zip_with(a,b,*), 0, +)` is kept in
    * [[dotHof]] as the reference formulation (bit-identical results, the
    * oracle SQL mirrors it).
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExpressions.dot(a, b)

  /** a·b via higher-order built-ins — reference/oracle formulation. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(toDoubleArray(a), toDoubleArray(b), (x, y) => x * y),
      lit(0.0),
      (acc, x) => acc + x)

  /** Cosine similarity a·b / (‖a‖‖b‖); 0.0 when either norm is zero
    * (mirrors the zero-vector guard — no NaN escapes). Native codegen
    * Expression, same operation order as [[cosineHof]].
    */
  def cosine(a: Column, b: Column): Column = graft.functions.VectorExpressions.cosine(a, b)

  /** Cosine via higher-order built-ins — reference/oracle formulation. */
  def cosineHof(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0d, lit(0.0d)).otherwise(dotHof(a, b) / denom)
  }

  /** Symmetric int8 scalar quantization: q[i] = round(x[i] / s) with
    * s = max|x| / 127 (zero vector → all-zero codes). 4× storage saving
    * for embedding tables — at 100 TB the vector column dominates the
    * corpus footprint, and int8 is the standard storage/serving format
    * (a coarse-search pass over int8 + exact re-rank over float is the
    * production shape). Pure expressions: the scale is a per-row
    * aggregate, codes are a transform — no UDF, oracle-expressible.
    */
  def quantizeInt8(v: Column): Column =
    // let-binding via single-element struct (same pattern as
    // l2Normalize): an inlined `x / scale` lambda would re-evaluate the
    // O(dim) array_max once per ELEMENT — O(dim²) per row
    flatten(transform(
      array(struct(toDoubleArray(v).as("d"))),
      s =>
        flatten(transform(
          array(struct(
            s.getField("d").as("d"),
            array_max(transform(s.getField("d"), x => abs(x))).as("amax"))),
          t => {
            val amax = t.getField("amax")
            val scale = when(amax === 0.0d, lit(1.0d)).otherwise(amax / 127.0d)
            transform(t.getField("d"), x => round(x / scale).cast("int"))
          }))))

  /** Per-dimension distribution statistics of an embedding table —
    * the index-health / drift monitor a vector store runs over its
    * corpus (a collapsed encoder shows as near-zero std in many
    * dimensions; a domain shift moves the means; both silently
    * degrade every ANN structure built on the column). One
    * posexplode → per-dimension aggregate: map-side combinable, `dim`
    * groups of state however large the corpus, stats rounded to 6 dp
    * (hash-agg moment sums are addition-order-sensitive in their last
    * bits). Output: `(dim [1-based], mean, std, min_x, max_x)`.
    */
  def dimStats(points: DataFrame, vecCol: String): DataFrame =
    points
      .select(posexplode(toDoubleArray(col(vecCol))).as(Seq("__p", "__x")))
      .select((col("__p") + 1).cast("long").as("dim"), col("__x"))
      .groupBy(col("dim"))
      .agg(
        round(avg(col("__x")), 6).as("mean"),
        round(stddev_samp(col("__x")), 6).as("std"),
        round(min(col("__x")), 6).as("min_x"),
        round(max(col("__x")), 6).as("max_x"))

  /** Per-dimension distribution DRIFT between two slices of a vector
    * corpus — the monitor a vector store runs when the encoder, the
    * upstream corpus, or a migration may have moved the embedding
    * distribution (drift silently degrades every ANN structure and
    * every trained quantizer; [[dimStats]] sees one snapshot, this
    * compares two). Metric: population stability index per dimension —
    * equi-width histograms over the dimension's pooled range,
    * Laplace-smoothed shares, PSI_j = Σ_b (pa−pb)·ln(pa/pb) (the
    * credit-scoring drift standard: <0.1 stable, >0.25 shifted).
    * Buckets observed in NEITHER slice are skipped (their smoothed
    * term is near-zero and both engines enumerate the same observed
    * set, keeping the oracle exact). Shuffle volume after the
    * posexplode combine is `dim × bins` cells — index-sized at any
    * corpus size, same shape discipline as [[dimStats]] /
    * `Relational.histogramQuantiles`. Output: `(dim [1-based], n_a,
    * n_b, psi)`.
    */
  def dimDrift(points: DataFrame, vecCol: String, isB: Column, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins ($bins) must be >= 2")
    import org.apache.spark.sql.expressions.Window
    val x = points
      .select(isB.cast("int").as("__s"),
        posexplode(toDoubleArray(col(vecCol))).as(Seq("__p", "__x")))
      .select((col("__p") + 1).cast("long").as("dim"), col("__s"), col("__x"))
    val rng = x.groupBy(col("dim"))
      .agg(min(col("__x")).as("__lo"), max(col("__x")).as("__hi"))
      .withColumn("__w", (col("__hi") - col("__lo")) / bins)
    val bucket = when(col("__w") > 0.0,
      least(floor((col("__x") - col("__lo")) / col("__w")), lit(bins - 1)).cast("long"))
      .otherwise(lit(0L))
    val w = Window.partitionBy(col("dim"))
    x.join(broadcast(rng), Seq("dim"))
      .withColumn("__b", bucket)
      .groupBy(col("dim"), col("__b"))
      .agg(sum(when(col("__s") === 0, 1L).otherwise(0L)).as("__na"),
        sum(when(col("__s") === 1, 1L).otherwise(0L)).as("__nb"))
      .withColumn("__ta", sum(col("__na")).over(w))
      .withColumn("__tb", sum(col("__nb")).over(w))
      .withColumn("__pa", (col("__na") + 1).cast("double") / (col("__ta") + bins).cast("double"))
      .withColumn("__pb", (col("__nb") + 1).cast("double") / (col("__tb") + bins).cast("double"))
      .withColumn("__t", (col("__pa") - col("__pb")) * log(col("__pa") / col("__pb")))
      .groupBy(col("dim"))
      .agg(min(col("__ta")).as("n_a"), min(col("__tb")).as("n_b"),
        round(sum(col("__t")), 6).as("psi"))
      .orderBy(col("dim"))
  }

  /** Mean-pool a vector column per group — chunk/token embeddings down
    * to ONE vector per document (the sentence-transformers default
    * pooling; the reference stores one bge-small vector per CHUNK,
    * `Qdrant/main.py:94`, so any doc-level retrieval/clustering over it
    * needs exactly this reduction). Backed by the native
    * [[graft.functions.VectorMeanAgg]] aggregate: one shuffle whose
    * volume is `groups x dim` doubles with map-side partial
    * aggregation, where the declarative posexplode + avg + re-collect
    * form shuffles `rows x dim` tuples TWICE. Output: the group
    * columns + `mean_vec ARRAY<DOUBLE>` (null for groups whose vectors
    * are all null). Last-bit addition-order caveat as [[dimStats]] —
    * round before hashing.
    */
  def meanPool(points: DataFrame, groupCols: Seq[String], vecCol: String): DataFrame =
    points
      .groupBy(groupCols.map(col): _*)
      .agg(graft.functions.VectorMeanAgg.vecMean(toDoubleArray(col(vecCol))).as("mean_vec"))

  /** Sign-random-projection (Johnson–Lindenstrauss) dimension
    * reduction: y[k] = (1/sqrt(outDim)) * sum_i v[i] * s(k, i) with
    * s(k, i) = ±1 from the parity of the portable hash of "k|i" — the
    * projection matrix is a pure function of (k, i), so any engine (and
    * the DuckDB oracle) reproduces it without shipping matrix data.
    * Cosine/distance structure is approximately preserved (JL); the
    * production use is shrinking wide embeddings (e.g. 768 → 64)
    * before IVF bucketing or quantization, where the vector column
    * dominates a 100 TB footprint and candidate scoring cost is linear
    * in dim. Each output coordinate is one codegen [[dot]] against a
    * CONSTANT row literal (resolved at plan time, loaded once per task
    * — never a per-row matrix read), so the whole projection is a
    * narrow, shuffle-free, whole-stage-codegen projection.
    */
  def signProject(v: Column, inDim: Int, outDim: Int): Column = {
    require(inDim >= 1, s"inDim ($inDim) must be >= 1")
    require(outDim >= 1 && outDim <= inDim,
      s"outDim ($outDim) must be in [1, inDim=$inDim]")
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val rows = (0 until outDim).map { k =>
      val row = (0 until inDim).map(i =>
        if (graft.functions.CmsHash.h32(s"$k|$i") % 2 == 0) scale else -scale)
      dot(v, typedlit(row))
    }
    array(rows: _*)
  }

  /** Per-row quantization scale (needed to dequantize). */
  def quantScale(v: Column): Column = {
    val amax = array_max(transform(toDoubleArray(v), x => abs(x)))
    when(amax === 0.0d, lit(1.0d)).otherwise(amax / 127.0d)
  }

  /** Dequantize int8 codes back to doubles given the stored scale. */
  def dequantizeInt8(codes: Column, scale: Column): Column =
    transform(codes, c => c.cast("double") * scale)

  /** Hashed bag-of-words featurizer — the engine's stand-in for the
    * SentenceTransformer encode boundary (`Qdrant/main.py:95,104`; model
    * inference is out-of-engine per SURVEY §2.3 V2). Tokens are the
    * non-empty single-space pieces of `trim(lower(text))` (the DuckDB
    * oracle's `string_split(trim(lower(x)), ' ')` + non-empty filter);
    * each is hashed into one of `dim` buckets and the counts are
    * L2-normalized. Rows that share an id are merged; an id with no token
    * has no row.
    *
    * One aggregate, [[graft.functions.HashedBowAgg]]: one pass over each
    * text's bytes and one shuffle of sparse partial counts, hash-
    * partitioned on the ids — no token rows, no second regroup, no
    * lambdas. Being an Aggregate is also what makes it safe to join:
    *   - the vector is an aggregate result, so CollapseProject cannot
    *     inline the featurizer into a consumer join and re-run it once
    *     per candidate PAIR (the optimizer does not model join fan-out;
    *     observed 508 s → ~5 s at sf0.1 when the barrier went in);
    *   - the optimizer sees the ids as distinct keys. A per-row
    *     `Project` form with the same output loses them: the size
    *     estimate of `emb.join(chunks)` on the chunk id grew 472.8 KiB →
    *     47.2 GiB, every later join against it planned as a sort-merge
    *     join, and the per-op shuffle went up ~6x.
    *
    * Output: `idCols` + `embedding ARRAY<DOUBLE>`.
    */
  def embedTextDistributed(
      df: DataFrame,
      idCols: Seq[String],
      textCol: String,
      dim: Int): DataFrame =
    embedTextImpl(df, idCols, textCol, dim, portableHash = false)

  /** Variant with the md5-based portable bucket hash — identical buckets
    * computable in DuckDB, so the featurizer itself is oracle-checkable
    * (`v_embed_text`). Murmur3 (`hash()`) stays the default for speed.
    */
  def embedTextPortable(
      df: DataFrame,
      idCols: Seq[String],
      textCol: String,
      dim: Int): DataFrame =
    embedTextImpl(df, idCols, textCol, dim, portableHash = true)

  private def embedTextImpl(
      df: DataFrame,
      idCols: Seq[String],
      textCol: String,
      dim: Int,
      portableHash: Boolean): DataFrame =
    df.groupBy(idCols.map(col): _*)
      .agg(graft.functions.HashedBowAgg.hashedBow(trim(lower(col(textCol))), dim, portableHash)
        .as("embedding"))
      .filter(size(col("embedding")) > 0)
}
