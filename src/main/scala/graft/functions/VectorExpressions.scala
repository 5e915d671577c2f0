package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector hot path (SURVEY §4 item 1:
  * "custom Expression with codegen over primitive float arrays — only if
  * the expression formulation is a bench bottleneck" — it is: interpreted
  * higher-order functions cost ~100 ns/element-lambda, a codegen'd loop
  * over primitive ArrayData is ~1 ns/element).
  *
  * Numeric contract (oracle parity): identical operation ORDER to the
  * `aggregate(zip_with(...))` formulation they replace — double-precision
  * sequential left fold, `acc += a[i]*b[i]` — so scores are bit-identical
  * and every DuckDB oracle keeps hash-matching.
  *
  * Both ARRAY<FLOAT> and ARRAY<DOUBLE> inputs are supported; elements are
  * widened to double before multiply (same as the `x::DOUBLE` cast in the
  * expression form). Unequal lengths score over the common prefix; null
  * input → null (NullIntolerant semantics via BinaryExpression).
  *
  * [[NearestCellsExpr]] is the k-means assignment kernel: it scores one
  * vector against a packed list of cells with those same folds and keeps
  * the top `n` cell ids in the order a `row_number` window would give
  * them, so the trainers need neither a (vector, cell) pair row nor a
  * sort.
  */
object VectorExpressions {

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  private def getter(dt: DataType, arr: String, i: String): String = dt match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case DoubleType => s"$arr.getDouble($i)"
    case other => throw new IllegalStateException(s"unsupported element type $other")
  }

  private def isFloat(dt: DataType): Boolean = dt match {
    case FloatType => true
    case DoubleType => false
    case other => throw new IllegalStateException(s"unsupported element type $other")
  }

  @inline private def getD(float: Boolean, arr: ArrayData, i: Int): Double =
    if (float) arr.getFloat(i).toDouble else arr.getDouble(i)

  /** a·b over the common prefix, sequential left fold. */
  private def dotOf(x: ArrayData, xf: Boolean, y: ArrayData, yf: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += getD(xf, x, i) * getD(yf, y, i); i += 1 }
    acc
  }

  /** a·b / (‖a‖‖b‖), 0.0 when either norm is zero; one pass over the
    * common prefix, then each array's tail into its own norm (parity
    * with the l2Norm(a)*l2Norm(b) form).
    */
  private def cosineOf(x: ArrayData, xf: Boolean, y: ArrayData, yf: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var sa = 0.0; var sb = 0.0
    var i = 0
    while (i < n) {
      val xv = getD(xf, x, i); val yv = getD(yf, y, i)
      dot += xv * yv; sa += xv * xv; sb += yv * yv
      i += 1
    }
    var j = n
    while (j < x.numElements()) { val v = getD(xf, x, j); sa += v * v; j += 1 }
    j = n
    while (j < y.numElements()) { val v = getD(yf, y, j); sb += v * v; j += 1 }
    val denom = math.sqrt(sa) * math.sqrt(sb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  abstract class ArrayPairFold extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      def ok(dt: DataType) = dt match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      }
      if (ok(left.dataType) && ok(right.dataType))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"${prettyName} expects ARRAY<FLOAT|DOUBLE> inputs, got " +
            s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }
  }

  /** a·b — one tight loop, whole-stage-codegen friendly. */
  case class DotProductExpr(left: Expression, right: Expression) extends ArrayPairFold {
    override def prettyName: String = "graft_dot"

    override def nullSafeEval(a: Any, b: Any): Any =
      dotOf(a.asInstanceOf[ArrayData], isFloat(elemType(left)),
        b.asInstanceOf[ArrayData], isFloat(elemType(right)))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        s"""
           |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += ${getter(elemType(left), x, i)} * ${getter(elemType(right), y, i)};
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** cos(a,b) = a·b / (‖a‖‖b‖), 0.0 when either norm is zero — single
    * pass accumulating dot, Σa², Σb² together (4 interpreted array passes
    * collapse into 1 codegen loop). Same op order as the expression form.
    */
  case class CosineSimilarityExpr(left: Expression, right: Expression) extends ArrayPairFold {
    override def prettyName: String = "graft_cosine"

    override def nullSafeEval(a: Any, b: Any): Any =
      cosineOf(a.asInstanceOf[ArrayData], isFloat(elemType(left)),
        b.asInstanceOf[ArrayData], isFloat(elemType(right)))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val dot = ctx.freshName("dot")
        val sa = ctx.freshName("sa")
        val sb = ctx.freshName("sb")
        val xv = ctx.freshName("xv")
        val yv = ctx.freshName("yv")
        val denom = ctx.freshName("denom")
        s"""
           |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
           |double $dot = 0.0; double $sa = 0.0; double $sb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $xv = ${getter(elemType(left), x, i)};
           |  double $yv = ${getter(elemType(right), y, i)};
           |  $dot += $xv * $yv; $sa += $xv * $xv; $sb += $yv * $yv;
           |}
           |for (int $i = $n; $i < $x.numElements(); $i++) {
           |  double $xv = ${getter(elemType(left), x, i)}; $sa += $xv * $xv;
           |}
           |for (int $i = $n; $i < $y.numElements(); $i++) {
           |  double $yv = ${getter(elemType(right), y, i)}; $sb += $yv * $yv;
           |}
           |double $denom = java.lang.Math.sqrt($sa) * java.lang.Math.sqrt($sb);
           |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** |A ∩ B| for two SORTED ARRAY<BIGINT> sets — single merge pass,
    * codegen'd. Used by Dedup.verifyJaccard: per-candidate-pair exact
    * intersection without exploding (pair × shingle) rows into a shuffle.
    */
  case class SortedIntersectSizeExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def prettyName: String = "graft_sorted_intersect_size"
    override def dataType: DataType = LongType
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      def ok(dt: DataType) = dt match {
        case ArrayType(LongType, _) => true
        case _ => false
      }
      if (ok(left.dataType) && ok(right.dataType))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects sorted ARRAY<BIGINT> inputs")
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      var i = 0; var j = 0; var n = 0L
      while (i < x.numElements() && j < y.numElements()) {
        val xv = x.getLong(i); val yv = y.getLong(j)
        if (xv == yv) { n += 1; i += 1; j += 1 }
        else if (xv < yv) i += 1
        else j += 1
      }
      n
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y) => {
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val n = ctx.freshName("n")
        val xv = ctx.freshName("xv")
        val yv = ctx.freshName("yv")
        s"""
           |int $i = 0; int $j = 0; long $n = 0L;
           |while ($i < $x.numElements() && $j < $y.numElements()) {
           |  long $xv = $x.getLong($i); long $yv = $y.getLong($j);
           |  if ($xv == $yv) { $n++; $i++; $j++; }
           |  else if ($xv < $yv) { $i++; } else { $j++; }
           |}
           |${ev.value} = $n;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Cell score of [[NearestCellsExpr]]: larger is nearer. */
  sealed trait CellMetric
  object CellMetric {
    /** cos(v, c), the fold of [[CosineSimilarityExpr]] (IVF cells). */
    case object Cosine extends CellMetric
    /** dot(v, c) − dot(c, c)/2 with the fold of [[DotProductExpr]]: the
      * argmin of ‖v − c‖², since ‖v‖² is constant per vector (PQ codes).
      * The one definition of the L2 assignment objective.
      */
    case object L2 extends CellMetric
  }

  /** The k-means assignment kernel: `left` is a vector (ARRAY<FLOAT|DOUBLE>,
    * may be NULL), `right` the packed cells `ARRAY<STRUCT<cid: BIGINT,
    * centroid: ARRAY<FLOAT|DOUBLE>>>` it may land in; the result is the
    * ids of its `n` best cells, best first (fewer when there are fewer
    * cells; NULL only when `right` is NULL).
    *
    * The contract is per row: each row keeps its `n` best cells, exactly
    * the rows `row_number() OVER (PARTITION BY row ORDER BY score DESC,
    * cid) <= n` keeps over the (row, cell) pairs. So the order matches
    * Spark's sort: score descending with NULL scores last, doubles
    * compared as `SQLOrderingUtil.compareDoubles` does (NaN greatest,
    * −0.0 = 0.0), ties to the lowest cid. A NULL vector or a NULL
    * centroid scores NULL, so a NULL vector keeps its `n` lowest cids.
    * Scores come from the same element access and left folds as
    * [[DotProductExpr]] / [[CosineSimilarityExpr]], so zero, denormal and
    * null-element inputs rank as their pair scores would.
    */
  case class NearestCellsExpr(left: Expression, right: Expression, metric: CellMetric, n: Int)
      extends BinaryExpression {
    require(n >= 1, s"n ($n) must be >= 1")
    override def prettyName: String = "graft_nearest_cells"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = right.nullable

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      def vec(dt: DataType) = dt match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      }
      val cellsOk = right.dataType match {
        case ArrayType(StructType(Array(StructField(_, LongType, _, _),
            StructField(_, c, _, _))), _) => vec(c)
        case _ => false
      }
      if (vec(left.dataType) && cellsOk)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects ARRAY<FLOAT|DOUBLE> and ARRAY<STRUCT<BIGINT, " +
            s"ARRAY<FLOAT|DOUBLE>>> inputs, got ${left.dataType.catalogString} / " +
            s"${right.dataType.catalogString}")
    }

    @transient private lazy val vf = isFloat(elemType(left))
    @transient private lazy val cf = isFloat(
      elemType(right).asInstanceOf[StructType].fields(1).dataType
        .asInstanceOf[ArrayType].elementType)

    private def score(v: ArrayData, c: ArrayData): Double = metric match {
      case CellMetric.Cosine => cosineOf(v, vf, c, cf)
      case CellMetric.L2 => dotOf(v, vf, c, cf) - dotOf(c, cf, c, cf) / 2.0
    }

    /** Whether (aNull, a, aCid) ranks before (bNull, b, bCid). */
    private def before(aNull: Boolean, a: Double, aCid: Long,
        bNull: Boolean, b: Double, bCid: Long): Boolean =
      if (aNull || bNull) {
        if (aNull && bNull) aCid < bCid else bNull
      } else {
        val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(a, b)
        if (c != 0) c > 0 else aCid < bCid
      }

    /** Top-`n` insertion over the cells; `v` may be null. */
    def select(v: ArrayData, cells: ArrayData): ArrayData = {
      val m = math.min(n, cells.numElements())
      val cids = new Array[Long](m)
      val scores = new Array[Double](m)
      val nulls = new Array[Boolean](m)
      var filled = 0
      var i = 0
      while (i < cells.numElements()) {
        if (!cells.isNullAt(i)) {
          val cell = cells.getStruct(i, 2)
          val cid = cell.getLong(0)
          val isNull = v == null || cell.isNullAt(1)
          val s = if (isNull) 0.0 else score(v, cell.getArray(1))
          var j = filled
          while (j > 0 && before(isNull, s, cid, nulls(j - 1), scores(j - 1), cids(j - 1))) j -= 1
          if (j < m) {
            var t = math.min(filled, m - 1)
            while (t > j) {
              cids(t) = cids(t - 1); scores(t) = scores(t - 1); nulls(t) = nulls(t - 1)
              t -= 1
            }
            cids(j) = cid; scores(j) = s; nulls(j) = isNull
            if (filled < m) filled += 1
          }
        }
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(if (filled == m) cids else cids.take(filled))
    }

    override def eval(input: InternalRow): Any = {
      val cells = right.eval(input)
      if (cells == null) null
      else select(left.eval(input).asInstanceOf[ArrayData], cells.asInstanceOf[ArrayData])
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("nearestCells", this,
        "graft.functions.VectorExpressions.NearestCellsExpr")
      val v = left.genCode(ctx)
      val c = right.genCode(ctx)
      ev.copy(code = code"""
        |${v.code}
        |${c.code}
        |boolean ${ev.isNull} = ${c.isNull};
        |${CodeGenerator.javaType(dataType)} ${ev.value} = null;
        |if (!${ev.isNull}) {
        |  ${ev.value} = $self.select(${v.isNull} ? null : ${v.value}, ${c.value});
        |}""".stripMargin)
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  // Spark 4 Column <-> Expression bridge
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

  def sortedIntersectSize(a: Column, b: Column): Column =
    column(SortedIntersectSizeExpr(expression(a), expression(b)))

  def dot(a: Column, b: Column): Column =
    column(DotProductExpr(expression(a), expression(b)))
  def cosine(a: Column, b: Column): Column =
    column(CosineSimilarityExpr(expression(a), expression(b)))
  def nearestCells(vec: Column, cells: Column, metric: CellMetric, n: Int): Column =
    column(NearestCellsExpr(expression(vec), expression(cells), metric, n))
}
