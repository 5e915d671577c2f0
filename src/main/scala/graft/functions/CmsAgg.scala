package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count–Min sketch counts: `depth × width` LONG cells. Fixed
  * O(depth·width) state at ANY input cardinality; merge is an
  * element-wise add — a mergeable summary, so map-side partial
  * aggregation works unchanged. Estimates never underestimate; the
  * overestimate is bounded by collisions (≤ N/width per row w.h.p.,
  * min over `depth` independent rows).
  */
final class CmsBuffer(val depth: Int, val width: Int) {
  val counts = new Array[Long](depth * width)
  def add(key: UTF8String): Unit = {
    // one UTF8String->String conversion per row, not per depth row
    val k = key.toString
    var j = 0
    while (j < depth) {
      counts(j * width + CmsHash.bucket(j, k, width)) += 1L
      j += 1
    }
  }
}

/** Bucket selection shared by build and probe — and, critically, by the
  * DuckDB oracle: bucket(j, key) = h32("<j>|<key>") mod width with h32
  * the repo's portable hash (first 8 hex chars of md5 as a BIGINT,
  * exactly [[graft.OracleSql.h32Sql]]). md5 is
  * ~10× slower than a splitmix-style mix, but it is what makes every
  * estimate bit-reproducible in independent engines; swap the hash (and
  * the oracle) together if sketch build ever dominates a profile.
  */
object CmsHash {
  private val md = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  def h32(s: String): Long = {
    val b = s.getBytes(UTF_8)
    h32(b, 0, b.length)
  }

  /** [[h32]] of the UTF-8 bytes `buf[off, off + len)` — no string copy. */
  def h32(buf: Array[Byte], off: Int, len: Int): Long = {
    val d = md.get()
    d.reset()
    d.update(buf, off, len)
    val bytes = d.digest()
    // first 8 hex chars = first 4 bytes, as an unsigned 32-bit value
    ((bytes(0) & 0xFFL) << 24) | ((bytes(1) & 0xFFL) << 16) |
      ((bytes(2) & 0xFFL) << 8) | (bytes(3) & 0xFFL)
  }

  // depth is capped at 16 (CmsAgg require), so every seed prefix the
  // hot loops can ask for is precomputed once
  private val seedPrefix = Array.tabulate(16)(_.toString + "|")

  def bucket(seed: Int, key: String, width: Int): Int = {
    val prefix = if (seed < 16) seedPrefix(seed) else seed.toString + "|"
    (h32(prefix + key) % width).toInt
  }

  /** Point-frequency estimate against serialized sketch bytes
    * ([depth INT][width INT][counts LONG...]).
    */
  def estimate(bytes: Array[Byte], key: UTF8String): Long = {
    val bb = ByteBuffer.wrap(bytes)
    val depth = bb.getInt
    val width = bb.getInt
    val k = key.toString
    var est = Long.MaxValue
    var j = 0
    while (j < depth) {
      val c = bb.getLong(8 + ((j * width + bucket(j, k, width)) << 3))
      if (c < est) est = c
      j += 1
    }
    est
  }
}

/** Count–Min sketch build as a custom Catalyst aggregate: STRING keys
  * in, serialized sketch (BINARY) out. Completes the bounded-state
  * sketch family ([[KmvMinsAgg]] distinct counts, [[MisraGriesAgg]]
  * heavy hitters, [[BloomAgg]] membership) with point-frequency
  * estimates for EVERY key — `width` trades memory for error
  * (overestimate ≤ N/width per row, min over `depth` rows), and unlike
  * Misra-Gries the answer is not limited to the top-k.
  */
case class CmsAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CmsBuffer] {

  require(depth >= 1 && depth <= 16, s"graft_cms depth must be in [1, 16], got $depth")
  require(width >= 16, s"graft_cms width must be >= 16, got $width")

  override def prettyName: String = "graft_cms"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a STRING key, got " + child.dataType.catalogString)

  override def createAggregationBuffer(): CmsBuffer = new CmsBuffer(depth, width)

  override def update(buf: CmsBuffer, input: InternalRow): CmsBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[UTF8String])
    buf
  }

  override def merge(buf: CmsBuffer, other: CmsBuffer): CmsBuffer = {
    var i = 0
    while (i < buf.counts.length) { buf.counts(i) += other.counts(i); i += 1 }
    buf
  }

  override def eval(buf: CmsBuffer): Any = serialize(buf)

  override def serialize(buf: CmsBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 8 * buf.counts.length)
    bb.putInt(buf.depth)
    bb.putInt(buf.width)
    var i = 0
    while (i < buf.counts.length) { bb.putLong(buf.counts(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CmsBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new CmsBuffer(bb.getInt, bb.getInt)
    var i = 0
    while (i < buf.counts.length) { buf.counts(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CmsAgg =
    copy(child = newChildren.head)
}

/** `cms_estimate(sketchBytes, key)` — the key's frequency estimate,
  * never below the true count. One static call in generated code; null
  * sketch or key → null.
  */
case class CmsEstimateExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def prettyName: String = "graft_cms_estimate"
  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (BINARY sketch, STRING key), got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")

  override def nullSafeEval(sk: Any, v: Any): Any =
    CmsHash.estimate(sk.asInstanceOf[Array[Byte]], v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sk, v) =>
      s"${ev.value} = graft.functions.CmsHash.estimate($sk, $v);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object CmsAgg {
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

  /** Column-API entry: `cmsAgg(keyCol, depth, width)` inside `agg(...)`. */
  def cmsAgg(c: Column, depth: Int, width: Int): Column =
    column(CmsAgg(expression(c), depth, width).toAggregateExpression())

  def estimate(sketch: Column, key: Column): Column =
    column(CmsEstimateExpr(expression(sketch), expression(key)))

  /** Merge two serialized sketches (element-wise add) — the driver-side
    * form of [[CmsAgg.merge]], for folding per-micro-batch sketches into
    * a running one (streaming maintenance). Shapes must match.
    */
  def mergeBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(a.length == b.length &&
        ByteBuffer.wrap(a).getInt == ByteBuffer.wrap(b).getInt,
      s"cms merge: sketch shapes differ (${a.length} vs ${b.length} bytes)")
    val out = new Array[Byte](a.length)
    val bba = ByteBuffer.wrap(a)
    val bbb = ByteBuffer.wrap(b)
    val bbo = ByteBuffer.wrap(out)
    bbo.putInt(bba.getInt); bbb.getInt
    bbo.putInt(bba.getInt); bbb.getInt
    while (bba.hasRemaining) bbo.putLong(bba.getLong + bbb.getLong)
    out
  }

  /** An all-zero sketch of the given shape (merge identity). */
  def emptyBytes(depth: Int, width: Int): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 8 * depth * width)
    bb.putInt(depth)
    bb.putInt(width)
    bb.array()
  }
}
