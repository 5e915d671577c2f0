package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Token counts per hash bucket: `dim` longs, allocated at the first
  * token, so a group that never saw one stays `null`.
  */
final class BowCounts {
  var counts: Array[Long] = null
}

/** Hashed bag-of-words embedding as a custom Catalyst aggregate — the
  * engine's stand-in for the SentenceTransformer encode
  * (`Qdrant/main.py:95,104`), one pass over each text's bytes.
  *
  * `update` splits the UTF-8 bytes of the (already lowercased, trimmed)
  * text on 0x20, skips empty tokens, and adds 1 to the token's bucket:
  * `pmod(hash(token), dim)` with Spark's `hash()` (Murmur3 x86_32, seed
  * 42, over the string bytes) or, `portable`, `h32(token) % dim` with
  * the md5-prefix hash the DuckDB oracle reproduces ([[CmsHash.h32]] ≡
  * `Dedup.h32`). 0x20 never occurs inside a multi-byte UTF-8 sequence, so
  * the byte split is the string split. `merge` adds counts; `eval`
  * returns `c / sqrt(Σc²)` as `ARRAY<DOUBLE>`, or an EMPTY array when the
  * group saw no token (the caller drops it: the exploded form had no row
  * for it). Empty rather than NULL keeps the result non-nullable, the
  * schema the exploded form produced. Counts are integers and Σc² is an
  * exact double, so the output is bit-identical to explode → count per
  * (id, bucket) → normalize, whatever the merge order.
  *
  * Partial buffers travel sparse — `(bucket, count)` for the non-zero
  * buckets only — so the shuffle carries at most one entry per distinct
  * token however wide `dim` is.
  */
case class HashedBowAgg(
    child: Expression,
    dim: Int,
    portable: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BowCounts] {

  require(dim >= 1, s"graft_hashed_bow dim must be >= 1, got $dim")

  override def prettyName: String = "graft_hashed_bow"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects STRING text, got " + child.dataType.catalogString)

  override def createAggregationBuffer(): BowCounts = new BowCounts

  private def bucket(bytes: Array[Byte], from: Int, len: Int): Int =
    if (portable) (CmsHash.h32(bytes, from, len) % dim).toInt
    else {
      val h = Murmur3_x86_32.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + from, len, 42)
      val r = h % dim
      if (r < 0) r + dim else r
    }

  override def update(buf: BowCounts, input: InternalRow): BowCounts = {
    val v = child.eval(input)
    if (v != null) {
      val bytes = v.asInstanceOf[UTF8String].getBytes
      var i = 0
      while (i < bytes.length) {
        while (i < bytes.length && bytes(i) == ' ') i += 1
        val start = i
        while (i < bytes.length && bytes(i) != ' ') i += 1
        if (i > start) {
          if (buf.counts == null) buf.counts = new Array[Long](dim)
          buf.counts(bucket(bytes, start, i - start)) += 1L
        }
      }
    }
    buf
  }

  override def merge(buf: BowCounts, other: BowCounts): BowCounts = {
    if (other.counts != null) {
      if (buf.counts == null) buf.counts = other.counts.clone()
      else {
        var j = 0
        while (j < dim) { buf.counts(j) += other.counts(j); j += 1 }
      }
    }
    buf
  }

  override def eval(buf: BowCounts): Any =
    if (buf.counts == null) new GenericArrayData(Array.emptyDoubleArray)
    else {
      var ss = 0.0
      var j = 0
      while (j < dim) { val c = buf.counts(j).toDouble; ss += c * c; j += 1 }
      val norm = math.sqrt(ss)
      val out = new Array[Double](dim)
      j = 0
      while (j < dim) { out(j) = buf.counts(j).toDouble / norm; j += 1 }
      new GenericArrayData(out)
    }

  override def serialize(buf: BowCounts): Array[Byte] =
    if (buf.counts == null) Array.emptyByteArray
    else {
      val nnz = buf.counts.count(_ != 0L)
      val bb = ByteBuffer.allocate(12 * nnz)
      var j = 0
      while (j < dim) {
        if (buf.counts(j) != 0L) { bb.putInt(j); bb.putLong(buf.counts(j)) }
        j += 1
      }
      bb.array()
    }

  override def deserialize(bytes: Array[Byte]): BowCounts = {
    val buf = new BowCounts
    if (bytes.nonEmpty) {
      buf.counts = new Array[Long](dim)
      val bb = ByteBuffer.wrap(bytes)
      while (bb.hasRemaining) buf.counts(bb.getInt) = bb.getLong
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HashedBowAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HashedBowAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HashedBowAgg =
    copy(child = newChildren.head)
}

object HashedBowAgg {
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

  /** Column-API entry: `hashedBow(text, dim, portable)` inside `agg(...)`.
    * Pass the text already normalized (`trim(lower(...))`) with Spark's
    * own expressions, so case mapping stays Spark's.
    */
  def hashedBow(text: Column, dim: Int, portable: Boolean): Column =
    column(HashedBowAgg(expression(text), dim, portable).toAggregateExpression())
}
