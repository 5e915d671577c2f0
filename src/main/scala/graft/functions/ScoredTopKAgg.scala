package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** A group's best rows so far: a binary heap of at most `k` entries with
  * the WORST at the root, so a row that cannot enter is rejected by one
  * comparison. Each entry is an `UnsafeRow` of (score, id, carried...)
  * with its score and id unpacked beside it for comparing.
  */
final class TopKHeap(val k: Int, idType: DataType, idOrdering: Ordering[Any]) {
  val rows = new Array[UnsafeRow](k)
  val nulls = new Array[Boolean](k)
  val scores = new Array[Double](k)
  val ids = new Array[Any](k)
  var size = 0

  /** < 0 when (an, a) ranks before (bn, b): score DESC with NULLs last,
    * doubles by `SQLOrderingUtil.compareDoubles` (NaN greatest,
    * −0.0 = 0.0) — the order `desc(score)` gives a window.
    */
  def compareScore(an: Boolean, a: Double, bn: Boolean, b: Double): Int =
    if (an || bn) { if (an == bn) 0 else if (an) 1 else -1 }
    else SQLOrderingUtil.compareDoubles(b, a)

  /** The tie-break: id ASC with NULLs first, as `col(id).asc`. */
  def compareId(aid: Any, bid: Any): Int =
    if (aid == null || bid == null) { if (aid == null && bid == null) 0 else if (aid == null) -1 else 1 }
    else idOrdering.compare(aid, bid)

  private def compare(i: Int, j: Int): Int = {
    val c = compareScore(nulls(i), scores(i), nulls(j), scores(j))
    if (c != 0) c else compareId(ids(i), ids(j))
  }

  private def swap(i: Int, j: Int): Unit = {
    val n = nulls(i); nulls(i) = nulls(j); nulls(j) = n
    val s = scores(i); scores(i) = scores(j); scores(j) = s
    val id = ids(i); ids(i) = ids(j); ids(j) = id
    val r = rows(i); rows(i) = rows(j); rows(j) = r
  }

  /** A row scored (n, s) against the root, by score alone: < 0 enters
    * (always while there is room), > 0 cannot, 0 is decided by the id.
    */
  def vsRoot(n: Boolean, s: Double): Int =
    if (size < k) -1 else compareScore(n, s, nulls(0), scores(0))

  /** Add an admitted row, which the heap then owns: into free room, or
    * in place of the root.
    */
  def add(row: UnsafeRow): Unit = {
    val i0 = if (size < k) size else 0
    nulls(i0) = row.isNullAt(0)
    scores(i0) = if (nulls(i0)) 0.0 else row.getDouble(0)
    ids(i0) = if (row.isNullAt(1)) null else row.get(1, idType)
    rows(i0) = row
    if (size < k) {
      size += 1
      var i = i0
      while (i > 0 && compare((i - 1) / 2, i) < 0) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
    } else {
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val worst = if (l + 1 < size && compare(l + 1, l) > 0) l + 1 else l
        if (l < size && compare(worst, i) > 0) { swap(i, worst); i = worst } else done = true
      }
    }
  }

  /** Add entry `i` of `other` if it enters. */
  def offer(other: TopKHeap, i: Int): Unit = {
    val c = vsRoot(other.nulls(i), other.scores(i))
    if (c < 0 || (c == 0 && compareId(other.ids(i), ids(0)) < 0)) add(other.rows(i))
  }

  /** The entries best first. */
  def ranked: Array[Any] =
    (0 until size).sortWith((i, j) => compare(i, j) < 0).map(i => rows(i): Any).toArray
}

/** Per-group top-k of scored rows as one custom Catalyst aggregate — the
  * sort-free form of `row_number() OVER (PARTITION BY g ORDER BY score
  * DESC, id) <= k`, which plans as a full per-task sort of every row
  * under its partial `WindowGroupLimit`.
  *
  * `children` are (score, id, carried...), named `names`; the score is
  * a DOUBLE and the id any orderable type. `update` keeps a k-bounded
  * heap, so a group costs O(rows × log k) and k entries of state however
  * many rows it sees; a row is copied (one `UnsafeRow` of every child)
  * only when it enters. Rows whose (score, id) tie are separate
  * entries, as `row_number` numbers them. `merge` offers the other
  * heap's entries; `eval` returns them best first as
  * `ARRAY<STRUCT<names...>>`, so `posexplode` gives the 0-based rank.
  *
  * Partial buffers travel as the entries' `UnsafeRow` bytes, after
  * their count (and a length before each entry only when a column is
  * variable-width): at most k rows per group and task.
  */
case class ScoredTopKAgg(
    children: Seq[Expression],
    names: Seq[String],
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKHeap] {

  require(k >= 0, s"graft_scored_top_k k must be >= 0, got $k")
  require(children.size >= 2 && children.size == names.size,
    s"graft_scored_top_k needs (score, id, carried...) with one name each, got " +
      s"${children.size} inputs for ${names.size} names")

  override def prettyName: String = "graft_scored_top_k"
  override def dataType: DataType = ArrayType(
    StructType(names.zip(children).map { case (n, c) => StructField(n, c.dataType, c.nullable) }),
    containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.head.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a DOUBLE score, got ${children.head.dataType.catalogString}")
    else TypeUtils.checkForOrderingExpr(children(1).dataType, prettyName)

  @transient private lazy val project = UnsafeProjection.create(children)
  @transient private lazy val idOrdering = TypeUtils.getInterpretedOrdering(children(1).dataType)

  override def createAggregationBuffer(): TopKHeap =
    new TopKHeap(k, children(1).dataType, idOrdering)

  override def update(buf: TopKHeap, input: InternalRow): TopKHeap = {
    if (k > 0) {
      val v = children.head.eval(input)
      val n = v == null
      val c = buf.vsRoot(n, if (n) 0.0 else v.asInstanceOf[Double])
      // the id is read only on a score tie with the root
      if (c < 0 || (c == 0 && buf.compareId(children(1).eval(input), buf.ids(0)) < 0))
        buf.add(project(input).copy())
    }
    buf
  }

  override def merge(buf: TopKHeap, other: TopKHeap): TopKHeap = {
    var i = 0
    while (i < other.size) { buf.offer(other, i); i += 1 }
    buf
  }

  override def eval(buf: TopKHeap): Any = new GenericArrayData(buf.ranked)

  /** An entry's byte width when every column is fixed-width, so no
    * entry needs its size written before it; -1 otherwise.
    */
  @transient private lazy val fixedWidth =
    if (children.forall(c => UnsafeRow.isFixedLength(c.dataType)))
      UnsafeRow.calculateBitSetWidthInBytes(children.size) + 8 * children.size
    else -1

  override def serialize(buf: TopKHeap): Array[Byte] = {
    val sized = fixedWidth < 0
    var bytes = 4
    var i = 0
    while (i < buf.size) { bytes += (if (sized) 4 else 0) + buf.rows(i).getSizeInBytes; i += 1 }
    val bb = ByteBuffer.allocate(bytes)
    bb.putInt(buf.size)
    i = 0
    while (i < buf.size) {
      val r = buf.rows(i)
      if (sized) bb.putInt(r.getSizeInBytes)
      r.writeToMemory(bb.array(), Platform.BYTE_ARRAY_OFFSET + bb.position())
      bb.position(bb.position() + r.getSizeInBytes)
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val buf = createAggregationBuffer()
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    var i = 0
    while (i < n) {
      val size = if (fixedWidth < 0) bb.getInt else fixedWidth
      val r = new UnsafeRow(children.size)
      r.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + bb.position(), size)
      bb.position(bb.position() + size)
      buf.add(r)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ScoredTopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ScoredTopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ScoredTopKAgg =
    copy(children = newChildren)
}

object ScoredTopKAgg {
  import org.apache.spark.sql.functions.col
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

  /** Column-API entry inside `groupBy(...).agg(...)`: each group's `k`
    * best rows by (`score` DESC, `id` ASC) as an array of structs of
    * the columns `score`, `id` and `carried`, best first.
    */
  def scoredTopK(score: String, id: String, carried: Seq[String], k: Int): Column = {
    val names = score +: id +: carried
    column(ScoredTopKAgg(names.map(n => expression(col(n))), names, k).toAggregateExpression())
  }
}
