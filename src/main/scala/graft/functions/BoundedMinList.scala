package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** Aggregation buffer of [[BoundedMinList]]: the k smallest elements seen so
  * far, kept in a max-heap so every insert is O(log k) and the state NEVER
  * exceeds k elements — on the map side too, which is the point: a
  * pathological hot key contributes at most k elements per map task to the
  * shuffle instead of its full bucket (guide §2.3 partial aggregation /
  * §2.5 hot-key guard). Nulls ride as a sentinel because
  * `java.util.PriorityQueue` rejects null; they sort FIRST, matching both
  * `sort_array(asc)` and `row_number().orderBy(asc_nulls_first)` semantics
  * of the formulation this aggregate replaces. */
final class BoundedMinListBuffer {
  private[functions] var heap: java.util.PriorityQueue[AnyRef] = null

  private def ensure(k: Int, maxOrd: java.util.Comparator[AnyRef]): Unit =
    if (heap == null)
      heap = new java.util.PriorityQueue[AnyRef](math.max(1, math.min(k, 16)), maxOrd)

  /** Insert an (already-copied) element, keeping only the k smallest. */
  def insert(v: AnyRef, k: Int, maxOrd: java.util.Comparator[AnyRef]): Unit = {
    ensure(k, maxOrd)
    if (heap.size < k) { heap.offer(v); () }
    else if (maxOrd.compare(v, heap.peek()) > 0) { // v < current max (maxOrd is reversed)
      heap.poll()
      heap.offer(v)
      ()
    }
  }

  def mergeFrom(other: BoundedMinListBuffer, k: Int,
      maxOrd: java.util.Comparator[AnyRef]): Unit =
    if (other.heap != null) {
      val it = other.heap.iterator()
      while (it.hasNext) insert(it.next(), k, maxOrd)
    }

  /** Members ascending (nulls first), sentinel unwrapped. */
  def sortedMembers(asc: java.util.Comparator[AnyRef]): Array[Any] = {
    if (heap == null) return Array.empty[Any]
    val out = heap.toArray(new Array[AnyRef](heap.size))
    java.util.Arrays.sort(out, asc)
    out.map(v => if (v eq BoundedMinList.NullSentinel) null else v: Any)
  }
}

/** `bounded_min_list(e, k)` — the k smallest values of `e` per group as one
  * ascending-sorted array. Replaces the LSH bucket-cap formulation
  * `row_number().over(Window.partitionBy(bucket).orderBy(e))` + `filter(rank
  * <= k)` + `sort_array(collect_list(e))`: provably the same member set (the
  * k smallest by the type's natural ordering, nulls first, sorted ascending)
  * but with PARTIAL aggregation — the window needed every bucket row through
  * the exchange and an in-partition sort before the cap could drop anything,
  * while this aggregate's state is bounded by k on the map side, so a hot
  * bucket ships at most k elements per map task and the post-exchange sort
  * disappears (guide §2.3 "aggregate before you shuffle", §2.5 skew).
  * Dropped-row accounting moves to `count(*) - size(members)` per group,
  * which the callers `observe` exactly as before. `k` must be a positive
  * integer literal. */
case class BoundedMinList(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BoundedMinListBuffer] with UnaryLike[Expression] {
  require(k > 0, s"bounded_min_list needs a positive bound, got $k")

  override def dataType: DataType = ArrayType(child.dataType, containsNull = child.nullable)
  override def nullable: Boolean = false
  override def prettyName: String = s"bounded_min_list($k)"

  override def checkInputDataTypes(): TypeCheckResult =
    TypeUtils.checkForOrderingExpr(child.dataType, "bounded_min_list")

  // ascending comparator with nulls (as sentinel) first — the exact
  // sort_array(asc) order of the formulation this replaces
  @transient private lazy val ascOrd: java.util.Comparator[AnyRef] = {
    val base = TypeUtils.getInterpretedOrdering(child.dataType)
    new java.util.Comparator[AnyRef] {
      override def compare(a: AnyRef, b: AnyRef): Int = {
        val an = a eq BoundedMinList.NullSentinel
        val bn = b eq BoundedMinList.NullSentinel
        if (an && bn) 0
        else if (an) -1
        else if (bn) 1
        else base.compare(a, b)
      }
    }
  }
  @transient private lazy val maxOrd: java.util.Comparator[AnyRef] =
    java.util.Collections.reverseOrder(ascOrd)

  override def createAggregationBuffer(): BoundedMinListBuffer = new BoundedMinListBuffer

  override def update(buf: BoundedMinListBuffer, input: InternalRow): BoundedMinListBuffer = {
    val v = child.eval(input)
    // copy: the input may be a reused unsafe buffer (same contract as Collect)
    val el = if (v == null) BoundedMinList.NullSentinel
      else InternalRow.copyValue(v).asInstanceOf[AnyRef]
    buf.insert(el, k, maxOrd)
    buf
  }

  override def merge(buf: BoundedMinListBuffer, other: BoundedMinListBuffer): BoundedMinListBuffer = {
    buf.mergeFrom(other, k, maxOrd)
    buf
  }

  override def eval(buf: BoundedMinListBuffer): Any =
    new GenericArrayData(buf.sortedMembers(ascOrd))

  // (de)serialization for spill and the partial->final shuffle: one unsafe
  // row holding the (<= k)-element member array
  @transient private lazy val stateProj =
    UnsafeProjection.create(Array[DataType](ArrayType(child.dataType, containsNull = true)))

  override def serialize(buf: BoundedMinListBuffer): Array[Byte] =
    stateProj(InternalRow(new GenericArrayData(buf.sortedMembers(ascOrd)))).getBytes

  override def deserialize(bytes: Array[Byte]): BoundedMinListBuffer = {
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    val arr = row.getArray(0)
    val buf = new BoundedMinListBuffer
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val el = if (arr.isNullAt(i)) BoundedMinList.NullSentinel
        else InternalRow.copyValue(arr.get(i, child.dataType)).asInstanceOf[AnyRef]
      buf.insert(el, k, maxOrd)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedMinList =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedMinList =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BoundedMinList {
  /** In-heap stand-in for null (PriorityQueue rejects real nulls). */
  private[functions] object NullSentinel
}
