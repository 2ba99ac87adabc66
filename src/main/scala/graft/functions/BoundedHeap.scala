package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{
  Expression, GenericInternalRow, UnsafeProjection, UnsafeRow
}
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

import java.util.PriorityQueue

/** Per-group best `k` (key, value) pairs in a bounded heap — the one
  * `TypedImperativeAggregate` behind five aggregates ([[BoundedHeap.Shape]]):
  *
  *  - `min_by_object` / `max_by_object`: the value at the smallest /
  *    largest key, null for an empty group. Spark's declarative
  *    `MinBy`/`MaxBy` put the carried value into the aggregation
  *    buffer; a struct or string there is not a mutable buffer type,
  *    so the whole aggregate falls back to SortAggregate — a
  *    per-partition sort of every input row ([[graft.plans.RewriteArgExtremum]]).
  *  - `top_k_by`: the values at the `k` smallest keys, array sorted by
  *    key ascending, so array position is the rank. A per-group rank
  *    window (`row_number() … <= k`) must SORT every candidate row — at
  *    the q_hard_negatives sf10 shape a ~300 GB spill. For descending
  *    ranks negate the key, e.g. `struct(-cos, id)`.
  *  - `bounded_topk` / `bounded_topk_distinct`: ksqlDB's TOPK /
  *    TOPKDISTINCT (`KsqlFunctionRegistry.cs:91-92`), typed over the
  *    orderable scalars, the `k` largest inputs as `ARRAY<input type>`
  *    sorted descending. The composite `slice(sort_array(collect_list))`
  *    ([[KFunctions.topK]]) buffers every group element first.
  *
  * As a typed imperative aggregate the buffer is an opaque object, so
  * every shape plans as ObjectHashAggregate: map-side partials hold ≤ k
  * pairs per group, the exchange carries ≤ k rows per group per
  * partition, and nothing is globally sorted.
  *
  * Null keys are skipped (Spark `min_by` semantics). A full heap admits
  * only a STRICTLY better key, so ties on the full key keep the
  * first-seen value: use a unique tie-break in the key when determinism
  * matters (the QueryPack window convention). TOPKDISTINCT also skips a
  * value `equals` to a kept one.
  */
case class BoundedHeap(
    value: Expression,
    ord: Expression,
    k: Int,
    shape: BoundedHeap.Shape,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[BoundedHeap.Heap] {
  import BoundedHeap.Heap

  require(k > 0, s"${shape.name} requires k > 0")

  // TOPK ranks its input by itself: one child, one stored field
  @transient override lazy val children: Seq[Expression] =
    if (shape.byValue) Seq(ord) else Seq(value, ord)

  override def checkInputDataTypes(): TypeCheckResult =
    if (!shape.byValue) TypeUtils.checkForOrderingExpr(ord.dataType, prettyName)
    else ord.dataType match {
      case IntegerType | LongType | FloatType | DoubleType | StringType |
          TimestampType | DateType | _: DecimalType =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires an orderable scalar input, got ${other.sql}")
    }

  override def dataType: DataType =
    if (shape.scalar) value.dataType
    else ArrayType(value.dataType, containsNull = !shape.byValue)
  override def nullable: Boolean = shape.scalar
  override def prettyName: String = shape.name

  @transient private lazy val ordering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(ord.dataType)
  // best first: the kept keys are the k smallest under `rank`
  @transient private lazy val rank: Ordering[Any] =
    if (shape.descending) ordering.reverse else ordering
  // MAX-heap under `rank`: the root is the worst kept pair, evicted
  // when a better candidate arrives
  @transient private lazy val heapOrder: java.util.Comparator[Array[Any]] =
    (a: Array[Any], b: Array[Any]) => rank.compare(b(0), a(0))
  // one kept element: Array(key) for TOPK, Array(key, value) otherwise
  @transient private lazy val fieldTypes: Array[DataType] =
    if (shape.byValue) Array(ord.dataType) else Array(ord.dataType, value.dataType)
  @transient private lazy val projection = UnsafeProjection.create(fieldTypes)

  override def createAggregationBuffer(): Heap = new PriorityQueue[Array[Any]](k + 1, heapOrder)

  // strict lt: a key tying the worst kept one loses, so first-seen wins
  private def admits(heap: Heap, key: Any): Boolean =
    (heap.size < k || rank.lt(key, heap.peek()(0))) &&
      !(shape.distinct && heap.stream.anyMatch(e => key.asInstanceOf[AnyRef].equals(e(0))))

  private def add(heap: Heap, e: Array[Any]): Unit = {
    if (heap.size == k) heap.poll()
    heap.add(e)
  }

  override def update(heap: Heap, input: InternalRow): Heap = {
    val o = ord.eval(input)
    if (o != null && admits(heap, o)) {
      // evals can alias row-backed buffers: own the bytes before they
      // outlive the input row
      val key = InternalRow.copyValue(o)
      add(heap,
        if (shape.byValue) Array(key)
        else Array(key, InternalRow.copyValue(value.eval(input))))
    }
    heap
  }

  override def merge(heap: Heap, other: Heap): Heap = {
    other.forEach(e => if (admits(heap, e(0))) add(heap, e))
    heap
  }

  override def eval(heap: Heap): Any =
    if (shape.scalar) { if (heap.isEmpty) null else heap.peek().last }
    else {
      val kept = heap.toArray(Array.empty[Array[Any]])
      java.util.Arrays.sort(kept, (a: Array[Any], b: Array[Any]) => ordering.compare(a(0), b(0)))
      val ascending = kept.map(_.last)
      new GenericArrayData(if (shape.descending) ascending.reverse else ascending)
    }

  override def serialize(heap: Heap): Array[Byte] = {
    // .copy() before .getBytes, NOT .getBytes alone: the projection
    // reuses ONE output row, and for an all-fixed-width schema that
    // row's buffer is exactly sizeInBytes, so getBytes returns the
    // SHARED backing array — every element of `rows` would alias the
    // last projected element (variable-width schemas get copied
    // incidentally, which is why this only ever bit the scalar-scalar
    // case). copy() allocates a fresh exact-size array per element.
    val rows = new Array[Array[Byte]](heap.size)
    var i = 0
    heap.forEach { e =>
      rows(i) = projection(new GenericInternalRow(e)).copy().getBytes
      i += 1
    }
    val bb = java.nio.ByteBuffer.allocate(4 + rows.map(4 + _.length).sum)
    bb.putInt(rows.length)
    rows.foreach { b => bb.putInt(b.length); bb.put(b) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Heap = {
    val heap = createAggregationBuffer()
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val row = new UnsafeRow(fieldTypes.length)
    var i = 0
    while (i < n) {
      val chunk = new Array[Byte](bb.getInt)
      bb.get(chunk)
      row.pointTo(chunk, chunk.length)
      heap.add(Array.tabulate[Any](fieldTypes.length)(f =>
        InternalRow.copyValue(row.get(f, fieldTypes(f)))))
      i += 1
    }
    heap
  }

  override def withNewMutableAggBufferOffset(o: Int): BoundedHeap =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BoundedHeap =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BoundedHeap =
    if (shape.byValue) copy(value = c(0), ord = c(0)) else copy(value = c(0), ord = c(1))
}

object BoundedHeap {
  type Heap = PriorityQueue[Array[Any]]

  /** What differs between the aggregates built on the heap. */
  sealed abstract class Shape(
      val name: String,
      val descending: Boolean, // keep the LARGEST keys
      val scalar: Boolean, // emit the one kept value (null if none), not an array
      val byValue: Boolean, // the value is its own key (TOPK)
      val distinct: Boolean = false
  ) extends Serializable
  case object MinBy extends Shape("min_by_object", descending = false, scalar = true, byValue = false)
  case object MaxBy extends Shape("max_by_object", descending = true, scalar = true, byValue = false)
  case object TopKBy extends Shape("top_k_by", descending = false, scalar = false, byValue = false)
  case object TopK extends Shape("bounded_topk", descending = true, scalar = false, byValue = true)
  case object TopKDistinct
      extends Shape("bounded_topk_distinct", descending = true, scalar = false, byValue = true,
        distinct = true)

  /** Hash-aggregable `min_by` for any value type. */
  def minBy(value: Column, ord: Column): Column = aggregate(value, ord, 1, MinBy)

  /** Hash-aggregable `max_by` for any value type. */
  def maxBy(value: Column, ord: Column): Column = aggregate(value, ord, 1, MaxBy)

  /** The `k` values with the smallest `ord` keys, sorted by key ascending. */
  def topKBy(value: Column, ord: Column, k: Int): Column = aggregate(value, ord, k, TopKBy)

  /** TOPK / TOPKDISTINCT: the `k` largest inputs, sorted descending. */
  def topK(child: Expression, k: Int, distinct: Boolean): BoundedHeap =
    BoundedHeap(child, child, k, if (distinct) TopKDistinct else TopK)

  private def aggregate(value: Column, ord: Column, k: Int, shape: Shape): Column =
    ColumnBridge.column(
      BoundedHeap(
        ColumnBridge.catalystExpression(value),
        ColumnBridge.catalystExpression(ord),
        k,
        shape
      ).toAggregateExpression())
}
