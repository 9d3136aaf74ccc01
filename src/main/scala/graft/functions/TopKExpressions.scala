package graft.functions

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Descending,
  Expression, InterpretedOrdering, NullOrdering, NullsFirst, NullsLast, SortDirection,
  SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StructType}

/** Bounded top-k buffer: a size-capped max-heap (on the row ordering)
  * whose head is the WORST current survivor, so an incoming row either
  * displaces it in O(log k) or is dropped in O(1). Never holds more
  * than k rows — the whole point versus sort-everything approaches.
  */
final class TopKBuffer(val k: Int, val ord: Ordering[InternalRow]) {
  val heap = new java.util.PriorityQueue[InternalRow](math.max(k, 1), ord.reverse)

  /** Whether `r` would enter the buffer: callers copy only survivors. */
  def admits(r: InternalRow): Boolean =
    heap.size < k || ord.compare(r, heap.peek) < 0

  def add(r: InternalRow): Unit =
    if (heap.size < k) { heap.offer(r); () }
    else if (ord.compare(r, heap.peek) < 0) { heap.poll(); heap.offer(r); () }

  def sortedRows: Array[InternalRow] = {
    val arr = heap.toArray(new Array[InternalRow](heap.size))
    java.util.Arrays.sort(arr, ord)
    arr
  }
}

/** Shared struct-row ordering: the first `order.length` fields are
  * compared lexicographically, field i by direction and NULL placement
  * `order(i)` exactly as a Spark `SortOrder` with them sorts; fields
  * past that prefix are payload and never compared. [[TopKStruct]]
  * (aggregate) and [[StructArrayTopK]] (scalar) both rank by it, so the
  * two forms cannot drift.
  */
private[functions] object StructRowOrdering {
  def apply(structType: StructType,
            order: Seq[(SortDirection, NullOrdering)]): Ordering[InternalRow] = {
    require(order.nonEmpty && order.length <= structType.length,
      s"need 1..${structType.length} ordered fields, got ${order.length}")
    new InterpretedOrdering(order.zipWithIndex.map { case ((dir, nulls), i) =>
      SortOrder(BoundReference(i, structType(i).dataType, nullable = true),
        dir, nulls, Seq.empty)
    })
  }
}

/** Top-k rows per group as a single bounded-state aggregate.
  *
  * `child` is a struct whose first `order.length` fields are the sort
  * key, compared by [[StructRowOrdering]]; the remaining fields ride
  * along as payload. The aggregate keeps the k first-ordered structs
  * and emits them as a sorted array, so array position is rank.
  *
  * As a TypedImperativeAggregate it runs inside ObjectHashAggregate
  * with map-side partial aggregation: each task reduces its slice to
  * ≤ k rows per key before the exchange and the final merge combines
  * those local top-ks (the local-top-k-then-global-merge shape). The
  * window form `row_number() OVER (PARTITION BY g ORDER BY …) <= k`
  * limits map-side too — Catalyst plans a partial `WindowGroupLimit`
  * before its exchange — but that operator first SORTS every input row
  * of the task, where the heap compares each row with the current k-th
  * survivor and drops it in O(1). Measured on Spark 4.1 (local[2], C1
  * JIT, k = 10): the heap wins from hundreds of rows per group up
  * (3.5 vs 7.9 s at 100,000 rows per group), the two tie at 400-1,000,
  * and the codegen'd sort wins below (by 11 % to 2× at 5-40 rows per
  * group). [[graft.operators.Ranking.topKPerGroup]] is the row-level
  * operator on top of this aggregate and states the rule for picking.
  *
  * State is O(k) per key and spill-safe (ObjectHashAggregate falls back
  * to sort-based aggregation past the configured key cardinality;
  * serialize/deserialize below is exactly that path).
  */
case class TopKStruct(
    child: Expression,
    k: Int,
    order: Seq[(SortDirection, NullOrdering)],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] with UnaryLike[Expression] {

  require(k > 0, s"top-k needs k > 0, got $k")

  private lazy val structType = child.dataType.asInstanceOf[StructType]

  private lazy val rowOrd: Ordering[InternalRow] =
    StructRowOrdering(structType, order)

  override def dataType: DataType = ArrayType(structType, containsNull = false)

  override def nullable: Boolean = false

  override def prettyName: String = "topk_struct"

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k, rowOrd)

  override def update(buffer: TopKBuffer, input: InternalRow): TopKBuffer = {
    val v = child.eval(input).asInstanceOf[InternalRow]
    if (v != null && buffer.admits(v)) buffer.add(v.copy())
    buffer
  }

  override def merge(buffer: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    val it = other.heap.iterator()
    while (it.hasNext) buffer.add(it.next())
    buffer
  }

  override def eval(buffer: TopKBuffer): Any =
    new GenericArrayData(buffer.sortedRows.asInstanceOf[Array[Any]])

  // Hoisted: serialize() runs once per buffer on the sort-based
  // fallback path, so building the (codegen'd) projection inside it
  // would pay projection compilation per GROUP at high key cardinality
  // — the same pattern Spark's own Collect/ApproximatePercentile use.
  @transient private lazy val serializeProj = UnsafeProjection.create(structType)

  override def serialize(buffer: TopKBuffer): Array[Byte] = {
    val proj = serializeProj
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.heap.size)
    val it = buffer.heap.iterator()
    while (it.hasNext) {
      val bytes = proj(it.next()).getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val buffer = createAggregationBuffer()
    val in = ByteBuffer.wrap(bytes)
    val n = in.getInt
    var i = 0
    while (i < n) {
      val len = in.getInt
      val rowBytes = new Array[Byte](len)
      in.get(rowBytes)
      val row = new UnsafeRow(structType.length)
      row.pointTo(rowBytes, len)
      buffer.add(row)
      i += 1
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKStruct =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): TopKStruct =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): TopKStruct =
    copy(child = newChild)
}

object TopKStruct {

  /** `topk_struct(struct(...), k, order)` as a Column aggregate: the
    * first `order.length` struct fields are the key, each sorted as a
    * Spark `SortOrder` with that direction and NULL placement.
    */
  def topKBy(structCol: Column, k: Int,
             order: Seq[(SortDirection, NullOrdering)]): Column =
    ColumnBridge.column(
      TopKStruct(ColumnBridge.expression(structCol), k, order)
        .toAggregateExpression())

  /** [[topKBy]] keyed on the first `desc.length` fields, field i
    * descending iff `desc(i)`, NULL ranked as the largest value (asc
    * NULLS LAST, desc NULLS FIRST) — the contract the array-valued
    * callers (`marginMining`, `consensusFromCounts`, `bigramGenerate`,
    * `knnOf`) and their oracles were written against.
    */
  def topK(structCol: Column, k: Int, desc: Boolean*): Column =
    topKBy(structCol, k, nullsLargest(desc))

  /** `array_topk_struct(arr, k, desc...)` as a scalar Column — see
    * [[StructArrayTopK]]; `desc` as in the Boolean [[topK]].
    */
  def arrayTopK(arr: Column, k: Int, desc: Boolean*): Column =
    ColumnBridge.column(
      StructArrayTopK(ColumnBridge.expression(arr), k, nullsLargest(desc)))

  private def nullsLargest(desc: Seq[Boolean]): Seq[(SortDirection, NullOrdering)] =
    desc.map(d => if (d) (Descending, NullsFirst) else (Ascending, NullsLast))
}

/** Bounded-heap top-k over an ARRAY of structs — the SCALAR twin of
  * [[TopKStruct]] for the in-row probe shape
  * (`Similarity.ivfProbeStream`, where a streaming plan must do its
  * per-query ranking inside one row to stay stateless): returns the k
  * first-ordered elements of `child` under [[StructRowOrdering]],
  * SORTED, so array position IS
  * rank. O(L·log k) primitive compares over a k-bounded heap — the
  * `array_sort(…, comparator-lambda)` composition this replaces is
  * O(L·log L) INTERPRETED comparator evals (a when-chain expression
  * tree evaluated per comparison), measured at 262 query-rows/s on the
  * ann stream topology at ~2.5k candidates/query before the swap.
  * Ordering parity: doubles rank NaN greatest (so desc puts NaN first,
  * exactly like a `desc("sim")` window sort — the lambda comparator
  * form silently MISORDERED NaN because `>`/`<` are false on NaN).
  * NULL array elements are skipped; a NULL array yields NULL.
  */
case class StructArrayTopK(child: Expression, k: Int,
    order: Seq[(SortDirection, NullOrdering)])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(k > 0, s"top-k needs k > 0, got $k")

  private lazy val elemType = child.dataType.asInstanceOf[ArrayType]
    .elementType.asInstanceOf[StructType]

  private lazy val rowOrd: Ordering[InternalRow] =
    StructRowOrdering(elemType, order)

  override def dataType: DataType = ArrayType(elemType, containsNull = false)

  override def prettyName: String = "array_topk_struct"

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val buf = new TopKBuffer(k, rowOrd)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val r = arr.getStruct(i, elemType.length)
        if (buf.admits(r)) buf.add(r.copy())
      }
      i += 1
    }
    new GenericArrayData(buf.sortedRows.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(newChild: Expression): StructArrayTopK =
    copy(child = newChild)
}
