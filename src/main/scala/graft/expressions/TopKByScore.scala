package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Bounded top-k aggregate: keeps the k highest-scoring (score, id)
  * pairs, ties broken by smaller id — exactly the order
  * `row_number() OVER (ORDER BY score DESC, id)` produces, but as a
  * `TypedImperativeAggregate`, so Spark runs it MAP-SIDE first: each
  * input partition reduces to ≤ k candidates before the shuffle.
  *
  * This is the 100 TB shape for per-query top-k: the window-function
  * formulation shuffles every scored row to the query's reducer
  * (shuffle volume = |corpus| × |queries|); this aggregate shuffles
  * ≤ partitions × k rows per query.
  *
  * The id is a bigint or a string, and Catalyst does everything that
  * depends on its type: the id ordering (UTF-8 byte order for
  * strings, Spark's string sort), the copy of a reused `UTF8String`,
  * and the partial buffer's serialized form. Scores order like Spark's
  * DESC sort: NaN first, `0.0 = -0.0`. Rows with a null score or id are
  * skipped.
  *
  * Output: array<struct<score double, id <id type>>> sorted score
  * desc, id asc.
  */
case class TopKByScore(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] with ExpectsInputTypes {

  require(k > 0, "k must be positive")

  override def children: Seq[Expression] = Seq(score, id)
  override def inputTypes =
    Seq(DoubleType, Bridge.exactly(LongType, StringType))
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", id.dataType, nullable = false))), containsNull = false)
  override def prettyName: String = "top_k_by_score"

  @transient private lazy val idOrdering =
    TypeUtils.getInterpretedOrdering(id.dataType)
  // a partial buffer travels as its emitted array, in UnsafeRow form
  @transient private lazy val toUnsafe =
    UnsafeProjection.create(Array[DataType](dataType))

  override def createAggregationBuffer(): TopKBuffer =
    new TopKBuffer(k, idOrdering)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    // most rows lose on score alone; their id is never read
    if (s != null && buf.mayAdmit(s.asInstanceOf[Double])) {
      val i = id.eval(input)
      if (i != null) buf.offer(s.asInstanceOf[Double], i)
    }
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    other.items.foreach { case (s, i) => buf.offer(s, i) }
    buf
  }

  override def eval(buf: TopKBuffer): Any =
    new GenericArrayData(buf.sortedDesc.map { case (s, i) => InternalRow(s, i) })

  override def serialize(buf: TopKBuffer): Array[Byte] =
    toUnsafe(InternalRow(eval(buf))).getBytes

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    val pairs = row.getArray(0)
    val buf = createAggregationBuffer()
    var j = 0
    while (j < pairs.numElements()) {
      val p = pairs.getStruct(j, 2)
      buf.offer(p.getDouble(0), p.get(1, id.dataType))
      j += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopKByScore =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKByScore =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(score = newChildren(0), id = newChildren(1))
}

object TopKByScore {

  /** The aggregate over `score` (double) and `id` (bigint or string),
    * as a column for `agg` (SQL `top_k_by_score`).
    */
  def apply(score: Column, id: Column, k: Int): Column =
    Bridge.column(new TopKByScore(Bridge.expression(score),
      Bridge.expression(id), k).toAggregateExpression())
}

/** Bounded heap of (score, id) whose head is the WORST kept pair —
  * lowest score, ties by larger id — so the kept set is the first k
  * pairs of the (score DESC, id ASC) emission order.
  */
final class TopKBuffer(k: Int, idOrdering: Ordering[Any]) {

  /** Negative when `a` is emitted before `b`. */
  private def rank(as: Double, ai: Any, bs: Double, bi: Any): Int = {
    val c = SQLOrderingUtil.compareDoubles(bs, as)
    if (c != 0) c else idOrdering.compare(ai, bi)
  }

  private val heap = new java.util.PriorityQueue[(Double, Any)](
    k, (a: (Double, Any), b: (Double, Any)) => rank(b._1, b._2, a._1, a._2))

  /** False when a pair with this score cannot be kept, whatever its id. */
  def mayAdmit(score: Double): Boolean =
    heap.size < k || SQLOrderingUtil.compareDoubles(score, heap.peek()._1) >= 0

  /** Offer a pair; an admitted id is copied, since the caller's value
    * (a scan's `UTF8String`) may be reused for the next row.
    */
  def offer(score: Double, id: Any): Unit =
    if (heap.size < k) heap.offer((score, InternalRow.copyValue(id)))
    else {
      val worst = heap.peek()
      if (rank(score, id, worst._1, worst._2) < 0) {
        heap.poll()
        heap.offer((score, InternalRow.copyValue(id)))
      }
    }

  def items: Array[(Double, Any)] = heap.toArray(Array.empty[(Double, Any)])

  /** (score desc, id asc) — the emission order. */
  def sortedDesc: Array[(Double, Any)] =
    items.sortWith((a, b) => rank(a._1, a._2, b._1, b._2) < 0)
}
