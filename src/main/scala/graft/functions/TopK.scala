package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** The one ranking order of every top-k here: score descending, then
  * the key ascending. Scores compare by `java.lang.Double.compare`, a
  * total order, so NaN (what `graft_cosine` gives for a zero vector)
  * ranks first, as in DuckDB's `ORDER BY … DESC`, and the kept set
  * never depends on insertion order. The kernel of
  * [[graft.dedup.Dedup.exactSelf1nn]] ranks by [[before]] as well.
  */
object ScoreOrder {
  /** Negative when score s ranks before score t. */
  def compareScores(s: Double, t: Double): Int = java.lang.Double.compare(t, s)

  /** Whether (s, id) ranks strictly before (t, jd). */
  def before(s: Double, id: Long, t: Double, jd: Long): Boolean = {
    val c = compareScores(s, t)
    c < 0 || (c == 0 && id < jd)
  }

  /** Best first; a max-heap on it keeps the worst kept pair at its head. */
  def best[K](implicit key: Ordering[K]): Ordering[(Double, K)] = (x, y) => {
    val c = compareScores(x._1, y._1)
    if (c != 0) c else key.compare(x._2, y._2)
  }
}

/** Bounded buffer of the k best (score, key) pairs under
  * [[ScoreOrder]]. O(k) memory regardless of input size.
  */
sealed class TopKOf[K: Ordering](val k: Int) {
  private val order = ScoreOrder.best[K]
  private[functions] val heap = scala.collection.mutable.PriorityQueue.empty[(Double, K)](order)

  def add(s: Double, key: K): Unit = {
    if (heap.size < k) heap.enqueue((s, key))
    else if (order.lt((s, key), heap.head)) { heap.dequeue(); heap.enqueue((s, key)) }
  }

  /** Best-first. */
  def sorted: Array[(Double, K)] = heap.toArray.sorted(order)
}

/** Top-k (score desc, id asc) pairs with LONG ids. */
final class TopKBuffer(k: Int) extends TopKOf[Long](k)

/** Aggregate `graft_topk(score, id, k)` → `array<struct<score,id>>`
  * sorted best-first.
  *
  * The scale story for top-k similarity search: with partial
  * aggregation, each map task forwards at most k (score, id) pairs per
  * group instead of its whole score set — a window/row_number plan
  * shuffles and sorts |corpus|×|queries| rows, this shuffles
  * |maptasks|×k. Deterministic under any partitioning (merge order
  * cannot change the k best with total-order tie-breaking).
  */
case class TopKByScore(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  require(k > 0, "k must be positive")

  override def prettyName: String = "graft_topk"
  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType), StructField("id", LongType))),
    containsNull = false)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buf.add(s.asInstanceOf[Double], i.asInstanceOf[Number].longValue())
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    other.heap.foreach { case (s, i) => buf.add(s, i) }
    buf
  }

  override def eval(buf: TopKBuffer): Any =
    new GenericArrayData(buf.sorted.map { case (s, i) =>
      new GenericInternalRow(Array[Any](s, i))
    })

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val items = buf.sorted
    val bb = ByteBuffer.allocate(4 + items.length * 16)
    bb.putInt(items.length)
    items.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKBuffer(k)
    (0 until n).foreach(_ => buf.add(bb.getDouble, bb.getLong))
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKByScore =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByScore =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(score = cs(0), id = cs(1))
}

/** Top-k (score desc, tag asc) pairs with STRING payloads. */
final class TopKStrBuffer(k: Int) extends TopKOf[String](k)

/** Aggregate `graft_topk_str(score, tag, k)` →
  * `array<struct<score,tag>>` best-first: heavy-hitters / top-terms
  * per group WITHOUT a per-group window sort. Same partial-agg scale
  * story as [[TopKByScore]] — each map task forwards ≤k pairs per
  * group, where a row_number window shuffles and sorts every row of
  * every group. Deterministic via total-order (score desc, tag asc)
  * tie-breaking.
  */
case class TopKStrings(
    score: Expression,
    tag: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKStrBuffer] {

  require(k > 0, "k must be positive")

  override def prettyName: String = "graft_topk_str"
  override def children: Seq[Expression] = Seq(score, tag)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType), StructField("tag", StringType))),
    containsNull = false)

  override def createAggregationBuffer(): TopKStrBuffer = new TopKStrBuffer(k)

  override def update(buf: TopKStrBuffer, input: InternalRow): TopKStrBuffer = {
    val s = score.eval(input)
    val t = tag.eval(input)
    if (s != null && t != null)
      buf.add(s.asInstanceOf[Double], t.toString)
    buf
  }

  override def merge(buf: TopKStrBuffer, other: TopKStrBuffer): TopKStrBuffer = {
    other.heap.foreach { case (s, t) => buf.add(s, t) }
    buf
  }

  override def eval(buf: TopKStrBuffer): Any =
    new GenericArrayData(buf.sorted.map { case (s, t) =>
      new GenericInternalRow(Array[Any](s, org.apache.spark.unsafe.types.UTF8String.fromString(t)))
    })

  override def serialize(buf: TopKStrBuffer): Array[Byte] = {
    val items = buf.sorted
    val enc = items.map { case (s, t) => (s, t.getBytes("UTF-8")) }
    val bb = ByteBuffer.allocate(4 + enc.map(12 + _._2.length).sum)
    bb.putInt(enc.length)
    enc.foreach { case (s, tb) => bb.putDouble(s); bb.putInt(tb.length); bb.put(tb) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKStrBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKStrBuffer(k)
    (0 until n).foreach { _ =>
      val s = bb.getDouble
      val len = bb.getInt
      val tb = new Array[Byte](len)
      bb.get(tb)
      buf.add(s, new String(tb, "UTF-8"))
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKStrings =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKStrings =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(score = cs(0), tag = cs(1))
}
