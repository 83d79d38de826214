package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** graft_topk(score, key, k): exact per-group top-k as a
  * TypedImperativeAggregate — the scale-path alternative to
  * `row_number() OVER (ORDER BY score DESC) <= k`:
  * a window sorts and shuffles every row of the group; this aggregate keeps
  * a bounded k-element heap per group, merges heaps map-side (partial
  * aggregation), and ships only k rows per group across the shuffle.
  *
  * Total order: (score DESC, key ASC) — deterministic under ties, so the
  * result is oracle-comparable. Returns array<struct<key string, score
  * bigint>> sorted best-first; explode with posexplode for (rank, key,
  * score) rows.
  */
case class TopKAggregate(
    score: Expression,
    key: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.PriorityQueue[(Long, String)]] {

  // PriorityQueue is a max-heap; order so the head is the WORST kept
  // element (eviction candidate): smallest score, then largest key.
  // Explicit comparator — negating the score would overflow Long.MinValue.
  private val heapOrdering: Ordering[(Long, String)] =
    new Ordering[(Long, String)] {
      def compare(a: (Long, String), b: (Long, String)): Int = {
        val byScore = java.lang.Long.compare(b._1, a._1) // smaller score = greater
        if (byScore != 0) byScore else a._2.compareTo(b._2) // larger key = greater
      }
    }

  override def createAggregationBuffer(): mutable.PriorityQueue[(Long, String)] =
    mutable.PriorityQueue.empty[(Long, String)](heapOrdering)

  private def better(a: (Long, String), b: (Long, String)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

  private def offer(buf: mutable.PriorityQueue[(Long, String)],
                    el: (Long, String)): Unit = {
    if (buf.size < k) buf.enqueue(el)
    else if (better(el, buf.head)) { buf.dequeue(); buf.enqueue(el) }
  }

  override def update(
      buf: mutable.PriorityQueue[(Long, String)],
      input: InternalRow): mutable.PriorityQueue[(Long, String)] = {
    val s = score.eval(input)
    val n = key.eval(input)
    if (s != null && n != null)
      offer(buf, (s.asInstanceOf[Number].longValue(),
        n.asInstanceOf[UTF8String].toString))
    buf
  }

  override def merge(
      buf: mutable.PriorityQueue[(Long, String)],
      other: mutable.PriorityQueue[(Long, String)]): mutable.PriorityQueue[(Long, String)] = {
    other.foreach(offer(buf, _))
    buf
  }

  override def eval(buf: mutable.PriorityQueue[(Long, String)]): Any = {
    val sorted = buf.toSeq.sortWith(better)
    new GenericArrayData(sorted.map { case (s, n) =>
      InternalRow(UTF8String.fromString(n), s)
    })
  }

  override def serialize(buf: mutable.PriorityQueue[(Long, String)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (s, n) =>
      out.writeLong(s)
      val b = n.getBytes("UTF-8")
      out.writeInt(b.length)
      out.write(b)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Long, String)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val s = in.readLong()
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf.enqueue((s, new String(b, "UTF-8")))
      i += 1
    }
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("key", StringType), StructField("score", LongType))))
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(score, key)

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), key = newChildren(1))
}

object TopKAggregate {
  /** Register graft_topk(score, key, k) — k must be a literal int. */
  def ensureRegistered(spark: SparkSession): Unit =
    register(spark, "graft_topk",
      es => TopKAggregate(es(0), es(1), positiveK(es(2), "graft_topk")))
}
