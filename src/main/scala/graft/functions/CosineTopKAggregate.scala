package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** graft_cosine_topk(score, id, k): exact per-group top-k over a DOUBLE
  * score with a LONG id tiebreak — the fused score+rank stage for the ANN
  * per-query rankers (the double-score sibling of [[TopKAggregate]]).
  *
  * Replaces `row_number() OVER (PARTITION BY query ORDER BY cos DESC, id)`:
  * the window shuffles and sorts EVERY scored candidate; this aggregate
  * keeps a bounded k-element heap per query, merges heaps map-side (partial
  * aggregation), and ships only k rows per query across the shuffle — at
  * 100 TB the candidate set per query is corpus-sized, the heap is k.
  *
  * Total order: (score DESC, id ASC) — deterministic under ties, identical
  * to the window form, so results stay oracle-comparable. Returns
  * array<struct<id bigint, score double>> sorted best-first; posexplode
  * yields (rank-1, id, score).
  */
case class CosineTopKAggregate(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  // head = WORST kept element (eviction candidate): smallest score, then
  // largest id. Double.compare gives a NaN-safe total order.
  private val heapOrdering: Ordering[(Double, Long)] =
    new Ordering[(Double, Long)] {
      def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val byScore = java.lang.Double.compare(b._1, a._1)
        if (byScore != 0) byScore else java.lang.Long.compare(a._2, b._2)
      }
    }

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty[(Double, Long)](heapOrdering)

  private def better(a: (Double, Long), b: (Double, Long)): Boolean = {
    val c = java.lang.Double.compare(a._1, b._1)
    c > 0 || (c == 0 && a._2 < b._2)
  }

  private def offer(buf: mutable.PriorityQueue[(Double, Long)],
                    el: (Double, Long)): Unit = {
    if (buf.size < k) buf.enqueue(el)
    else if (better(el, buf.head)) { buf.dequeue(); buf.enqueue(el) }
  }

  override def update(
      buf: mutable.PriorityQueue[(Double, Long)],
      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val s = score.eval(input)
    val n = id.eval(input)
    if (s != null && n != null)
      offer(buf, (s.asInstanceOf[Number].doubleValue(),
        n.asInstanceOf[Number].longValue()))
    buf
  }

  override def merge(
      buf: mutable.PriorityQueue[(Double, Long)],
      other: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    other.foreach(offer(buf, _))
    buf
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any = {
    val sorted = buf.toSeq.sortWith(better)
    new GenericArrayData(sorted.map { case (s, n) => InternalRow(n, s) })
  }

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (s, n) => out.writeDouble(s); out.writeLong(n) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) { buf.enqueue((in.readDouble(), in.readLong())); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType), StructField("score", DoubleType))))
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(score, id)
  // Fail at analysis, not with an executor ClassCastException. update() reads
  // score via Number.doubleValue and id via Number.longValue, so accept
  // exactly the types that box to java.lang.Number and don't truncate:
  // any non-decimal numeric score, any integral id. (AbstractDataType is
  // private[sql], so this is spelled as a concrete-type check rather than
  // ExpectsInputTypes.)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    def bad(what: String, dt: DataType, want: String) =
      TypeCheckResult.TypeCheckFailure(
        s"graft_cosine_topk $what requires $want, got ${dt.catalogString}")
    score.dataType match {
      case DoubleType | FloatType | LongType | IntegerType | ShortType | ByteType =>
        id.dataType match {
          case LongType | IntegerType | ShortType | ByteType =>
            TypeCheckResult.TypeCheckSuccess
          case dt => bad("id", dt, "an integral type")
        }
      case dt => bad("score", dt, "a non-decimal numeric type")
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CosineTopKAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CosineTopKAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), id = newChildren(1))
}

object CosineTopKAggregate {
  /** Register graft_cosine_topk(score, id, k) — k must be a literal int. */
  def ensureRegistered(spark: SparkSession): Unit =
    register(spark, "graft_cosine_topk",
      es => CosineTopKAggregate(es(0), es(1), positiveK(es(2), "graft_cosine_topk")))
}
