package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** graft_qsketch(hash, value, k): a mergeable RANK (quantile) sketch as a
  * TypedImperativeAggregate — the bounded-state path for per-group
  * percentiles over unbounded value domains, the sibling of graft_kmv for
  * ranks instead of cardinalities. The buffer keeps the k pairs with the
  * SMALLEST (hash, value) — a bottom-k uniform sample keyed by an explicit
  * row hash — so partials merge map-side and only ≤ k (long, long) pairs
  * per group cross the shuffle; the empirical quantiles of the kept values
  * estimate the population quantiles with O(1/√k) error.
  *
  * Why bottom-k sampling and not a KLL compactor: KLL reaches O(1/k)
  * error by coin-flip compaction, which makes the kept set depend on the
  * MERGE ORDER of partial buffers — under Spark's nondeterministic
  * partial aggregation no KLL result can hash-match a relational oracle.
  * The bottom-k-by-hash sample is a pure set operation (smallest k
  * distinct (h, v) pairs of the union), so the sketch is bit-identical
  * under any partitioning and any merge order, and DuckDB replays it
  * exactly with a rank window over the distinct (h, v) pairs. Exact
  * quantile state (`quantile_histogram`) needs the value range up front;
  * this sketch does not — the trade the 100 TB p99 dashboard makes.
  *
  * Returns the kept VALUES sorted ascending (array<bigint>): the consumer
  * reads rank ⌈q·n⌉ (1-indexed) for quantile q — integer arithmetic when
  * q is a terminating ratio, so estimates hash-match across engines. When
  * fewer than k pairs are kept the sketch saw every row and the empirical
  * quantile is exact.
  */
case class QuantileSketchAggregate(
    hash: Expression,
    value: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.TreeSet[(Long, Long)]] {

  override def createAggregationBuffer(): mutable.TreeSet[(Long, Long)] =
    mutable.TreeSet.empty[(Long, Long)]

  private def offer(buf: mutable.TreeSet[(Long, Long)], p: (Long, Long)): Unit = {
    if (buf.size < k) buf += p
    else if (Ordering[(Long, Long)].lt(p, buf.last) && !buf.contains(p)) {
      buf -= buf.last; buf += p
    }
  }

  override def update(
      buf: mutable.TreeSet[(Long, Long)], input: InternalRow): mutable.TreeSet[(Long, Long)] = {
    val h = hash.eval(input)
    val v = value.eval(input)
    if (h != null && v != null)
      offer(buf, (h.asInstanceOf[Number].longValue(), v.asInstanceOf[Number].longValue()))
    buf
  }

  override def merge(
      buf: mutable.TreeSet[(Long, Long)],
      other: mutable.TreeSet[(Long, Long)]): mutable.TreeSet[(Long, Long)] = {
    other.foreach(offer(buf, _))
    buf
  }

  /** Kept values sorted ASCENDING BY VALUE (the rank order quantile
    * selection needs), independent of the hash order that chose them. */
  override def eval(buf: mutable.TreeSet[(Long, Long)]): Any =
    new GenericArrayData(buf.toArray.map(_._2).sorted)

  override def serialize(buf: mutable.TreeSet[(Long, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (h, v) => out.writeLong(h); out.writeLong(v) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[(Long, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) { buf += ((in.readLong(), in.readLong())); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(LongType)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(hash, value)

  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileSketchAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileSketchAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(hash = newChildren(0), value = newChildren(1))
}

object QuantileSketchAggregate {
  /** Register graft_qsketch(hash, value, k) — k must be a literal int. */
  def ensureRegistered(spark: SparkSession): Unit =
    register(spark, "graft_qsketch",
      es => QuantileSketchAggregate(es(0), es(1), positiveK(es(2), "graft_qsketch")))
}
