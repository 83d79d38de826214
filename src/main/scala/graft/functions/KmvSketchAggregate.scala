package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** graft_kmv(hash, k): the K-minimum-values distinct-count sketch as a
  * TypedImperativeAggregate — the scale path for approximate
  * count-distinct. The buffer is the set of the k SMALLEST DISTINCT hash
  * values seen; duplicates collapse inside the bounded buffer, partials
  * merge map-side, and only ≤ k longs per group cross the shuffle — a
  * `count(DISTINCT x)` by contrast shuffles the whole distinct key set.
  *
  * Returns the kept values sorted ascending (array<bigint>), so the
  * consumer derives both branches of the KMV estimator deterministically:
  * fewer than k kept values means the sketch saw the whole distinct set
  * (size IS the exact count); exactly k means estimate
  * `(k−1)·2³² div kth_min` for a hash uniform on [0, 2³²) — integer
  * arithmetic, bit-identical in DuckDB (which mirrors via a rank window
  * over the distinct hashes: same kept set, same kth value).
  *
  * Unlike approx_count_distinct (HLL, engine-private bit packing), every
  * intermediate here is plain integer arithmetic on an explicit hash, so
  * the estimate itself is oracle-checkable.
  */
case class KmvSketchAggregate(
    hash: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.TreeSet[Long]] {

  override def createAggregationBuffer(): mutable.TreeSet[Long] =
    mutable.TreeSet.empty[Long]

  private def offer(buf: mutable.TreeSet[Long], h: Long): Unit = {
    if (buf.size < k) buf += h
    else if (h < buf.last && !buf.contains(h)) { buf -= buf.last; buf += h }
  }

  override def update(buf: mutable.TreeSet[Long], input: InternalRow): mutable.TreeSet[Long] = {
    val h = hash.eval(input)
    if (h != null) offer(buf, h.asInstanceOf[Number].longValue())
    buf
  }

  override def merge(buf: mutable.TreeSet[Long], other: mutable.TreeSet[Long]): mutable.TreeSet[Long] = {
    other.foreach(offer(buf, _))
    buf
  }

  override def eval(buf: mutable.TreeSet[Long]): Any =
    new GenericArrayData(buf.toArray) // TreeSet iterates ascending

  override def serialize(buf: mutable.TreeSet[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach(out.writeLong)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) { buf += in.readLong(); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(LongType)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(hash)

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(hash = newChildren(0))
}

object KmvSketchAggregate {
  /** Register graft_kmv(hash, k) — k must be a literal int. */
  def ensureRegistered(spark: SparkSession): Unit =
    register(spark, "graft_kmv",
      es => KmvSketchAggregate(es(0), positiveK(es(1), "graft_kmv")))
}
