package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** G1 as a native UDTF (SURVEY §2.8): `graft_flame_rays(bx, by)` emits one
  * row per candidate flame cell, mirroring the reference's asymmetric rays
  * (utils.go:132-175): right/down loops start AT the bomb cell (dist 0..6,
  * so the bomb cell is emitted twice — once per axis, as the reference
  * appends it twice), left/up start one off (dist 1..6); all stop at the
  * grid border (blocking against obstacles stays relational, J4/W2).
  *
  * Plans to GenerateExec exactly like explode — the engine-level integration
  * (lateral view, codegen'd consumers downstream) comes free. Used via
  * `selectExpr("bomb_name", "graft_flame_rays(bx, by)")`.
  */
case class FlameRayGenerator(bx: Expression, by: Expression)
    extends Generator with CodegenFallback {

  private val Width = 30L
  private val Height = 25L
  private val RayLen = 6
  // (name, dx, dy, startDist): R/D start at the bomb cell (utils.go:144,164)
  private val Dirs: Array[(UTF8String, Long, Long, Int)] = Array(
    (UTF8String.fromString("R"), 1L, 0L, 0),
    (UTF8String.fromString("L"), -1L, 0L, 1),
    (UTF8String.fromString("D"), 0L, 1L, 0),
    (UTF8String.fromString("U"), 0L, -1L, 1))

  override def children: Seq[Expression] = Seq(bx, by)

  override def elementSchema: StructType = StructType(Seq(
    StructField("dir", StringType, nullable = false),
    StructField("dist", LongType, nullable = false),
    StructField("fx", LongType, nullable = false),
    StructField("fy", LongType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val x0 = bx.eval(input)
    val y0 = by.eval(input)
    if (x0 == null || y0 == null) return Iterator.empty
    // accept any integral input type (int literals parse as IntegerType)
    val bxv = x0.asInstanceOf[Number].longValue()
    val byv = y0.asInstanceOf[Number].longValue()
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var d = 0
    while (d < Dirs.length) {
      val (name, dx, dy, startDist) = Dirs(d)
      var dist = startDist
      var inside = true
      while (dist <= RayLen && inside) {
        val fx = bxv + dx * dist
        val fy = byv + dy * dist
        if (fx >= 0 && fx < Width && fy >= 0 && fy < Height) {
          out += InternalRow(name, dist.toLong, fx, fy)
          dist += 1
        } else inside = false
      }
      d += 1
    }
    out
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(bx = newChildren(0), by = newChildren(1))
}

object FlameRayGenerator {
  /** Register alongside the scalar natives (idempotent). */
  def ensureRegistered(spark: SparkSession): Unit =
    register(spark, "graft_flame_rays", es => FlameRayGenerator(es(0), es(1)))
}
