package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.IntegerType

package object functions {

  /** The one body behind every `ensureRegistered`: register `name` in the
    * session's function registry unless it already holds that name. The
    * operators call `ensureRegistered` before each use, so an unconditional
    * create-or-replace would swap the builder (and log a "replaced"
    * warning) on every query. Locked on the registry, whose own methods
    * synchronize on it, so concurrent queries on one session cannot both
    * see the name missing. */
  private[graft] def register(spark: SparkSession, name: String,
                              builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** The `k` argument of a sized aggregate: a positive int literal. */
  private[functions] def positiveK(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) if v > 0 => v
    case other => throw new IllegalArgumentException(
      s"$fn k must be a positive integer literal, got $other")
  }
}
