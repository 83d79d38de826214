package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM per `sbt test` fork). */
object SparkSuite {
  /** Fixed, not SPARK_GRAFT_CPUS: plan-shape and partition-count
    * assertions are written against four workers. */
  val Workers = 4
  lazy val spark: SparkSession = Session.local(workers = Workers)
  val smokeDir = "/root/testdata/sf0.001"
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark
  def smokeDir: String = SparkSuite.smokeDir

  /** Collect `df` planned without `rule`, asserting its optimized plan
    * holds no `mark` of a rewrite: the rule-free baseline a rewrite is
    * compared with. The shared session runs graft's optimizer rules, so a
    * baseline planned unguarded would compare a rule with itself. */
  def ruleFree(rule: Rule[LogicalPlan], mark: String = "__graft_")(
      df: => DataFrame): Array[Row] =
    Session.withoutRule(spark, rule) {
      val d = df
      val plan = d.queryExecution.optimizedPlan.toString
      assert(!plan.contains(mark), s"${rule.ruleName} rewrote the baseline:\n$plan")
      d.collect()
    }
}
