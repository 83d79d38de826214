package graft

import org.apache.spark.sql.SparkSession
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
}
