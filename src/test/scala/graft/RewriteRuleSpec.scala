package graft

import org.apache.spark.sql.functions._
import graft.functions.RewriteDotProduct

/** The optimizer rule, as the shared session runs it: declarative HOF
  * dot products become the native DotProduct expression, with the results
  * of the same query planned without the rule (incl. null/length edges).
  */
class RewriteRuleSpec extends SparkSuite {

  private def hofDot = {
    import spark.implicits._
    Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
        (Array(1.0), Array(2.0)))
      .toDF("x", "y")
      .select(aggregate(zip_with(col("x"), col("y"), (a, b) => a * b),
        lit(0.0), (acc, v) => acc + v).as("dot"))
  }

  test("rule rewrites the HOF idiom to native DotProduct") {
    // plan assertion on a file-backed scan: local literal data gets
    // constant-folded into a LocalRelation before any rule matters
    val fileBacked = Tables.embeddings(spark, smokeDir)
      .select(aggregate(zip_with(
        transform(col("embedding"), x => x.cast("double")),
        transform(col("embedding"), x => x.cast("double")),
        (a, b) => a * b), lit(0.0), (acc, v) => acc + v).as("nsq"))
    val optimized = fileBacked.queryExecution.optimizedPlan.toString
    assert(optimized.toLowerCase.contains("dotproduct"),
      s"rule did not fire:\n$optimized")
    assert(hofDot.collect().map(_.getDouble(0)).toSeq === Seq(32.0, 2.0))
  }

  test("rewritten and un-rewritten results agree on the embeddings table") {
    def nsq = Tables.embeddings(spark, smokeDir)
      .select(col("vec_id"),
        aggregate(zip_with(
          transform(col("embedding"), x => x.cast("double")),
          transform(col("embedding"), x => x.cast("double")),
          (a, b) => a * b), lit(0.0), (acc, v) => acc + v).as("nsq"))
    def byId(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getDouble(1))).toMap
    val hof = byId(ruleFree(RewriteDotProduct, mark = "dotproduct")(nsq))
    assert(nsq.queryExecution.optimizedPlan.toString.contains("dotproduct"))
    assert(byId(nsq.collect()) === hof)
  }
}
