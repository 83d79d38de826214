package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.RewriteRangeJoin

/** The PRODUCTION registration path: `Session.local` installs
  * `graft.functions.GraftExtensions`, which places the optimizer rules
  * inside the operator-optimization FIXPOINT batch, interleaved with
  * PushPredicateThroughJoin / ColumnPruning / ConstantFolding. These cases
  * run on the shared session and re-assert rewrite firing, result parity
  * against the same join planned without the rule, the non-rewrite scope,
  * and — the interleaving-specific hazard — that a hand-bucketized range
  * join is NOT re-bucketized after pushdown folds its range filter back
  * into the join condition.
  */
class GraftExtensionsSpec extends SparkSuite {

  private val W = 1000L

  private def frames = {
    import spark.implicits._
    val probes = (0L until 400L).map(i => (i, i % 17, (i * 7919) % 50000))
      .toDF("event_id", "k", "tu")
    val build = (0L until 2000L).map(i => ((i * 104729) % 13, (i * 31) % 50000))
      .toDF("k", "btu")
    (probes, build)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def naiveRows(df: => DataFrame): Seq[String] =
    ruleFree(RewriteRangeJoin)(df).map(_.toString).sorted.toSeq

  test("naive inner range join rewrites and matches under real wiring") {
    val (p, b) = frames
    def q = p.as("a").join(b.as("b"),
        col("b.k") === col("a.k") &&
          col("b.btu") >= col("a.tu") - W && col("b.btu") < col("a.tu"))
      .select(col("a.event_id"), col("b.btu"))
    val baseline = naiveRows(q)
    assert(baseline.nonEmpty)
    assert(q.queryExecution.optimizedPlan.toString.contains("__graft_range"),
      "rule did not fire under the session's extension wiring")
    assert(rows(q) === baseline)
  }

  test("probe-preserved left outer rewrites and matches under real wiring") {
    val (p, b) = frames
    def q = p.as("a").join(b.as("b"),
        col("b.k") === col("a.k") &&
          col("b.btu") >= col("a.tu") - W && col("b.btu") < col("a.tu"), "left")
      .select(col("a.event_id"), col("b.btu"))
    val baseline = naiveRows(q)
    assert(baseline.exists(_.contains("null")))
    assert(q.queryExecution.optimizedPlan.toString.contains("__graft_range_rid"))
    assert(rows(q) === baseline)
  }

  test("hand-bucketized range core is not re-bucketized by the fixpoint") {
    // the exact interleaving hazard: PushPredicateThroughJoin folds the
    // post-join range filter into the join condition mid-fixpoint, which
    // then pattern-matches the rule. The time columns are aliased in the
    // Project that also carries each side's bucket key, as a query over
    // event timestamps writes them (tu := unix_micros(ts)); repartition()
    // keeps the local frames from folding those Projects into the
    // LocalRelation
    import spark.implicits._
    def stamped(df: DataFrame) = df.withColumn("ts", timestamp_micros(col("t")))
      .drop("t").repartition(2)
    def probes = stamped((0L until 300L).map(i => (i, i % 7, (i * 7919) % 50000))
      .toDF("event_id", "user_id", "t"))
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tu"))
    def build = stamped((0L until 1500L).map(i => ((i * 104729) % 7, (i * 31) % 50000))
      .toDF("user_id", "t"))
      .select(col("user_id"), unix_micros(col("ts")).as("btu"))
    def inRange = col("btu") >= col("tu") - W && col("btu") < col("tu")
    def hand = probes
      .withColumn("bkt", explode(array(expr(s"tu div $W"), expr(s"tu div $W - 1"))))
      .join(build.withColumn("bkt", expr(s"btu div $W")), Seq("user_id", "bkt"))
      .filter(inRange)
      .groupBy("event_id").agg(count(lit(1)).as("n"))
    val baseline = naiveRows(hand)
    assert(baseline.nonEmpty)
    assert(!hand.queryExecution.optimizedPlan.toString.contains("__graft_range"),
      "hand-bucketized core was re-bucketized under the fixpoint batch")
    assert(rows(hand) === baseline)
    // the same frames joined naively are rewritten: the rule is live here
    val naive = probes.join(build, Seq("user_id")).filter(inRange)
    assert(naive.queryExecution.optimizedPlan.toString.contains("__graft_range"))
  }

  test("scope cases hold under real wiring: equi-only and full outer") {
    val (p, b) = frames
    val equiOnly = p.as("a").join(b.as("b"), col("b.k") === col("a.k"))
    assert(!equiOnly.queryExecution.optimizedPlan.toString
      .contains("__graft_range"))
    val full = p.as("a").join(b.as("b"),
      col("b.k") === col("a.k") &&
        col("b.btu") >= col("a.tu") - W && col("b.btu") < col("a.tu"), "full")
    assert(!full.queryExecution.optimizedPlan.toString
      .contains("__graft_range"))
  }
}
