package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.RelationalOps

/** Range-join scale smoke: run `join_range_bucketed`'s naive range join
  * (RelationalOps.recentCount) over a synthetic event stream orders of
  * magnitude bigger than the testbed, assert that the session's
  * RewriteRangeJoin bucketed it and that the plan never degrades to a
  * nested loop, and cross-check correctness against a LEFT range join
  * planned without the rule on a subsample (the rule-free plan is the
  * quadratic baseline the rule exists to avoid — running it at full N is
  * the failure mode, so it only sees the subsample).
  *
  *   N_EVENTS=2000000 N_USERS=10000 sbt "runMain graft.tools.RangeJoinSmoke"
  *
  * Events are generated distributed (xxhash64-derived users/timestamps,
  * no driver data) over a 30-day window; 1 in 5 is a probe ("purchase"),
  * the rest build ("click"). Expected matches per probe ≈ clicks per
  * user per day ≈ N·0.8/(users·30), so the default geometry exercises
  * real fan-out without blowing up the expected output.
  */
object RangeJoinSmoke {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("N_EVENTS", "2000000").toLong
    val users = sys.env.getOrElse("N_USERS", "10000").toLong
    val spark = graft.Session.local()

    val dayUs = 86400000000L
    val events = spark.range(n).repartition(32)
      .select(col("id").as("event_id"),
        pmod(xxhash64(col("id"), lit(1)), lit(users)).as("user_id"),
        pmod(xxhash64(col("id"), lit(2)), lit(30L * dayUs)).as("tu"),
        (pmod(xxhash64(col("id"), lit(3)), lit(5)) === 0).as("is_probe"))
    val probes = events.filter(col("is_probe"))
      .select("event_id", "user_id", "tu")
    val build = events.filter(!col("is_probe"))
      .select(col("user_id"), col("tu").as("btu"))

    val bucketized = RelationalOps.recentCount(probes, build)
    val optimized = bucketized.queryExecution.optimizedPlan.toString
    assert(optimized.contains("__graft_range"),
      s"the range rule did not bucket the join:\n$optimized")
    val physical = bucketized.queryExecution.executedPlan.toString
    assert(!physical.contains("NestedLoop"),
      s"bucketized range join degraded to a nested loop:\n$physical")

    val t0 = System.nanoTime()
    val total = bucketized.agg(
      count(lit(1)).as("n_probes"), sum("n_recent_clicks").as("n_matches"))
      .collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9

    // correctness parity on a deterministic ~50k-event subsample
    // (stride floored at 1 so a small N_EVENTS run keeps every probe
    // instead of dividing by zero); each side is planned and collected
    // on its own, since one plan holding both would run the rule on both
    def rows(df: DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val sProbes = probes.filter(
      pmod(col("event_id"), lit(math.max(1L, n / 50000L))) === 0)
    val sBucketized = rows(RelationalOps.recentCount(sProbes, build))
    val sNaive = graft.Session.withoutRule(spark, graft.plans.RewriteRangeJoin) {
      val naive = sProbes.alias("a")
        .join(build.alias("b"),
          col("b.user_id") === col("a.user_id") &&
            col("btu") >= col("tu") - RelationalOps.RangeBucketUs &&
            col("btu") < col("tu"), "left")
        .groupBy(col("a.event_id").as("event_id"))
        .agg(count(col("btu")).as("n_recent_clicks"))
      val plan = naive.queryExecution.optimizedPlan.toString
      assert(!plan.contains("__graft_"), s"the baseline was rewritten:\n$plan")
      rows(naive)
    }
    val diff = sBucketized.diff(sNaive).size + sNaive.diff(sBucketized).size

    println(f"RANGEJOIN events=$n%d users=$users%d " +
      f"probes=${total.getLong(0)}%d matches=${total.getLong(1)}%d " +
      f"${secs}%.2f s ${n / secs / 1e6}%.2f M events/s subsample_diff=$diff%d")
    assert(diff == 0, s"bucketized != naive on the subsample ($diff rows)")
    assert(total.getLong(1) > 0, "no matches — generator geometry broken")
    spark.stop()
  }
}
