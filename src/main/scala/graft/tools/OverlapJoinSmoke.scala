package graft.tools

import org.apache.spark.sql.functions._

/** Interval-overlap scale smoke: run the bucketized interval×interval join
  * (RelationalOps.overlapPairsBucketed) over a synthetic interval set
  * orders of magnitude bigger than the testbed, assert the physical plan
  * is the co-partitioned shuffled hash join (never a nested loop, never a
  * broadcast of the exploded side), and cross-check pair counts against
  * the naive non-equi self-join on a deterministic key subsample (the
  * naive plan is quadratic per key — running it over all keys is the
  * failure mode the operator exists to avoid).
  *
  *   N_INTERVALS=2000000 N_KEYS=20000 sbt "runMain graft.tools.OverlapJoinSmoke"
  *
  * Intervals are generated distributed (xxhash64-derived key/start/length,
  * no driver data) over a 2000-day span with lengths ≤ OverlapBucketDays,
  * honoring the operator's e − s ≤ B contract. Default geometry: ~100
  * intervals/key over 40 buckets ≈ 2.5 rows per (key, bucket) — realistic
  * occupancy, bounded fan-out.
  */
object OverlapJoinSmoke {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("N_INTERVALS", "2000000").toLong
    val keys = sys.env.getOrElse("N_KEYS", "20000").toLong
    val spark = graft.Session.local()

    val B = graft.operators.RelationalOps.OverlapBucketDays
    val iv = spark.range(n).repartition(32)
      .select(
        pmod(xxhash64(col("id"), lit(1)), lit(keys)).as("key"),
        col("id"),
        pmod(xxhash64(col("id"), lit(2)), lit(2000L)).as("s"))
      .withColumn("e", col("s") + pmod(xxhash64(col("id"), lit(3)), lit(B)))

    val pairs = graft.operators.RelationalOps.overlapPairsBucketed(iv)
    val physical = pairs.queryExecution.executedPlan.toString
    assert(!physical.contains("NestedLoop"),
      s"overlap join degraded to a nested loop:\n$physical")
    assert(physical.contains("ShuffledHashJoin"),
      s"overlap join lost its co-partitioned shuffled hash join:\n$physical")

    val t0 = System.nanoTime()
    val total = pairs.agg(count(lit(1)).as("n_pairs")).collect()(0).getLong(0)
    val secs = (System.nanoTime() - t0) / 1e9

    // correctness parity on a deterministic key subsample (~20 keys): the
    // naive quadratic join is safe within a few keys' rows only
    val stride = math.max(1L, keys / 20L)
    val sIv = iv.filter(pmod(col("key"), lit(stride)) === 0)
    val sBucketized = graft.operators.RelationalOps.overlapPairsBucketed(sIv)
      .groupBy("key").agg(count(lit(1)).as("n_pairs"))
    val sNaive = sIv.alias("a")
      .join(sIv.alias("b"),
        col("a.key") === col("b.key") && col("a.id") < col("b.id") &&
          col("a.s") <= col("b.e") && col("b.s") <= col("a.e"))
      .groupBy(col("a.key").as("key")).agg(count(lit(1)).as("n_pairs"))
    val diff = sBucketized.except(sNaive).count() +
      sNaive.except(sBucketized).count()

    println(f"OVERLAPJOIN intervals=$n%d keys=$keys%d pairs=$total%d " +
      f"${secs}%.2f s ${n / secs / 1e6}%.2f M intervals/s " +
      f"subsample_diff=$diff%d")
    assert(diff == 0, s"bucketized != naive on the key subsample ($diff rows)")
    assert(total > 0, "no overlapping pairs — generator geometry broken")
    spark.stop()
  }
}
