package graft.tools

import org.apache.spark.sql.execution.{PartialReducerPartitionSpec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** AQE skew-join smoke — the POSITIVE twin of AqeSkewSpec's discovery
  * that aggregate-fed joins cannot be skew-split. This plants a hot key
  * in a SCAN-FED join at smoke scale and asserts the split actually
  * fires, with the skew-partition metrics read out of the final adaptive
  * plan (not just a substring match):
  *
  *   N_LEFT=2000000 sbt "runMain graft.tools.AqeSkewSmoke"
  *
  * The working shape, per the AqeSkewSpec discoveries the scaladocs cite
  * in both directions:
  *   - the join inputs are parquet SCANS (runtime stats come from real
  *     shuffle files, and no upstream aggregate fuses into the shuffle
  *     stage to impose a distribution requirement);
  *   - the wide `pad` column is REFERENCED DOWNSTREAM (sum of lengths),
  *     so column pruning cannot empty the hot partition's bytes;
  *   - the downstream aggregate is GLOBAL — a groupBy on the join key
  *     would re-impose hash distribution on that key and forbid the
  *     split (that is the negative case's mechanism).
  *
  * 95% of the left rows share one key, so one of the 32 reduce
  * partitions carries ~95% of the shuffle bytes; with the smoke-scaled
  * thresholds AQE must rewrite the sort-merge join's hot side into
  * multiple PartialReducerPartitionSpec slices, and the join must report
  * isSkewJoin. At 100 TB the same mechanism handles the hot keys you
  * did NOT predict — salting (agg_salted_skew) remains the answer for
  * the ones you did.
  */
object AqeSkewSmoke {
  /** Every node in the final adaptive plan, descending into materialized
    * query stages (plain .collect stops at stage boundaries). */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val below = p match {
      case q: QueryStageExec => q.plan +: p.children
      case _ => p.children
    }
    p +: below.flatMap(allNodes)
  }

  def main(args: Array[String]): Unit = {
    val nLeft = sys.env.getOrElse("N_LEFT", "2000000").toLong
    val spark = graft.Session.local(conf = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // smoke-scaled thresholds (defaults are 256MB/5x — correct at
      // production scale, unreachable in a laptop-sized smoke)
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8MB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4MB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")) // force SMJ

    val dir = s"/tmp/aqe_skew_smoke_${java.util.UUID.randomUUID().toString.take(8)}"
    // left: hot key 7 carries 95% of rows, 64-byte pad; right: uniform
    spark.range(nLeft).repartition(32)
      .select(
        when(col("id") % 20 =!= 0, 7L)
          .otherwise(pmod(col("id"), lit(1000L))).as("k"),
        concat(lit("x" * 64), col("id")).as("pad"))
      .write.mode("overwrite").parquet(s"$dir/left")
    spark.range(1000).select(col("id").as("k"), lit(1L).as("v"))
      .write.mode("overwrite").parquet(s"$dir/right")

    val joined = spark.read.parquet(s"$dir/left")
      .join(spark.read.parquet(s"$dir/right"), "k")
      .agg(sum(length(col("pad"))).as("bytes"), count(lit(1)).as("rows"))

    val t0 = System.nanoTime()
    val row = joined.collect()(0) // execute so AQE finalizes the plan
    val secs = (System.nanoTime() - t0) / 1e9

    val finalPlan = joined.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val nodes = allNodes(finalPlan)
    val skewJoins = nodes.collect {
      case s: SortMergeJoinExec if s.isSkewJoin => s
    }
    val splitCounts = nodes.collect { case r: AQEShuffleReadExec =>
      r.partitionSpecs.count(_.isInstanceOf[PartialReducerPartitionSpec])
    }
    val totalSplits = splitCounts.sum

    assert(row.getLong(1) == nLeft,
      s"join lost rows: ${row.getLong(1)} of $nLeft")
    assert(skewJoins.nonEmpty,
      s"no SortMergeJoin reported isSkewJoin:\n$finalPlan")
    assert(totalSplits > 1,
      s"hot partition was not split (PartialReducer specs: $splitCounts):\n$finalPlan")

    println(f"[aqe-skew-smoke] rows=$nLeft joined=${row.getLong(1)} " +
      f"in $secs%.1fs; skew joins=${skewJoins.size} " +
      s"partial-reducer splits per AQE read=${splitCounts.mkString("[", ",", "]")} " +
      s"(total $totalSplits)")

    // cleanup the scratch tables
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    spark.stop()
  }
}
