package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Relational-core scale smoke: the join/agg family is the engine's
  * widest surface (21 TPC-H classics + the J/A registry families), but
  * until this tool its 100×-the-testbed claim rested on plan shape
  * (PLANS.md + ScanAudit) and the sf0.1 bench alone — every other
  * family (dedup 10.5M docs, graph 20M edges, ANN/IVF 1M vectors,
  * streaming 80M events) already carries a measured tier. This smoke
  * runs the four physical shapes those queries compile to — wide
  * scan→partial/final HashAggregate (q1_agg's shape), a fact⋈dim
  * shuffle join at a dimension too big to broadcast (q9/q21's shape),
  * a broadcast star join (join_broadcast's shape), and a skewed
  * shuffle join under AQE with ~20% of the fact on ONE key (the
  * regime AqeSkewSmoke proves at the mechanism level) — over a fact
  * frame two orders of magnitude past sf0.1's 600k lineitem rows,
  * with every aggregate EXACT by construction.
  *
  *   N_FACT=102000000 SPARK_DRIVER_MEM=16g \
  *     sbt "runMain graft.tools.RelationalScaleSmoke"
  *
  * Exactness without an oracle at 100M rows: every fact column is a
  * pure residue of the row id (flag = id%3, shipbucket = id%8,
  * qty = 1 + id%50, price_e2 = 100 + id%10000, suppkey = id%S with
  * 25 | S so the joined nation is id%25), so the whole workload is
  * periodic in id with period lcm(24, 50, 10000, 25) = 30000. N is
  * pinned to a multiple of the period and the driver computes every
  * group's expected sum/count by one exact integer loop over the
  * 30000 residues — closed form, not a second engine. All measures
  * are scaled-integer longs (the registry's house discipline), so
  * "matches" means bitwise equality of BIGINTs, under any partial-agg
  * order and any partitioning. The skew variant remaps ids ≡ 0 (mod 5)
  * — 20% of the fact — onto supplier key 42, a single hot key two
  * orders of magnitude above the mean, and requires the same exact
  * per-nation totals; a join that drops, duplicates, or OOMs on the
  * hot partition cannot match. Data is generated distributed
  * (spark.range projections — no driver arrays, no parquet staging:
  * the scan side of the real queries is covered by ScanAudit's
  * PushedFilters/ReadSchema assertions and the sf0.1 bench; what is
  * being bought here is the shuffle/join/agg core at volume in a
  * fixed heap).
  *
  * Recorded (round 13, this machine, local[32], 16g heap,
  * shuffle.partitions=32; min of 2 passes per volume after a 6M-row
  * warmup — single passes swing ±30% on this shared box): half 51M
  * fact rows → agg 2.3 s, shuffle join 4.7 s, broadcast star 2.4 s,
  * skew join 5.9 s (total 15.4 s); full 102M → agg 4.2 s, shuffle
  * join 10.4 s, broadcast star 5.8 s, skew join 12.2 s (total
  * 33.9 s) — 2.20× time for 2.00× rows, heap fixed, nothing
  * pathological (the extra 10% is SMJ sort spill pressure at the
  * larger per-partition volume, visible in both join shapes). The
  * skew join's final adaptive plan shows `SortMergeJoin(skew=true)`
  * over an `AQEShuffleRead skewed` of the hot side at both measured
  * volumes — and honestly does NOT split at the 6M warmup, whose hot
  * key sits below the scaled threshold. All four shapes matched the
  * closed-form totals bitwise at every volume including warmup.
  */
object RelationalScaleSmoke {

  private val Period = 30000L // lcm(3, 8, 50, 10000, 25)
  private val DimS = 1000000L // supplier count; 25 | S keeps nation = id%25

  def main(args: Array[String]): Unit = {
    val targetFact = sys.env.getOrElse("N_FACT", "102000000").toLong
    require(targetFact % (2 * Period) == 0,
      s"N_FACT must be a multiple of ${2 * Period} so half and full runs both cover whole periods")
    val spark = graft.Session.local(conf = Map(
      // dim (1M × 2 longs ≈ 16 MB) must NOT broadcast: the shape under
      // test is the shuffle join a 100 TB deployment's real dimension
      // (too big for broadcast) forces. Both thresholds go to -1 —
      // the adaptive one too, or AQE re-measures the compressed dim
      // shuffle (< 8 MB) at runtime, demotes the join to broadcast, and
      // the skew path silently never runs (observed on this machine).
      // The broadcast-star shape keeps its explicit broadcast() hint.
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      // AQE skew-split thresholds scale with ABSOLUTE partition bytes;
      // production defaults (256 MB) are sized for production shuffles.
      // At this smoke's volume the hot key is ~150 MB compressed, so the
      // thresholds scale down proportionally — the MECHANISM (split the
      // hot partition, keep totals exact) is what is being proved.
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16MB"))
    import spark.implicits._

    /** Exact expected totals from one integer pass over the period. */
    final case class Expected(
        aggQty: Array[Long], aggPrice: Array[Long], aggCount: Array[Long],
        natPrice: Array[Long], natCount: Array[Long],
        skewPrice: Array[Long], skewCount: Array[Long])

    def expected(nFact: Long): Expected = {
      val reps = nFact / Period
      val e = Expected(new Array(3), new Array(3), new Array(3),
        new Array(25), new Array(25), new Array(25), new Array(25))
      var r = 0L
      while (r < Period) {
        val qty = 1 + r % 50
        val price = 100 + r % 10000
        val flag = (r % 3).toInt
        if (r % 8 != 7) {
          e.aggQty(flag) += reps * qty
          e.aggPrice(flag) += reps * price
          e.aggCount(flag) += reps
        }
        val nation = (r % 25).toInt
        e.natPrice(nation) += reps * price
        e.natCount(nation) += reps
        val skewNation = if (r % 5 == 0) (42 % 25).toInt else nation
        e.skewPrice(skewNation) += reps * price
        e.skewCount(skewNation) += reps
        r += 1
      }
      e
    }

    def fact(nFact: Long): DataFrame =
      spark.range(nFact).repartition(32).select(
        (col("id") % 3).as("flag"),
        (col("id") % 8).as("shipbucket"),
        (lit(1L) + col("id") % 50).as("qty"),
        (lit(100L) + col("id") % 10000).as("price_e2"),
        (col("id") % DimS).as("suppkey"),
        when(col("id") % 5 === 0, lit(42L)).otherwise(col("id") % DimS)
          .as("skewkey"))

    // supplier dim: 1M rows, nationkey = suppkey % 25 — big enough that
    // broadcasting it would be the wrong plan at a real deployment's
    // dimension scale (the threshold conf above enforces the honest shape).
    def supplier: DataFrame =
      spark.range(DimS).select(
        col("id").as("s_suppkey"), (col("id") % 25).as("s_nationkey"))

    // nation dim: 25 rows — the ALWAYS-broadcast side of the star.
    def nation: DataFrame =
      spark.range(25).select(
        col("id").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"))

    def checkGroups(
        rows: Array[(Int, Long, Long)], expP: Array[Long], expC: Array[Long],
        shape: String): Unit = {
      assert(rows.length == expP.count(_ > 0),
        s"$shape: ${rows.length} groups != ${expP.count(_ > 0)}")
      rows.foreach { case (k, p, c) =>
        assert(p == expP(k) && c == expC(k),
          s"$shape: group $k got (sum=$p, n=$c), expected (${expP(k)}, ${expC(k)})")
      }
    }

    def run(nFact: Long): Double = {
      val e = expected(nFact)
      val f = fact(nFact)

      // 1. q1_agg shape: pushed-style filter → partial/final HashAggregate.
      var t0 = System.nanoTime()
      val agg = f.filter(col("shipbucket") =!= 7)
        .groupBy("flag")
        .agg(sum("qty").as("sum_qty"), sum("price_e2").as("sum_price_e2"),
             count(lit(1)).as("n"))
        .collect()
      val tAgg = (System.nanoTime() - t0) / 1e9
      assert(agg.length == 3, s"agg: ${agg.length} groups != 3")
      agg.foreach { row =>
        val k = row.getLong(0).toInt
        assert(row.getLong(1) == e.aggQty(k) && row.getLong(2) == e.aggPrice(k)
            && row.getLong(3) == e.aggCount(k),
          s"agg: flag $k got (${row.getLong(1)}, ${row.getLong(2)}, ${row.getLong(3)}), " +
            s"expected (${e.aggQty(k)}, ${e.aggPrice(k)}, ${e.aggCount(k)})")
      }

      // 2. q9/q21 shape: fact ⋈ 1M-row dim on the shuffle path (dim is
      //    above the broadcast threshold by construction), agg by nation.
      t0 = System.nanoTime()
      val joined = f.join(supplier, col("suppkey") === col("s_suppkey"))
        .groupBy("s_nationkey")
        .agg(sum("price_e2").as("sum_price_e2"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1), r.getLong(2)))
      val tJoin = (System.nanoTime() - t0) / 1e9
      checkGroups(joined, e.natPrice, e.natCount, "shuffle-join")

      // 2b. top-k over the same agg — the ranking is strict by
      //     construction (class sums differ by 400·k per period).
      val top5 = joined.sortBy(-_._2).take(5).map(_._1)
      val expTop5 = e.natPrice.zipWithIndex.sortBy(-_._1).take(5).map(_._2)
      assert(top5.sameElements(expTop5),
        s"top-5 nations ${top5.mkString(",")} != expected ${expTop5.mkString(",")}")

      // 3. join_broadcast shape: star with the 25-row dim broadcast.
      t0 = System.nanoTime()
      val star = f.join(broadcast(nation), col("suppkey") % 25 === col("n_nationkey"))
        .groupBy("n_nationkey")
        .agg(sum("price_e2").as("sum_price_e2"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1), r.getLong(2)))
      val tStar = (System.nanoTime() - t0) / 1e9
      checkGroups(star, e.natPrice, e.natCount, "broadcast-star")

      // 4. skew shape: 20% of the fact lands on supplier 42 — one key two
      //    orders of magnitude above the mean; AQE must split it and the
      //    totals must still be exact.
      t0 = System.nanoTime()
      val skewDf = f.join(supplier, col("skewkey") === col("s_suppkey"))
        .groupBy("s_nationkey")
        .agg(sum("price_e2").as("sum_price_e2"), count(lit(1)).as("n"))
      val skew = skewDf.collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1), r.getLong(2)))
      val tSkew = (System.nanoTime() - t0) / 1e9
      checkGroups(skew, e.skewPrice, e.skewCount, "skew-join")
      // AQE marks a split hot partition on the shuffle read node
      // ("AQEShuffleRead ... skewed") and the join node (skew=true).
      val skewPlan = skewDf.queryExecution.executedPlan.toString
      println(s"[smoke] relational: AQE skew split engaged = ${skewPlan.contains("skew=true")}")
      skewPlan.linesIterator
        .filter(l => l.contains("Join") || l.contains("AQEShuffleRead"))
        .foreach(l => println(s"[smoke]   ${l.trim.take(160)}"))

      println(f"[smoke] relational: n=$nFact agg=$tAgg%.1f s shuffleJoin=$tJoin%.1f s " +
        f"star=$tStar%.1f s skewJoin=$tSkew%.1f s")
      tAgg + tJoin + tStar + tSkew
    }

    run(2 * Period * 100) // warmup: JIT + codegen caches, excluded from the read
    // min of 2 passes per volume: local-disk shuffle and GC noise swing
    // single passes ±30%; the min is the machine's repeatable floor.
    val sHalf = math.min(run(targetFact / 2), run(targetFact / 2))
    val sFull = math.min(run(targetFact), run(targetFact))
    println(f"[smoke] relational: half total=$sHalf%.1f s, full total=$sFull%.1f s " +
      f"(${sFull / sHalf}%.2f× time for 2× rows)")
    spark.stop()
  }
}
