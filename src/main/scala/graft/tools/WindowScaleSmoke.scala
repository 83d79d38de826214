package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-family scale smoke: the analytics/window queries (window_session,
  * window_running_sum/drawdown/lag_delta, window_latest_per_key, topk_*,
  * funnel/transition/retention) all compile to ONE physical shape — a
  * shuffle on the partition key into WindowExec, which buffers each key's
  * rows and spills via ExternalAppendOnlyUnsafeRowArray when a key
  * outgrows memory — and it was the last registry family without a
  * measured scale tier (relational 102M, dedup 10.5M, graph 20M edges,
  * ANN/IVF 1M, streaming 80M, sketches 150M). This smoke runs the three
  * regimes that matter at 100 TB over a synthetic event frame whose every
  * value is a pure residue of the row id, so every check is an exact
  * BIGINT equality computed by a driver integer loop — no oracle, no
  * tolerance:
  *
  *  1. sessionization (two STACKED windows: lag → gap flag → running
  *     count), u = id mod U users × s = id div U events each, the
  *     inter-event gap 3600 s at every 5th event and 60 s otherwise, so
  *     sessions are exactly 5 events / 240 s by construction;
  *  2. running cumulative sum + per-user top-k (row_number with a full
  *     tiebreak) on the same frame — prefix sums and the surviving seq
  *     set have closed forms;
  *  3. a HOT-KEY window: one user owns the first 20% of all rows, so one
  *     WindowExec partition buffers N/5 rows (19.6M at the full volume —
  *     ~0.5 GB of rows through one task's buffer, far past any in-memory
  *     threshold) with a whole-partition frame; a window that drops,
  *     duplicates, or OOMs on the spill path cannot match the totals.
  *     Unlike joins, AQE cannot skew-split a window partition — the
  *     documented mitigation at scale is salting the key (the registry's
  *     agg_salted_skew pattern); this shape measures the honest unsalted
  *     floor and proves exactness through the spill.
  *
  *   N_EVENTS=98000000 SPARK_DRIVER_MEM=16g \
  *     sbt "runMain graft.tools.WindowScaleSmoke"
  *
  * Recorded (round 13, this machine, local[32], 32 shuffle partitions,
  * min of 2 passes per volume after a 4.9M warmup). 16 GB heap:
  * half 49M rows → session 5.3 s / runsum 4.3 s / topk 4.3 s /
  * skew-hot 6.9 s (20.8 s total); full 98M → 12.6 / 15.7 / 12.2 /
  * 16.5 (56.9 s) — 2.74× time for 2.00× rows, every total exact. The
  * superlinearity is SPILL ONSET, not an algorithmic cliff: at 32 GB
  * the same full volume runs 11.3 / 8.9 / 8.2 / 12.7 (41.1 s, 1.93×
  * for 2×) — the half volume's window buffers fit either heap, the
  * full volume's fit only the larger one, and the difference is spill
  * I/O that scales linearly past the onset. The hot-key shape pushes
  * 19.6M rows (~0.5 GB) through ONE WindowExec buffer and matches the
  * closed form bitwise at both heaps — the spill path loses nothing.
  */
object WindowScaleSmoke {

  private val EventsPerUser = 100L // 5 | EventsPerUser keeps sessions uniform
  private val SkewUsers = 49L      // non-hot users; 49 | (4N/5) required

  def main(args: Array[String]): Unit = {
    val targetN = sys.env.getOrElse("N_EVENTS", "98000000").toLong
    require(targetN % 9800 == 0,
      "N_EVENTS must be a multiple of 9800 (half and full volumes both " +
        "need 100 | N for whole users and 49 | 4N/5 for whole skew cycles)")
    val spark = graft.Session.local()

    // ---- closed forms (driver integer loops over one user's sequence) --
    val S = EventsPerUser
    // prefix sums of value(s) = s % 7
    val prefixTotalPerUser: Long = {
      var acc = 0L; var run = 0L; var s = 0L
      while (s < S) { run += s % 7; acc += run; s += 1 }
      acc
    }
    // top-3 by (value desc, seq desc): the three largest seq with seq%7==6
    val topKSeqSumPerUser: Long = {
      val ranked = (0L until S).sortBy(s => (-(s % 7), -s)).take(3)
      ranked.sum
    }
    def sumMod7(m: Long): Long = (m / 7) * 21 + (0L until m % 7).sum

    def run(n: Long): Seq[(String, Double)] = {
      val users = n / S
      // `div`, never `/`: Column./ is ALWAYS double division in Spark,
      // which would make seq (and the session gap) continuous
      val ev = spark.range(n).repartition(32).select(
        (col("id") % users).as("u"), expr(s"id div $users").as("seq"))
        .withColumn("ts", col("seq") * 60 + expr("seq div 5") * 3540)
      val wOrd = Window.partitionBy("u").orderBy("ts")
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)

      // 1. sessionization: lag → gap>1800 flag → running session id
      var t0 = System.nanoTime()
      val sess = ev
        .withColumn("prev", lag("ts", 1).over(wOrd))
        .withColumn("news",
          when(col("prev").isNull || col("ts") - col("prev") > 1800, 1L)
            .otherwise(0L))
        .withColumn("sid", sum("news").over(wRun))
        .groupBy("u", "sid")
        .agg(count(lit(1)).as("len"), (max("ts") - min("ts")).as("dur"))
        .agg(count(lit(1)).as("n_sessions"), sum("len").as("n_events"),
          min("len").as("min_len"), max("len").as("max_len"),
          sum("dur").as("sum_dur"))
        .collect()(0)
      val tSess = (System.nanoTime() - t0) / 1e9
      val expSessions = users * (S / 5)
      assert(sess.getLong(0) == expSessions && sess.getLong(1) == n &&
        sess.getLong(2) == 5L && sess.getLong(3) == 5L &&
        sess.getLong(4) == expSessions * 240L,
        s"sessionization: got $sess, expected ($expSessions, $n, 5, 5, ${expSessions * 240})")

      // 2. running sum over the full frame + top-3 per user
      t0 = System.nanoTime()
      val v = ev.withColumn("value", col("seq") % 7)
      val runTotal = v
        .withColumn("run", sum("value").over(wRun))
        .agg(sum("run").as("total")).collect()(0).getLong(0)
      val tRun = (System.nanoTime() - t0) / 1e9
      assert(runTotal == users * prefixTotalPerUser,
        s"running-sum: got $runTotal, expected ${users * prefixTotalPerUser}")

      t0 = System.nanoTime()
      val wTop = Window.partitionBy("u")
        .orderBy(col("value").desc, col("seq").desc)
      val kept = v.withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 3)
        .agg(count(lit(1)).as("n"), sum("seq").as("sum_seq")).collect()(0)
      val tTop = (System.nanoTime() - t0) / 1e9
      assert(kept.getLong(0) == users * 3 &&
        kept.getLong(1) == users * topKSeqSumPerUser,
        s"top-k: got $kept, expected (${users * 3}, ${users * topKSeqSumPerUser})")

      // 3. hot key: user 0 owns the first n/5 ids; whole-partition frame
      //    forces the full 20% through ONE WindowExec buffer.
      t0 = System.nanoTime()
      val hot = n / 5
      val perSkew = (n - hot) / SkewUsers
      val sev = spark.range(n).repartition(32).select(
        when(col("id") < hot, 0L)
          .otherwise(lit(1L) + (col("id") - hot) % SkewUsers).as("u"),
        (col("id") % 7).as("value"))
      val wAll = Window.partitionBy("u")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val skewRows = sev.select(col("u"),
          count(lit(1)).over(wAll).as("cnt"), sum("value").over(wAll).as("sv"))
        .groupBy("u", "cnt", "sv").agg(count(lit(1)).as("nrows"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      val tSkew = (System.nanoTime() - t0) / 1e9
      assert(skewRows.length == SkewUsers + 1,
        s"skew: ${skewRows.length} users != ${SkewUsers + 1}")
      skewRows.foreach { case (u, cnt, sv, nrows) =>
        val (expCnt, expSv) =
          if (u == 0L) (hot, sumMod7(hot))
          else {
            // ids of user u: hot + (u-1) + 49k — id mod 7 is CONSTANT
            // along the progression because 7 | 49
            (perSkew, perSkew * ((hot + u - 1) % 7))
          }
        assert(cnt == expCnt && sv == expSv && nrows == cnt,
          s"skew user $u: got (cnt=$cnt, sv=$sv, nrows=$nrows), " +
            s"expected ($expCnt, $expSv, $expCnt)")
      }

      Seq("session" -> tSess, "runsum" -> tRun, "topk" -> tTop,
        "skew-hot" -> tSkew)
    }

    def fmt(ts: Seq[(String, Double)]): String =
      ts.map { case (k, s) => f"$k=$s%.1fs" }.mkString(" ") +
        f" total=${ts.map(_._2).sum}%.1fs"

    run(targetN / 20) // warmup
    val half = (1 to 2).map(_ => run(targetN / 2))
      .minBy(_.map(_._2).sum)
    println(s"[window-smoke] half  n=${targetN / 2} ${fmt(half)}")
    val full = (1 to 2).map(_ => run(targetN))
      .minBy(_.map(_._2).sum)
    println(s"[window-smoke] full  n=$targetN ${fmt(full)}")
    val ratio = full.map(_._2).sum / half.map(_._2).sum
    println(f"[window-smoke] scaling: 2.00x rows -> $ratio%.2fx time")
    assert(ratio < 3.5, f"superlinear: 2x rows took $ratio%.2fx time")
    spark.stop()
  }
}
