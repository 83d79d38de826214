package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev-only fixed-overhead profiler (not part of the driver contract): for
  * each named query (or the warm-time top-N with no args), count the Spark
  * JOBS, STAGES and TASKS one warm execution launches, next to its wall
  * time. At bench scale (~15 MB of parquet) per-query wall is dominated by
  * fixed costs — job submission, stage scheduling, exchange round-trips,
  * eager staging (localCheckpoint) jobs — so jobs×stages is the number to
  * shrink, and every such reduction is a real pass/shuffle reduction at
  * 100 TB too (guide §2.4).
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local(logLevel = "ERROR")
    // like graft.Bench: memo frames handed to later queries must survive
    // the per-query unpersist (reliable checkpoint files, not blocks)
    graft.Session.shareCheckpoints(spark)

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet(): Unit
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet(): Unit
    })

    val names: Seq[String] =
      if (args.nonEmpty) args.toSeq
      else Seq("graph_components", "graph_pagerank", "graph_sssp_weighted",
        "dedup_clusters", "graph_lcc_topk", "pipeline_corpus_clean",
        "fuzzy_name_pairs", "dedup_embedding_clusters", "graph_bfs_hops",
        "join_interval_overlap", "graph_triangles", "schema_enforce",
        "q16_supplier_part_counts", "join_death_attribution",
        "dedup_minhash_lsh", "q8_market_share", "decontam_bloom",
        "q21_suppliers_kept_waiting", "q2_min_cost_supplier",
        "assoc_lift_daily", "dq_referential", "dedup_simhash",
        "dedup_substring_runs", "flame_blocking", "q5_region_revenue",
        "replay_room_digest", "text_bigram_logfreq", "text_bm25_topk")

    def cpuSec(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean =>
          os.getProcessCpuTime / 1e9
        case _ => -1.0
      }

    println(f"${"query"}%-28s  warm_s   cpu_s  jobs stages  tasks")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // one cold run to warm codegen/scan caches, then the measured run
      fn(spark, dir).count(): Unit
      graft.Session.releaseStaged(spark)
      Thread.sleep(50)
      jobs.set(0); stages.set(0); tasks.set(0)
      val c0 = cpuSec()
      val t0 = System.nanoTime()
      fn(spark, dir).count(): Unit
      val sec = (System.nanoTime() - t0) / 1e9
      val cpu = cpuSec() - c0
      Thread.sleep(100) // let listener events drain
      println(f"$name%-28s ${sec}%6.2f  ${cpu}%6.2f ${jobs.get()}%5d ${stages.get()}%6d ${tasks.get()}%6d")
      graft.Session.releaseStaged(spark)
    }
    graft.Session.stop(spark)
  }
}
