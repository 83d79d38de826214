package graft.tools

/** Same-day A/B of the SHARED-staging tiers (judge r17, next-round item
  * 2): `graph_components` warm rose 2.13 → 3.57 s between r16 and r17
  * against a 1.12 median machine-day shift, and round 17 moved the
  * dataset-memo frames from localCheckpoint memory to reliable-checkpoint
  * FILES (`Materialize.stageShared`). This probe times the suspect family
  * under the bench's own isolation discipline in each tier so the file
  * write/read cost can be read directly instead of argued.
  *
  * One mode per JVM (dataset memos are per-JVM; mixing tiers in one
  * process would let tier A's staged frames serve tier B):
  *
  *   GRAFT_STAGING_MODE=bench  — SharedDirConfKey set to a temp dir,
  *       releaseStaged between runs (exactly graft.Bench's r17+ posture:
  *       memo frames live in files, warm reuse re-reads them);
  *   GRAFT_STAGING_MODE=memory — no shared dir, NO release between runs
  *       (memo frames stay as in-memory localCheckpoint blocks: the best
  *       case file staging competes against — and the regime the r16
  *       bench APPEARED to measure for the queries that didn't throw);
  *   GRAFT_STAGING_MODE=isolated-local — no shared dir, releaseStaged
  *       between runs (r14–r16's actual posture; valid only for queries
  *       with no cross-query memo reuse — memo queries THROW here, which
  *       is the r14–r16 silent-failure class made loud).
  *
  *   GRAFT_STAGING_MODE=bench SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.StagingAbProbe graph_components dedup_clusters"
  *
  * Prints one line per run (cold + 4 warm) and a per-query summary
  * (cold, min-warm). Adjudication note with the measured numbers lives
  * in BASELINE.md's round-18 section.
  */
object StagingAbProbe {
  def main(args: Array[String]): Unit = {
    val mode = sys.env.getOrElse("GRAFT_STAGING_MODE", "bench")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("graph_components", "dedup_clusters", "dedup_minhash_lsh",
        "dedup_ngram_jaccard", "dedup_embedding_clusters", "decontam_minhash")
    val spark = graft.Session.local(logLevel = "ERROR")
    if (mode == "bench") graft.Session.shareCheckpoints(spark)
    // bench-equivalent warmup so run1 isn't measuring JVM init
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.SparkEntry.entry(spark).count()
    val summary = names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      val times = (1 to 5).map { i =>
        val t0 = System.nanoTime()
        val outcome =
          try { fn(spark, dir).count(); "ok" }
          catch { case e: Throwable => s"ERR ${e.getClass.getSimpleName}" }
        val sec = (System.nanoTime() - t0) / 1e9
        if (mode != "memory") graft.Session.releaseStaged(spark)
        println(f"AB $mode%-15s $name%-28s run$i $sec%7.2f s  $outcome")
        (sec, outcome)
      }
      val okWarm = times.drop(1).filter(_._2 == "ok").map(_._1)
      (name, times.head._1,
        if (okWarm.nonEmpty) okWarm.min else Double.NaN,
        times.count(_._2 != "ok"))
    }
    println(s"AB-SUMMARY mode=$mode sf=$dir cpus=${graft.Session.workers}")
    summary.foreach { case (n, cold, warm, errs) =>
      println(f"AB-SUMMARY $n%-28s cold $cold%7.2f s  warmMin $warm%7.2f s  errors $errs")
    }
    graft.Session.stop(spark)
  }
}
