package perfbench

/** One benchmark run in a fresh JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data TESTBED --work SCRATCH --digests TABLE --trace-out FILE
  *
  * Prints one line `PERFBENCH_RESULT {json}` with the run's stamp, its
  * attempted and failed operation counts and every metric it measured.
  * perfbench/run.py builds the harness, starts this and turns the line into
  * the benchmark's result. */
object Main {

  /** Per-layer metrics of layers a workload never calls into; a traced run
    * reports them as 0 so every workload prints the same metric set. */
  val StreamingOnly: Seq[String] = Seq("streaming.rows_per_batch",
    "streaming.batches", "streaming.trigger_ms_p50", "streaming.add_batch_ms_p50",
    "streaming.planning_ms_p50", "streaming.wal_commit_ms_p50",
    "streaming.offset_ms_p50", "streaming.state_rows", "streaming.state_mb",
    "streaming.state_commit_ms_p50", "streaming.late_drops",
    "streaming.backlog_files_end", "streaming.generator_late_ms_max",
    "span.stream_build_self_s", "span.stream_run_self_s")
  val BatchOnly: Seq[String] = Seq("game.fold_s", "materialize.jobs",
    "materialize.checkpoint_mb", "materialize.pinned_rdds", "memo.build_s",
    "memo.probe_s", "artifact_store.hits", "artifact_store.misses",
    "artifact_store.saves", "span.plan_self_s", "span.action_self_s",
    "span.release_self_s", "span.query_self_s")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val h = new Harness(a)
    val measured = a.workload match {
      case Plan.QueryMix => Batch.run(h)
      case Plan.Scoreboard => Stream.run(h)
      case w => sys.error(s"unknown workload $w; known: ${Plan.Workloads.mkString(", ")}")
    }
    val absent = if (!a.trace) Nil
      else if (a.workload == Plan.Scoreboard) BatchOnly else StreamingOnly
    val metrics = absent.map(_ -> 0.0).toMap ++ measured
    h.writeTrace()
    println("PERFBENCH_RESULT " + Json(Map(
      "workload" -> a.workload,
      "stamp" -> h.stamp,
      "attempted" -> h.attempted,
      "failed" -> h.failures.size,
      "failures" -> h.failures.toSeq,
      "metrics" -> metrics,
      "detail" -> h.detail)))
    h.spark.stop()
    System.exit(0)
  }
}

/** Writes the digest table the batch workload checks against: every
  * headline query of the two query families' modules (and
  * graph_components) once, on the given testbed.
  *
  *   perfbench.MakeDigests TESTBED OUT_TSV
  */
object MakeDigests {
  def main(argv: Array[String]): Unit = {
    val Array(data, out) = argv
    val work = java.nio.file.Files.createTempDirectory("perfbench-digests").toFile
    val h = new Harness(Args(Plan.QueryMix, 0, 0, trace = false,
      new java.io.File(data), work, null, null))
    h.spark = h.newSession()
    h.registerFunctions(h.spark)
    val family = (Plan.interactiveModules ++ Plan.stagedModules)
      .filter(q => q.bench || Plan.StagedNames.contains(q.name))
    val lines = family.sortBy(_.name).map { q =>
      val (d, n) = graft.tools.Canon.digestDf(q.run(h.spark, data))
      h.release()
      Seq(q.name, n, d, if (q.oracle.isDefined) "oracle" else "seed-commit").mkString("\t")
    }
    java.nio.file.Files.writeString(new java.io.File(out).toPath,
      "# name\trows\tsha256 (graft.tools.Canon)\tsource\n" + lines.mkString("\n") + "\n")
    h.spark.stop()
    Fs.delete(work)
  }
}
