package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.EventStream

/** The seeded synthetic event log the scoreboard stream reads: events-shaped
  * rows (EventStream.EventsFileSchema) with ~25% error events, 1000 users and
  * a killer key in `props`. Every column is a hash of (event id, seed), so a
  * seed fixes the log exactly. */
object StreamLog {
  val Users = 1000L

  def frame(spark: SparkSession, seed: Long, firstId: Long, events: Long,
      files: Int): DataFrame = {
    def h(salt: Int) = abs(xxhash64(col("id"), lit(seed), lit(salt)))
    spark.range(firstId, firstId + events, 1, files).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(1767225600L) + col("id")).as("ts"),
      pmod(h(0), lit(Users)).as("user_id"),
      element_at(array(lit("error"), lit("click"), lit("view"), lit("error")),
        (pmod(h(1), lit(4L)) + 1).cast("int")).as("event_type"),
      (pmod(h(2), lit(10000L)) / 100.0).as("value"),
      concat(lit("{\"k\": "), pmod(h(3), lit(1000L)), lit("}")).as("props"))
  }

  /** Write two consecutive slices of the log in one job: `files1` files of
    * `perFile1` events into `dir1`, then `files2` files of `perFile2` events
    * into `dir2`, named ev-00000.parquet, ... in event order. */
  def write(spark: SparkSession, seed: Long, files1: Int, perFile1: Long,
      dir1: File, files2: Int, perFile2: Long, dir2: File): Unit = {
    val tmp = new File(dir1.getParentFile, "writing")
    val n1 = files1 * perFile1
    frame(spark, seed, 0L, n1, files1)
      .union(frame(spark, seed, n1, files2 * perFile2, files2))
      .write.parquet(tmp.getAbsolutePath)
    // one file per range partition; part numbers follow partition order
    val parts = tmp.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
    require(parts.length == files1 + files2, s"expected ${files1 + files2} files")
    Seq(dir1, dir2).foreach(_.mkdirs())
    parts.zipWithIndex.foreach { case (f, i) =>
      val (dir, j) = if (i < files1) (dir1, i) else (dir2, i - files1)
      Files.move(f.toPath, new File(dir, f"ev-$j%05d.parquet").toPath)
    }
    Fs.delete(tmp)
  }
}

/** Freshness of the paced files: when the scoreboard reflected a file,
  * measured from when the file was DUE, not from when the generator got it
  * out. A late generator therefore cannot hide a stall: the wait it imposes
  * on later files stays in their freshness, and its lateness is reported on
  * its own. */
object Freshness {
  /** Per file, in release order: freshness in seconds (None when some query
    * never committed the file), and the worst release lateness in ms. */
  final case class Paced(seconds: Seq[Option[Double]], generatorLateMsMax: Double)

  /** `committedMs(i)`: when the last of the queries committed the
    * micro-batch that consumed file i, if all of them did. */
  def of(dueMs: Seq[Double], releasedMs: Seq[Double],
      committedMs: Seq[Option[Double]]): Paced = {
    require(dueMs.size == releasedMs.size && dueMs.size == committedMs.size)
    Paced(dueMs.zip(committedMs).map { case (d, c) => c.map(t => (t - d) / 1e3) },
      dueMs.zip(releasedMs).map { case (d, r) => r - d }.max)
  }
}

/** Reads a streaming checkpoint from outside: which micro-batch consumed each
  * input file (the file source's log) and when each batch committed (the
  * commit log's file times). */
object CheckpointLog {
  private val Entry = """"path":"([^"]+)".*?"batchId":(\d+)""".r.unanchored

  def batchOfFile(ckpt: File): Map[String, Long] = {
    val src = new File(ckpt, "sources/0")
    Option(src.listFiles()).getOrElse(Array.empty[File])
      .filter(f => !f.getName.startsWith(".") && !f.getName.endsWith(".crc"))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq)
      .collect { case Entry(path, batch) =>
        new File(new java.net.URI(path).getPath).getName -> batch.toLong }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
  }

  def commitMs(ckpt: File): Map[Long, Double] =
    Option(new File(ckpt, "commits").listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.forall(_.isDigit))
      .map(f => f.getName.toLong ->
        Files.getLastModifiedTime(f.toPath).toMillis.toDouble)
      .toMap
}

/** The scoreboard path: the event log through EventStream.readEvents's file
  * source into EventStream.killCounts (update-mode aggregation) and
  * EventStream.lastPerKey (the mapGroupsWithState TableView), both to
  * memory sinks. Drain phase: every file present from the start, drained
  * by a cold scoreboard, then by a warm one on new checkpoints. Paced phase:
  * an open loop, a timer thread moving files into the watched directory at
  * a fixed event rate. */
object Stream {

  val DrainFiles = 30
  val DrainEventsPerFile = 10000L
  val DrainFilesPerTrigger = 2
  /** Paced-phase rate in events per second. Set once, at about half of the
    * drain rate measured at the commit that introduced the benchmark
    * (README.md), and never derived from the machine at hand. */
  val PacedEventsPerSecond = 14000
  /** Paced files released per second: 56 files over an 8 s phase. */
  val PacedFilesPerSecond = 7
  /** The paced phase's trigger interval. Both queries fire on the same
    * wall-clock tick, so their relative phase is fixed; under the default
    * back-to-back trigger it drifted from run to run between overlapping
    * and alternating batches, and the median freshness with it (a 0.28
    * quartile spread over ten runs on a 4-core VM). A paced batch takes
    * about one second there, so it normally ends before the next tick. */
  val PacedTriggerMs = 2000L

  final case class Scoreboard(kills: StreamingQuery, last: StreamingQuery,
      killCkpt: File, lastCkpt: File) {
    def both: Seq[StreamingQuery] = Seq(kills, last)
    def ckpts: Seq[File] = Seq(killCkpt, lastCkpt)
  }

  def run(h: Harness): Map[String, Double] = {
    val a = h.args
    val pacedPerFile = PacedEventsPerSecond / PacedFilesPerSecond.toLong
    val pacedFiles = a.seconds * PacedFilesPerSecond
    val gen = new File(a.work, "gen")
    val drainSrc = new File(gen, "drain")
    val pacedSrc = new File(gen, "paced")
    // three set-ups, each generating the whole log
    val setups = h.setup(3) { s =>
      StreamLog.write(s, a.seed, DrainFiles, DrainEventsPerFile, drainSrc,
        pacedFiles, pacedPerFile, pacedSrc)
    } { () => Fs.delete(gen) }
    h.phaseEnd("setup")
    h.installProbe()
    val spark = h.spark

    def start(phase: String, watched: File, opts: Map[String, String],
        trigger: Trigger): Scoreboard = {
      val cfg = EventStream.EventSourceConfig(format = "parquet",
        path = Some(watched.getAbsolutePath), options = opts,
        schema = Some(EventStream.EventsFileSchema))
      def sink(df: DataFrame, name: String, ckpt: File) =
        df.writeStream.outputMode("update").format("memory").trigger(trigger)
          .queryName(s"${name}_$phase")
          .option("checkpointLocation", ckpt.getAbsolutePath).start()
      val kc = new File(a.work, s"stream/$phase-kills-ckpt")
      val lc = new File(a.work, s"stream/$phase-last-ckpt")
      h.spans("stream_build", phase) {
        Scoreboard(
          sink(EventStream.killCounts(EventStream.readEvents(spark, cfg)), "kills", kc),
          sink(EventStream.lastPerKey(EventStream.readEvents(spark, cfg)).toDF(), "last", lc),
          kc, lc)
      }
    }

    def drainAll(sb: Scoreboard, phase: String): Unit =
      h.spans("stream_run", phase)(sb.both.foreach(_.processAllAvailable()))

    def stop(sb: Scoreboard): Unit = sb.both.foreach(_.stop())

    // the same rows, as multisets; both sides are small (one row per key)
    def sameRows(x: DataFrame, y: DataFrame): Boolean = {
      def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("\u0001")).sorted.toSeq
      rows(x) == rows(y)
    }

    // a scoreboard's final state, from its memory sinks
    def finalKills(phase: String): DataFrame = spark.table(s"kills_$phase")
      .groupBy("room", "killer").agg(max("kills").as("kills"))
    def finalLast(phase: String): DataFrame = spark.table(s"last_$phase")
      .withColumn("rk", row_number().over(
        Window.partitionBy("room", "victim").orderBy(col("last_seq").desc)))
      .filter(col("rk") === 1).drop("rk")

    // the final state against its twin: the batch answer over the same
    // files, or the final state of an earlier scoreboard over them
    def parity(phase: String, kills: => DataFrame, last: => DataFrame): Unit = {
      h.attempt(s"$phase killCounts parity") {
        if (!sameRows(finalKills(phase), kills))
          h.fail(s"$phase killCounts final state differs from its twin")
      }
      h.attempt(s"$phase lastPerKey parity") {
        if (!sameRows(finalLast(phase), last))
          h.fail(s"$phase lastPerKey final state differs from its twin")
      }
    }
    def batchParity(phase: String, files: File): Unit = {
      val batch = spark.read.parquet(files.getAbsolutePath)
      parity(phase, EventStream.killCounts(batch),
        graft.operators.EventOps.gameColumns(batch)
          .withColumn("rk", row_number().over(
            Window.partitionBy("room", "victim").orderBy(col("seq").desc)))
          .filter(col("rk") === 1)
          .select(col("room"), col("victim"), col("seq").as("last_seq"),
            col("value").as("last_value")))
    }

    // ---- drain: the whole log present from the start, drained twice by a
    // scoreboard started on new checkpoints: first cold (the JVM's first
    // streaming queries), then warm
    val drainDir = new File(a.work, "stream/drain")
    drainDir.mkdirs()
    drainSrc.listFiles().foreach(f =>
      Files.move(f.toPath, new File(drainDir, f.getName).toPath))
    val drainEvents = DrainFiles * DrainEventsPerFile
    def drain(phase: String): (Scoreboard, Double, Probe.Window) = {
      val from = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val sb = start(phase, drainDir,
        Map("maxFilesPerTrigger" -> DrainFilesPerTrigger.toString), Trigger.ProcessingTime(0L))
      h.attempt(phase)(drainAll(sb, phase))
      val wall = (System.nanoTime() - t0) / 1e9
      val w = Probe.Window(from, System.currentTimeMillis() + 1)
      stop(sb)
      h.phaseEnd(phase)
      (sb, wall, w)
    }
    val compile0 = h.probe.map(p => (p.compileMs, p.compiledClasses))
    val (cold, coldWall, coldW) = drain("cold")
    val coldCompile = h.probe.map(p =>
      (p.compileMs - compile0.get._1, p.compiledClasses - compile0.get._2))
    // the cold drain's first micro-batch (query start, cold planning and
    // codegen) ends when the later of the two queries commits batch 0
    val coldFirstBatchS =
      (cold.ckpts.map(c => CheckpointLog.commitMs(c)(0L)).max - coldW.fromMs) / 1e3
    batchParity("cold", drainDir)
    h.phaseEnd("cold_parity")
    val (_, warmWall, warmW) = drain("warm")
    parity("warm", finalKills("cold"), finalLast("cold"))
    h.phaseEnd("warm_parity")

    // ---- paced: open loop at a fixed event rate
    val pacedDir = new File(a.work, "stream/paced")
    pacedDir.mkdirs()
    val paced = start("paced", pacedDir, Map.empty, Trigger.ProcessingTime(PacedTriggerMs))
    paced.both.foreach(_.processAllAvailable()) // initialised on the empty directory
    val toRelease = pacedSrc.listFiles().sortBy(_.getName).toSeq
    val intervalMs = 1000.0 / PacedFilesPerSecond
    val due = new Array[Double](toRelease.size)
    val released = new Array[Double](toRelease.size)
    val cpu0 = h.cpuSeconds
    val gc0 = h.gcSeconds
    val rereg0 = h.probe.map(_.reregistrations.get()).getOrElse(0L)
    val pacedFrom = System.currentTimeMillis()
    // the trigger ticks on multiples of its interval since the epoch; the
    // schedule starts half a release interval after a tick, so no file is
    // due at the moment a batch lists the directory
    val startMs = (pacedFrom / PacedTriggerMs + 1) * PacedTriggerMs + intervalMs / 2
    val timer = new Thread(() => {
      toRelease.indices.foreach { i =>
        due(i) = startMs + i * intervalMs
        val wait = math.round(due(i) - System.currentTimeMillis())
        if (wait > 0) Thread.sleep(wait)
        val f = toRelease(i)
        Files.move(f.toPath, new File(pacedDir, f.getName).toPath,
          StandardCopyOption.ATOMIC_MOVE)
        released(i) = System.currentTimeMillis().toDouble
      }
    }, "perfbench-release-timer")
    timer.setDaemon(true)
    timer.start()
    timer.join()
    // files released but not yet committed by both queries when the
    // schedule ends: a backlog that grows with run length means the rate
    // is above what the scoreboard sustains
    val backlogEnd = {
      val committed = paced.ckpts.map { c =>
        val done = CheckpointLog.commitMs(c).keySet
        CheckpointLog.batchOfFile(c).filter { case (_, b) => done(b) }.keySet
      }
      toRelease.count(f => committed.exists(s => !s(f.getName)))
    }
    h.attempt("paced")(drainAll(paced, "paced"))
    val pacedTo = System.currentTimeMillis()
    val cpu = h.cpuSeconds - cpu0
    val gc = h.gcSeconds - gc0
    stop(paced)
    h.phaseEnd("paced")
    batchParity("paced", pacedDir)
    h.phaseEnd("paced_parity")

    val batchOf = paced.ckpts.map(CheckpointLog.batchOfFile)
    val commitOf = paced.ckpts.map(CheckpointLog.commitMs)
    val committed = toRelease.map { f =>
      val commits = batchOf.zip(commitOf).map { case (b, c) => b.get(f.getName).flatMap(c.get) }
      if (commits.forall(_.isDefined)) Some(commits.flatten.max) else None
    }
    val pacedFresh = Freshness.of(dueMs = due.toSeq, releasedMs = released.toSeq,
      committedMs = committed)
    val freshness = toRelease.zip(pacedFresh.seconds).flatMap { case (f, fresh) =>
      h.attempted += 1
      if (fresh.isEmpty) h.fail(s"paced file ${f.getName} was never committed")
      fresh
    }
    val generatorLateMs = pacedFresh.generatorLateMsMax
    val liveHeap = h.liveHeapMb

    h.detail ++= Map(
      "drain_events" -> drainEvents,
      "paced_files" -> toRelease.size,
      "paced_events_per_file" -> pacedPerFile,
      "paced_rate_events_per_s" -> PacedEventsPerSecond,
      "cold_first_batch_s" -> coldFirstBatchS,
      "freshness_samples" -> freshness.size,
      "tail_percentile" -> Stats.highestPercentile(freshness.size),
      "tail_latency_s" -> Stats.highestPercentile(freshness.size)
        .map(Stats.percentile(freshness, _)),
      "setup_s_each" -> setups,
      "phase_end_s" -> h.phaseEnds,
      "backlog_files_end" -> backlogEnd,
      "generator_late_ms_max" -> generatorLateMs)

    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "cold_pass_s" -> coldWall,
      "latency_p50_s" -> Stats.percentile(freshness, 50),
      "ops_per_s" -> drainEvents / warmWall,
      "cpu_s_per_op" -> cpu / toRelease.size,
      "live_heap_mb" -> liveHeap)

    val layers = h.probe.map { p =>
      p.settle()
      val pacedW = Probe.Window(pacedFrom, pacedTo + 1)
      val coldProg = p.progressIn(coldW)
      // per-batch drain figures from the warm drain, the steady one
      val warmProg = p.progressIn(warmW)
      val pacedProg = p.progressIn(pacedW)
      val whole = Probe.Window(coldW.fromMs, pacedTo + 1)
      val batches = math.max(1, coldProg.size + warmProg.size + pacedProg.size)
      val self = h.spans.selfSeconds()
      def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      def dur(ps: Seq[Probe.ProgressRec], k: String) =
        p50(ps.map(_.durations.getOrElse(k, 0L).toDouble))
      // state size at the end of the drain: the last batch of each query
      val drainEnd = warmProg.groupBy(_.query).values.map(_.maxBy(_.batchId)).toSeq
      Batch.perOp(p.operators(whole), p.plansIn(whole), batches) ++ Map(
        "operators.task_skew" -> p.worstSkew(pacedW),
        "operators.driver_gap_s" -> p.driverGapSeconds(pacedW) / batches,
        "codegen.compile_ms" -> coldCompile.get._1,
        "codegen.classes" -> coldCompile.get._2.toDouble,
        "functions.reregistrations" -> (p.reregistrations.get() - rereg0).toDouble / batches,
        "streaming.rows_per_batch" -> p50(warmProg.map(_.rows.toDouble)),
        "streaming.batches" -> pacedProg.size.toDouble,
        "streaming.trigger_ms_p50" -> dur(pacedProg, "triggerExecution"),
        "streaming.add_batch_ms_p50" -> dur(pacedProg, "addBatch"),
        "streaming.planning_ms_p50" -> dur(pacedProg, "queryPlanning"),
        "streaming.wal_commit_ms_p50" -> dur(pacedProg, "walCommit"),
        "streaming.offset_ms_p50" -> dur(pacedProg, "latestOffset"),
        "streaming.state_rows" -> drainEnd.map(_.stateRows).sum.toDouble,
        "streaming.state_mb" -> drainEnd.map(_.stateBytes).sum / (1024.0 * 1024.0),
        "streaming.state_commit_ms_p50" -> p50(warmProg.map(_.stateCommitMs.toDouble)),
        "streaming.late_drops" ->
          (coldProg ++ warmProg ++ pacedProg).map(_.lateDrops).sum.toDouble,
        "streaming.backlog_files_end" -> backlogEnd.toDouble,
        "streaming.generator_late_ms_max" -> generatorLateMs,
        "jvm.gc_s" -> gc / batches,
        "span.stream_build_self_s" -> self.getOrElse("stream_build", 0.0),
        "span.stream_run_self_s" -> self.getOrElse("stream_run", 0.0))
    }.getOrElse(Map.empty)

    e2e ++ layers
  }
}
