package perfbench

import java.io.File

import scala.collection.mutable

import graft.GQuery
import graft.tools.Canon

/** Committed canonical digests: one line per query, tab-separated
  * `name rows sha256 source`, where source is `oracle` (the result passed
  * the DuckDB oracle on this testbed when the table was made) or
  * `seed-commit` (no oracle exists; the digest is the engine's own answer
  * at the commit that introduced the benchmark). */
object Digests {
  final case class Entry(rows: Int, digest: String, source: String)

  def load(f: File): Map[String, Entry] =
    scala.io.Source.fromFile(f, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t'))
      .map(a => a(0) -> Entry(a(1).toInt, a(2), a(3)))
      .toMap
}

/** The closed-loop batch workload. One client thread runs one query at
  * a time; each execution is timed from the `GQuery.run` call (plan build,
  * including any eager staging the query does) to the end of a `noop`
  * write, which materialises every output column. */
object Batch {

  final case class Exec(query: String, startMs: Long, endMs: Long, sec: Double)

  def run(h: Harness): Map[String, Double] = {
    val a = h.args
    val queries = Plan.queries(a.workload)
    val input = new File(new File(a.work, "input"), s"testbed-seed${a.seed}")
    val setups = h.setup(5) { _ => Fs.copyTree(a.data, input) } { () =>
      Fs.delete(input)
    }
    h.phaseEnd("setup")
    h.installProbe()
    val spark = h.spark
    val dir = input.getAbsolutePath
    val digests = Digests.load(a.digests)

    var pinnedMax = 0
    def execute(q: GQuery, pass: Int): Option[Exec] = {
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val ok = h.attempt(s"${q.name} pass $pass") {
        h.spans("query", q.name) {
          val df = h.spans("plan", q.name)(q.run(spark, dir))
          h.probe.foreach(_.addAnalysis(df.queryExecution.tracker.phases
            .get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)))
          h.spans("action", q.name)(h.noop(df))
        }
      }
      val sec = (System.nanoTime() - t0) / 1e9
      pinnedMax = math.max(pinnedMax, h.spans("release", q.name)(h.release()))
      ok.map(_ => Exec(q.name, start, System.currentTimeMillis(), sec))
    }

    /** Cold execution, which is also the correctness check: the timed
      * action collects the result (materialising every output column, as
      * the warm passes' noop write does); the canonical digest is computed
      * after the timer stops and compared with the committed one. */
    def coldCheck(q: GQuery): Option[Exec] = {
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val got = h.attempt(s"${q.name} cold") {
        h.spans("query", q.name) {
          val df = h.spans("plan", q.name)(q.run(spark, dir))
          (df.schema, h.spans("action", q.name)(df.collect()))
        }
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val end = System.currentTimeMillis()
      pinnedMax = math.max(pinnedMax, h.release())
      got.flatMap { case (schema, rows) =>
        val header = schema.fields.map(f => f.name + ":" + f.dataType.sql).mkString("|")
        val canon = rows.map(r => Canon.cell(r))
        java.util.Arrays.sort(canon, java.util.Comparator.naturalOrder[String]())
        val d = Canon.digestOf(canon, header)
        digests.get(q.name) match {
          case Some(want) if want.digest == d && want.rows == canon.length =>
            Some(Exec(q.name, start, end, sec))
          case want =>
            h.fail(s"${q.name} digest $d rows ${canon.length}, expected " +
              want.map(w => s"${w.digest} rows ${w.rows}").getOrElse("a table entry"))
            None
        }
      }
    }

    // cold (build) pass: every query once, in the order Plan lists them.
    // Not seeded: the first query also pays the JVM's first parquet scan,
    // join and window (1.5-2 s), and a seeded order moved that charge, and
    // the pass total with it, from run to run.
    val store0 = storeCounters
    val compile0 = h.probe.map(p => (p.compileMs, p.compiledClasses))
    val coldFrom = System.currentTimeMillis()
    val cold = queries.map { q =>
      val m0 = storeCounters
      val e = coldCheck(q)
      (q.name, e, storeCounters._2 > m0._2)
    }
    val coldTo = System.currentTimeMillis()
    h.phaseEnd("cold_pass")
    System.err.println(s"[perfbench] cold pass: ${(coldTo - coldFrom) / 1e3} s wall")
    val coldCompile = h.probe.map(p =>
      (p.compileMs - compile0.get._1, p.compiledClasses - compile0.get._2))
    val checkpointMb = Fs.sizeBytes(h.dir("checkpoints")) / (1024.0 * 1024.0)
    val coldSeconds = cold.flatMap(_._2).map(_.sec).sum
    // a failed cold execution has no time: the pass total would shrink
    if (cold.exists(_._2.isEmpty)) h.detail += "cold_pass_incomplete" -> true

    // warm (probe) passes: whole passes in a fresh seeded order each, at
    // least MinPasses and until the window has lasted `seconds`. The floor
    // is set so that it, not the clock, decides the pass count (three passes
    // take longer than `seconds`): a count that flips between runs moves
    // every warm metric.
    val warm = mutable.ArrayBuffer.empty[Exec]
    val cpu0 = h.cpuSeconds
    val gc0 = h.gcSeconds
    val rereg0 = h.probe.map(_.reregistrations.get()).getOrElse(0L)
    val warmFrom = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var pass = 1
    while (pass <= MinPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      Plan.order(queries, a.seed, pass).foreach(q => warm ++= execute(q, pass))
      System.err.println(s"[perfbench] warm pass $pass: ${(System.nanoTime() - t0) / 1e9} s")
      pass += 1
    }
    val warmEndNs = System.nanoTime()
    val warmWall = (warmEndNs - t0) / 1e9
    val warmTo = System.currentTimeMillis()
    h.phaseEnd("warm_passes")
    val cpu = h.cpuSeconds - cpu0
    val gc = h.gcSeconds - gc0
    val samples = warm.map(_.sec).toSeq

    // game fold layer, traced runs only: GameFold.summarize over GameLog.derive
    val foldSeconds =
      if (a.trace) Stats.median((1 to 3).map { _ =>
        val f0 = System.nanoTime()
        h.attempt("game fold") {
          h.spans("fold")(h.noop(graft.game.GameFold.summarize(
            h.spans("fold_derive")(graft.game.GameLog.derive(spark, dir))).toDF()))
        }
        h.release()
        (System.nanoTime() - f0) / 1e9
      })
      else 0.0

    val liveHeap = h.liveHeapMb
    val n = samples.size
    h.detail ++= Map(
      "warm_samples" -> n,
      "warm_passes" -> (pass - 1),
      "tail_percentile" -> Stats.highestPercentile(n),
      "tail_latency_s" -> Stats.highestPercentile(n).map(Stats.percentile(samples, _)),
      "cold_queries" -> cold.size,
      "setup_s_each" -> setups,
      "phase_end_s" -> h.phaseEnds,
      "warm_p50_by_query" -> warm.groupBy(_.query)
        .map { case (k, es) => k -> Stats.median(es.map(_.sec).toSeq) },
      "cold_order" -> cold.map(_._1),
      "cold_by_query" -> cold.map { case (k, e, _) => k -> e.map(_.sec) }.toMap)

    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "cold_pass_s" -> coldSeconds,
      "latency_p50_s" -> Stats.percentile(samples, 50),
      "ops_per_s" -> n / warmWall,
      "cpu_s_per_op" -> cpu / n,
      "live_heap_mb" -> liveHeap)

    val layers = h.probe.map { p =>
      p.settle()
      val w = Probe.Window(warmFrom, warmTo)
      val ops = p.operators(w)
      val pl = p.plansIn(w)
      val self = h.spans.selfSeconds(t0, warmEndNs)
      val memoQueries = cold.filter(_._3).map(_._1).toSet
      val probeMedian = warm.filter(e => memoQueries(e.query)).groupBy(_.query)
        .map { case (k, es) => k -> Stats.median(es.map(_.sec).toSeq) }
      val build = cold.filter(_._3).flatMap { case (k, e, _) =>
        e.map(x => x.sec - probeMedian.getOrElse(k, 0.0)) }.sum
      val coldOps = p.operators(Probe.Window(coldFrom, coldTo))
      val store = storeCounters
      h.detail ++= Map(
        "memo_queries" -> memoQueries.toSeq.sorted,
        "materialize_jobs_by_graph_query" -> queries.map(_.name)
          .filter(_.startsWith("graph_")).map { g =>
            g -> cold.find(_._1 == g).flatMap(_._2)
              .map(e => p.operators(Probe.Window(e.startMs, e.endMs + 1))("materialize_jobs"))
          }.toMap)
      perOp(ops, pl, n) ++ Map(
        "operators.task_skew" -> Stats.median(warm.map(e =>
          p.worstSkew(Probe.Window(e.startMs, e.endMs + 1))).toSeq),
        "operators.driver_gap_s" -> warm.map(e =>
          p.driverGapSeconds(Probe.Window(e.startMs, e.endMs + 1))).sum / n,
        "codegen.compile_ms" -> coldCompile.get._1,
        "codegen.classes" -> coldCompile.get._2.toDouble,
        "functions.reregistrations" -> (p.reregistrations.get() - rereg0).toDouble / n,
        "game.fold_s" -> foldSeconds,
        "materialize.jobs" -> coldOps("materialize_jobs"),
        "materialize.checkpoint_mb" -> checkpointMb,
        "materialize.pinned_rdds" -> pinnedMax.toDouble,
        "memo.build_s" -> build,
        "memo.probe_s" -> probeMedian.values.sum,
        "artifact_store.hits" -> (store._1 - store0._1).toDouble,
        "artifact_store.misses" -> (store._2 - store0._2).toDouble,
        "artifact_store.saves" -> (store._3 - store0._3).toDouble,
        "jvm.gc_s" -> gc / n,
        "span.plan_self_s" -> self.getOrElse("plan", 0.0) / n,
        "span.action_self_s" -> self.getOrElse("action", 0.0) / n,
        "span.release_self_s" -> self.getOrElse("release", 0.0) / n,
        "span.query_self_s" -> self.getOrElse("query", 0.0) / n)
    }.getOrElse(Map.empty)

    e2e ++ layers
  }

  val MinPasses = 3

  private def storeCounters: (Long, Long, Long) = (graft.ArtifactStore.hits.get(),
    graft.ArtifactStore.misses.get(), graft.ArtifactStore.saves.get())

  /** Window totals of the plan and execution layers, per operation. */
  def perOp(ops: Map[String, Double], pl: Map[String, Double], n: Int)
      : Map[String, Double] = Map(
    "sources.input_mb" -> ops("input_mb") / n,
    "sources.input_rows" -> ops("input_rows") / n,
    "plans.analysis_ms" -> pl("analysis_ms") / n,
    "plans.optimizer_ms" -> pl("optimizer_ms") / n,
    "plans.planning_ms" -> pl("planning_ms") / n,
    "plans.exchanges" -> pl("exchanges") / n,
    "plans.sort_merge_joins" -> pl("sort_merge_joins") / n,
    "plans.broadcast_joins" -> pl("broadcast_joins") / n,
    "operators.jobs" -> ops("jobs") / n,
    "operators.stages" -> ops("stages") / n,
    "operators.tasks" -> ops("tasks") / n,
    "operators.executor_cpu_s" -> ops("executor_cpu_s") / n,
    "operators.executor_run_s" -> ops("executor_run_s") / n,
    "operators.shuffle_write_mb" -> ops("shuffle_write_mb") / n,
    "operators.shuffle_read_mb" -> ops("shuffle_read_mb") / n,
    "operators.spill_mb" -> ops("spill_mb") / n,
    "operators.scheduler_wait_s" -> ops("scheduler_wait_s") / n)
}
