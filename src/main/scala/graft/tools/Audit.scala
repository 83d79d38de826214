package graft.tools

import java.util.{Locale, TimeZone}
import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.{GQuery, SparkEntry}

/** Dev gates for the replay contract beyond the fixed-geometry oracle:
  * every registered query must give the SAME canonical result ([[Canon]])
  * when something that varies across real clusters changes under it. Each
  * subcommand runs the whole registry as a reference pass and one or more
  * contrasting passes, and requires digest equality query by query; a
  * query that throws in any pass fails that pass (the modes must AGREE,
  * not merely both complete).
  *
  *   sbt "runMain graft.tools.Audit geometry" [sfDir]
  *     Execution geometry. A: local[3], 7 shuffle partitions, AQE off,
  *     1 MiB input splits (prime fan-in, many tiny scan tasks); B:
  *     local[32], 32 shuffle partitions, AQE on, 128 MiB splits. Catches an
  *     un-tiebroken top-k, `first()` over an unordered frame, float
  *     aggregation order crossing a round() boundary.
  *   sbt "runMain graft.tools.Audit mode" [sfDir]
  *     Runtime modes, each against the driver's configuration R: ANSI
  *     flipped from R's default (every cast/overflow must be domain-guarded
  *     so neither mode's special behavior fires); codegen off (interpreted
  *     `eval` must agree with every hand-written `doGenCode` — Spark falls
  *     back to it on its own at Janino limits); the row-based parquet
  *     reader with pushdown off (Spark demotes scans per-file on its own);
  *     the JVM default timezone/locale flipped to Asia/Kolkata + tr-TR
  *     (session TZ stays UTC, so this catches Scala-side `TimeZone
  *     .getDefault`/`Locale.getDefault` leakage). Code that latched the
  *     default TZ into a static during R is under-tested by the last axis.
  *   sbt "runMain graft.tools.Audit layout" [sfDir] [workDir]
  *     Data layout. Every table is rewritten to `workDir` globally
  *     reordered by a content hash across a different file count, as
  *     compaction or another writer would; the two copies must agree.
  *   sbt "runMain graft.tools.Audit retry" [sfDir]
  *     Task retry, master `local[N, 4]` (plain local[N] aborts on the first
  *     failure). Scan pass: [[graft.Tables.RetryFaultKey]] fails attempt 0
  *     of every table-load and GameEventsSource task. Post-shuffle pass:
  *     [[graft.Tables.RetryFaultPostShuffleKey]] plus a barrier over each
  *     result fail attempt 0 of the final stage and of every staged
  *     checkpoint job, so the retry re-merges already-written shuffle
  *     partials. Local mode cannot fail interior shuffle fetches, so the
  *     audit counts the queries whose faulted stage really sat above a
  *     shuffle and requires that count to be nonzero.
  *   sbt "runMain graft.tools.Audit concurrency" [sfDirA] [sfDirB]
  *     One shared session, the multi-tenant shape: sequential references,
  *     then two 8-thread passes in opposite submission orders, each
  *     interleaving the registry over BOTH datasets — cross-dataset is
  *     where a fixed-name view or a too-coarse memo key cross-resolves
  *     (same-dataset races are often idempotent).
  */
object Audit {

  /** Digest and row count of one run, or why it threw. */
  type Outcome = Either[String, (String, Int)]

  def main(args: Array[String]): Unit = args.toList match {
    case "geometry" :: rest => geometry(rest)
    case "mode" :: rest => mode(rest)
    case "layout" :: rest => layout(rest)
    case "retry" :: rest => retry(rest)
    case "concurrency" :: rest => concurrency(rest)
    case _ =>
      sys.error("usage: Audit geometry|mode|retry [sfDir] | " +
        "layout [sfDir] [workDir] | concurrency [sfDirA] [sfDirB]")
  }

  /** Digest each named run of `work` through `threads` workers, submitted
    * in `work`'s order, and log the finished pass as `[tag] pass label`. */
  private def digests(tag: String, label: String,
                      work: Seq[(String, () => DataFrame)], threads: Int = 1,
                      digestWith: DataFrame => (String, Int) = Canon.digestDf)
      : Map[String, Outcome] = {
    def one(run: () => DataFrame): Outcome =
      try Right(digestWith(run()))
      catch {
        case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    val out =
      if (threads == 1) work.map { case (n, run) => n -> one(run) }.toMap
      else {
        val pool = Executors.newFixedThreadPool(threads)
        try work.map { case (n, run) =>
          n -> pool.submit(new Callable[Outcome] { def call(): Outcome = one(run) })
        }.map { case (n, f) => n -> f.get() }.toMap
        finally { pool.shutdown(); pool.awaitTermination(60, TimeUnit.SECONDS) }
      }
    println(s"[$tag] pass $label done: ${out.size} runs")
    out
  }

  /** One line per key on which `pass` disagrees with `ref`, in key order:
    * DIVERGED with both row counts and digests, or the side that threw. */
  private[graft] def compare(ref: (String, Map[String, Outcome]),
                             pass: (String, Map[String, Outcome])): Seq[String] = {
    val ((rl, r), (pl, p)) = (ref, pass)
    r.keySet.toSeq.sorted.flatMap { n =>
      (r(n), p(n)) match {
        case (Right((dr, _)), Right((dp, _))) if dr == dp => None
        case (Right((dr, rr)), Right((dp, rp))) =>
          Some(s"$n: DIVERGED rows[$rl]=$rr rows[$pl]=$rp " +
            s"digest[$rl]=${dr.take(12)} digest[$pl]=${dp.take(12)}")
        case (Left(e), _) => Some(s"$n: $rl threw $e")
        case (_, Left(e)) => Some(s"$n: $pl threw $e")
      }
    }
  }

  /** Print each divergence and the `[tag] done:` summary, then `checks`. */
  private def finish(tag: String, bad: Seq[String], done: String)
                    (checks: => Unit): Unit = {
    bad.foreach(m => println(s"[$tag] FAIL $m"))
    println(s"[$tag] done: $done")
    checks
  }

  private def inSession[R](workers: Int = graft.Session.workers,
                           conf: Map[String, String] = Map.empty)
                          (body: SparkSession => R): R = {
    val spark = graft.Session.local(workers, conf, logLevel = "ERROR")
    try body(spark)
    finally {
      graft.Session.stop(spark)
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  private def registry(spark: SparkSession, dir: String)
      : Seq[(String, () => DataFrame)] =
    SparkEntry.all.map(q => q.name -> (() => q.run(spark, dir)))

  /** The registry at `dir` in a session of its own, stopped afterwards. */
  private def pass(tag: String, label: String, dir: String,
                   workers: Int = graft.Session.workers,
                   conf: Map[String, String] = Map.empty,
                   digestWith: DataFrame => (String, Int) = Canon.digestDf)
      : Map[String, Outcome] =
    inSession(workers, conf)(s =>
      digests(tag, label, registry(s, dir), digestWith = digestWith))

  private def geometry(args: List[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    def geo(cores: Int, partitions: Int, aqe: Boolean, splits: String) =
      pass("determinism", s"$cores cores, $partitions shuffle, " +
        s"AQE ${if (aqe) "on" else "off"}, $splits splits", dir, cores, Map(
          "spark.sql.shuffle.partitions" -> partitions.toString,
          "spark.sql.adaptive.enabled" -> aqe.toString,
          "spark.sql.files.maxPartitionBytes" -> splits))
    val a = geo(3, 7, aqe = false, "1m")
    val b = geo(32, 32, aqe = true, "128m")
    val bad = compare("geometry A" -> a, "geometry B" -> b)
    finish("determinism", bad, s"${a.size} queries, ${bad.size} divergent") {
      require(bad.isEmpty, s"${bad.size} queries are execution-geometry-sensitive")
    }
  }

  private def mode(args: List[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val (reference, ansiDefault) = inSession() { s =>
      val ansi = s.conf.get("spark.sql.ansi.enabled")
      println(s"[mode] ANSI default in this build: $ansi")
      (digests("mode", "R", registry(s, dir)), ansi.toBoolean)
    }
    val axes = Seq(
      s"ansi=${!ansiDefault}" ->
        Map("spark.sql.ansi.enabled" -> (!ansiDefault).toString),
      "no-codegen" -> Map(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
      // pushdown-off must be pure optimization: a pushed filter evaluating
      // differently from the post-scan one (timestamp/decimal edges)
      // changes row sets
      "row-reader" -> Map(
        "spark.sql.parquet.enableVectorizedReader" -> "false",
        "spark.sql.parquet.filterPushdown" -> "false"))
    val confPasses = axes.map { case (axis, conf) =>
      axis -> pass("mode", axis, dir, conf = conf)
    }
    val (tz0, loc0) = (TimeZone.getDefault, Locale.getDefault)
    val tzPass = try {
      TimeZone.setDefault(TimeZone.getTimeZone("Asia/Kolkata"))
      Locale.setDefault(Locale.forLanguageTag("tr-TR"))
      "tz-kolkata+tr" -> pass("mode", "tz-kolkata+tr", dir)
    } finally { TimeZone.setDefault(tz0); Locale.setDefault(loc0) }
    val bad = (confPasses :+ tzPass).flatMap(compare("R" -> reference, _))
    finish("mode", bad, s"${reference.size} queries x ${axes.size + 1} axes, " +
      s"${bad.size} divergent") {
      require(bad.isEmpty, s"${bad.size} mode-sensitive query runs")
    }
  }

  private val LayoutTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Rewrite `name` globally reordered by a content hash across a co-prime
    * file count. The RAW physical schema is kept (no Tables.events ts
    * normalization), so the copy exercises the same normalization choke
    * point as the original: nanosecond timestamps, which the vectorized
    * reader rejects, are read and rewritten as plain INT64 nanos, the other
    * encoding that choke point absorbs. */
  private def rewrite(spark: SparkSession, sfDir: String, outDir: String,
                      name: String): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    df.repartition(7, h)
      .sortWithinPartitions(h)
      .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
  }

  private def layout(args: List[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val workDir = args.lift(1).getOrElse("/tmp/graft_layout/data")
    // fixed geometry: the rewritten layout must not move with the host
    inSession(workers = 32)(s => LayoutTables.foreach(rewrite(s, dir, workDir, _)))
    println(s"[layout] rewrote ${LayoutTables.size} tables to $workDir")
    val a = pass("layout", s"original($dir)", dir)
    val b = pass("layout", s"reordered($workDir)", workDir)
    val bad = compare("original" -> a, "reordered" -> b)
    finish("layout", bad, s"${a.size} queries, ${bad.size} divergent") {
      require(bad.isEmpty, s"${bad.size} queries are data-layout-sensitive")
    }
  }

  /** True iff the executed plan contains a ShuffleExchangeLike anywhere —
    * descending through AQE wrappers (AdaptiveSparkPlanExec holds its
    * final plan out-of-tree; materialized stages sit behind
    * QueryStageExec, whose wrapped `plan` is likewise not a child). Walked,
    * not substring-matched: "Exchange" also matches BroadcastExchangeExec,
    * and a broadcast-only plan has no shuffle partials under its final
    * stage, so counting it would inflate the retry audit's coverage. */
  private[graft] def hasShuffleExchange(p: SparkPlan): Boolean = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      hasShuffleExchange(a.executedPlan)
    case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
      true
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      hasShuffleExchange(q.plan)
    case other => other.children.exists(hasShuffleExchange)
  }

  private def retry(args: List[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    def faults(maxFailures: Int, scan: Boolean, postShuffle: Boolean) = Map(
      "spark.master" -> s"local[${graft.Session.workers}, $maxFailures]",
      // many tiny scan tasks ⇒ many injected failures per stage, and the
      // per-TASK failure count stays 1 « maxFailures
      "spark.sql.files.maxPartitionBytes" -> "1m",
      graft.Tables.RetryFaultKey -> scan.toString,
      graft.Tables.RetryFaultPostShuffleKey -> postShuffle.toString)
    val ref = pass("retry", "reference (no faults)", dir,
      conf = faults(1, scan = false, postShuffle = false))
    val scanned = pass("retry", "faulted (every scan task fails attempt 0)", dir,
      conf = faults(4, scan = true, postShuffle = false))
    var nPost = 0
    val merged = pass("retry",
      "faulted (result + staged-checkpoint stages fail attempt 0)", dir,
      conf = faults(4, scan = false, postShuffle = true), digestWith = { base =>
        val df = graft.Tables.retryFaultBarrier(base)
        val dig = Canon.digestDf(df)
        // the AQE-final plan: a shuffle below the barrier means the
        // faulted final stage really was post-shuffle
        if (hasShuffleExchange(df.queryExecution.executedPlan)) nPost += 1
        dig
      })
    val bad = compare("reference" -> ref, "scan" -> scanned) ++
      compare("reference" -> ref, "post-shuffle" -> merged)
    finish("retry", bad, s"${ref.size} queries, ${bad.size} divergent, " +
      s"$nPost faulted post-shuffle (Exchange below the result barrier)") {
      require(nPost > 0,
        "post-shuffle fault pass exercised zero Exchange-bearing queries — " +
          "the barrier or the plan probe regressed")
      require(bad.isEmpty, s"${bad.size} queries are task-retry-sensitive")
    }
  }

  private def concurrency(args: List[String]): Unit = {
    val dirs = Seq(args.headOption.getOrElse("/root/testdata/sf0.01"),
      args.lift(1).getOrElse("/root/testdata/sf0.001"))
    inSession() { spark =>
      def run(q: GQuery, dir: String) = s"$dir::${q.name}" -> (() => q.run(spark, dir))
      val sequential = digests("concurrency", "sequential reference",
        dirs.flatMap(d => SparkEntry.all.map(run(_, d))))
      // a-z over dataset pairs: the same query on the two datasets runs
      // back-to-back, the tightest race window for per-query shared names
      val az = SparkEntry.all.sortBy(_.name).flatMap(q => dirs.map(run(q, _)))
      val passes = Seq("8-thread(a-z)" -> az, "8-thread(z-a)" -> az.reverse)
        .map { case (label, work) =>
          label -> digests("concurrency", label, work, threads = 8)
        }
      val bad = passes.flatMap(compare("sequential" -> sequential, _))
      finish("concurrency", bad, s"${sequential.size} (query, dataset) pairs x " +
        s"${passes.size} concurrent passes, ${bad.size} divergent") {
        require(bad.isEmpty, s"${bad.size} concurrency-sensitive query runs")
      }
    }
  }
}
