package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev gate: every registered query must produce the SAME result set when
  * its tasks FAIL AND RETRY. On a 1000-executor cluster task attempts are
  * routine — preemption, spot-instance loss, executor OOM-kills, fetch
  * failures — and Spark's recovery contract is that a retried task is
  * indistinguishable from a first attempt. Any query that violates that
  * (attempt-level side effects double-applied, per-attempt non-determinism
  * like an uncached rand() or wall-clock read feeding a result column,
  * a memo keyed so a re-run poisons it) is wrong at scale in a way every
  * single-attempt gate — oracle, geometry, mode, layout, concurrency —
  * structurally cannot see. This is the retry axis of the invariance set.
  *
  * Two fault points, exercised as two faulted passes against one clean
  * reference run (master `local[N, 4]` — local mode with maxFailures=4;
  * plain local[N] aborts the job on the first failure):
  *
  *  1. SCAN stages — [[graft.Tables.RetryFaultKey]] turns every table load
  *     (the choke point all parquet reads share) AND the DSV2
  *     GameEventsSource reader factory into a pass-through barrier whose
  *     task throws on attempt 0, so the scan stage of every query executes
  *     twice per partition under real TaskSetManager retry.
  *  2. POST-SHUFFLE stages — [[graft.Tables.RetryFaultPostShuffleKey]]
  *     plus a harness-side wrap of each query's RESULT frame make the
  *     final stage (downstream of the query's last Exchange, wherever one
  *     exists) and every [[graft.Materialize.stage]] checkpoint job fail
  *     attempt 0, so the retried task re-executes its merge over
  *     already-written shuffle partials — the stage class where
  *     nondeterministic partial-aggregate merges actually diverge. Local
  *     mode cannot produce the fetch failures that retry INTERIOR shuffle
  *     stages, but a task-level throw inside a post-shuffle stage retries
  *     fine; the audit prints how many queries faulted downstream of a
  *     real Exchange so the coverage is a measured number, not a claim.
  *
  * The faulted runs' canonical digests ([[Canon]]) must equal the clean
  * reference run's, query by query.
  *
  *   sbt "runMain graft.tools.RetryAudit" [sfDir]
  */
object RetryAudit {

  /** True iff the executed plan contains a ShuffleExchangeLike anywhere —
    * descending through AQE wrappers (AdaptiveSparkPlanExec holds its
    * final plan out-of-tree; materialized stages sit behind
    * QueryStageExec, whose wrapped `plan` is likewise not a child). */
  private[tools] def hasShuffleExchange(
      p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      hasShuffleExchange(a.executedPlan)
    case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
      true
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      hasShuffleExchange(q.plan)
    case other => other.children.exists(hasShuffleExchange)
  }

  private def runAll(label: String, maxFailures: Int, scanFault: Boolean,
                     postShuffleFault: Boolean, sfDir: String)
      : (Map[String, Either[String, (String, Int)]], Int) = {
    val spark = graft.Session.local(logLevel = "ERROR", conf = Map(
      "spark.master" -> s"local[${graft.Session.workers}, $maxFailures]",
      // many tiny scan tasks ⇒ many injected failures per stage, and the
      // per-TASK failure count stays 1 « maxFailures
      "spark.sql.files.maxPartitionBytes" -> "1m",
      graft.Tables.RetryFaultKey -> scanFault.toString,
      graft.Tables.RetryFaultPostShuffleKey -> postShuffleFault.toString))
    var postShuffleFaulted = 0
    val out = graft.SparkEntry.all.map { q =>
      q.name -> (try {
        val base = q.run(spark, sfDir)
        val df =
          if (postShuffleFault) graft.Tables.retryFaultBarrier(base) else base
        val dig = Canon.digestDf(df)
        // post-execution (AQE-final) plan: a SHUFFLE exchange below the
        // barrier means the faulted final stage really was post-shuffle.
        // Walked, not substring-matched: the old `contains("Exchange")`
        // also matched BroadcastExchangeExec, and a broadcast-only plan
        // has no shuffle partials under its final stage — counting it
        // would inflate the coverage number this audit exists to measure.
        if (postShuffleFault && hasShuffleExchange(
          df.queryExecution.executedPlan))
          postShuffleFaulted += 1
        Right(dig)
      } catch {
        case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      })
    }.toMap
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    println(s"[retry] $label done: ${out.size} queries" +
      (if (postShuffleFault) s", $postShuffleFaulted faulted post-shuffle"
       else ""))
    (out, postShuffleFaulted)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // reference first: a clean single-attempt run on the same split size
    val (ref, _) = runAll("reference (no faults)", 1,
      scanFault = false, postShuffleFault = false, sfDir = sfDir)
    val (scanned, _) = runAll("faulted (every scan task fails attempt 0)",
      4, scanFault = true, postShuffleFault = false,
      sfDir = sfDir)
    val (merged, nPost) = runAll(
      "faulted (result + staged-checkpoint stages fail attempt 0)",
      4, scanFault = false, postShuffleFault = true,
      sfDir = sfDir)
    val names = ref.keySet.toSeq.sorted
    def diff(tag: String, got: Map[String, Either[String, (String, Int)]]) =
      names.flatMap { n =>
        (ref(n), got(n)) match {
          case (Right((dr, _)), Right((df, _))) if dr == df => None
          case (Right((dr, rr)), Right((df, rf))) =>
            Some(s"$n [$tag]: DIVERGED rowsRef=$rr rowsFaulted=$rf " +
              s"digestRef=${dr.take(12)} digestFaulted=${df.take(12)}")
          case (Left(e), _) => Some(s"$n [$tag]: reference threw $e")
          case (_, Left(e)) => Some(s"$n [$tag]: faulted run threw $e")
        }
      }
    val bad = diff("scan", scanned) ++ diff("post-shuffle", merged)
    bad.foreach(m => println(s"[retry] FAIL $m"))
    println(s"[retry] done: ${names.size} queries, ${bad.size} divergent, " +
      s"$nPost faulted post-shuffle (Exchange below the result barrier)")
    require(nPost > 0,
      "post-shuffle fault pass exercised zero Exchange-bearing queries — " +
        "the barrier or the plan probe regressed")
    require(bad.isEmpty, s"${bad.size} queries are task-retry-sensitive")
  }
}
