package graft.tools

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.SparkSession

/** Dev gate: the registry must be safe to run CONCURRENTLY on one shared
  * SparkSession — the normal multi-tenant deployment (a notebook server,
  * a job server, a long-lived driver serving many callers). Every other
  * gate runs queries one at a time, so none can see cross-query
  * interference: a fixed-name temp view registered by one caller and
  * resolved by another (the agg_grouping_sets hazard this gate motivated
  * fixing), a session-conf mutation racing a concurrent plan, a
  * non-thread-safe memo or function-registry path.
  *
  * One session, sequential references first, then two 8-thread passes
  * submitting the work in OPPOSITE orders (different interleavings — a
  * racy pair that happens to schedule apart in one order collides in the
  * other). Crucially each concurrent pass interleaves the registry over
  * TWO DIFFERENT datasets: same-dataset races are often idempotent (two
  * callers registering the same view over the same data produce the same
  * rows), but concurrent callers on different datasets is the actual
  * multi-tenant shape, and it is where a fixed-name view or a cached
  * dataset keyed too coarsely CROSS-RESOLVES, returning dataset B's rows
  * to dataset A's caller (agg_grouping_sets used to register a
  * fixed-name view and spark.sql it — a register/analyze race whose
  * window is too narrow for this gate to reproduce deterministically,
  * which is why the fix REMOVES the view via Dataset-API groupingSets
  * rather than trusting the audit to police it). Each
  * (query, dataset) digest ([[Canon]]) must match its own sequential
  * reference exactly, and no query may throw.
  *
  *   sbt "runMain graft.tools.ConcurrencyAudit" [sfDirA] [sfDirB]
  */
object ConcurrencyAudit {

  private type Result = Map[String, Either[String, (String, Int)]]

  private def digest(q: graft.GQuery, spark: SparkSession, sfDir: String)
    : Either[String, (String, Int)] =
    try Right(Canon.digestDf(q.run(spark, sfDir)))
    catch {
      case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** Interleave every (query, dir) pair from both datasets through one
    * 8-thread pool; keys in the result are "dir::name". */
  private def concurrentPass(label: String, spark: SparkSession,
                             dirs: Seq[String], reverse: Boolean): Result = {
    val pool = Executors.newFixedThreadPool(8)
    // a-z over dataset pairs so the same query on the two datasets runs
    // back-to-back — the tightest race window for per-query shared names
    val work0 = graft.SparkEntry.all.sortBy(_.name)
      .flatMap(q => dirs.map(d => (q, d)))
    val work = if (reverse) work0.reverse else work0
    val futures = work.map { case (q, dir) =>
      s"$dir::${q.name}" ->
        pool.submit(new Callable[Either[String, (String, Int)]] {
          override def call(): Either[String, (String, Int)] =
            digest(q, spark, dir)
        })
    }
    val out = futures.map { case (n, f) => n -> f.get() }.toMap
    pool.shutdown()
    pool.awaitTermination(60, TimeUnit.SECONDS)
    println(s"[concurrency] pass $label done: ${out.size} (query, dataset) pairs")
    out
  }

  def main(args: Array[String]): Unit = {
    val dirA = args.headOption.getOrElse("/root/testdata/sf0.01")
    val dirB = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local(logLevel = "ERROR")

    val dirs = Seq(dirA, dirB)
    val sequential: Result = dirs.flatMap(d =>
      graft.SparkEntry.all.map(q => s"$d::${q.name}" -> digest(q, spark, d)))
      .toMap
    println(s"[concurrency] sequential reference done: ${sequential.size} pairs")

    val passes = Seq(
      "8-thread(a-z)" -> concurrentPass("8-thread(a-z)", spark, dirs, reverse = false),
      "8-thread(z-a)" -> concurrentPass("8-thread(z-a)", spark, dirs, reverse = true))

    val names = sequential.keySet.toSeq.sorted
    val bad = passes.flatMap { case (label, pass) =>
      names.flatMap { n =>
        (sequential(n), pass(n)) match {
          case (Right((ds, _)), Right((dp, _))) if ds == dp => None
          case (Right((ds, rs)), Right((dp, rp))) =>
            Some(s"$label $n: DIVERGED rowsSeq=$rs rows=$rp " +
              s"digestSeq=${ds.take(12)} digest=${dp.take(12)}")
          case (Left(e), _) => Some(s"$label $n: sequential threw $e")
          case (_, Left(e)) => Some(s"$label $n: threw $e")
        }
      }
    }
    bad.foreach(m => println(s"[concurrency] FAIL $m"))
    println(s"[concurrency] done: ${names.size} (query, dataset) pairs x " +
      s"${passes.size} concurrent passes, ${bad.size} divergent")
    spark.stop()
    require(bad.isEmpty, s"${bad.size} concurrency-sensitive query runs")
  }
}
