package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev gate: every registered query must produce the SAME result set under
  * radically different execution geometry. On a 1000-executor cluster
  * nothing about local[32] survives — the core count, the shuffle
  * partition count, AQE's runtime coalescing/skew-splitting, and the input
  * split boundaries all change — so any query whose answer depends on one
  * of them is wrong at scale even though the fixed-geometry oracle gate
  * can never see it (classic escapes: an un-tiebroken top-k picking
  * whichever tied row its partition saw first, a `first()`/`head` over an
  * unordered frame, float aggregation order crossing a round() boundary).
  *
  * Two sequential sessions in one JVM:
  *   A: local[3], shuffle.partitions=7, AQE OFF, 1 MiB input splits
  *      (maximally awkward: prime fan-in, many tiny scan tasks);
  *   B: local[32], shuffle.partitions=32, AQE ON, default 128 MiB splits
  *      (the driver's geometry).
  * Each query's result is canonicalized ([[Canon]]: rows formatted
  * cell-by-cell and sorted; map cells entry-sorted; doubles at 9
  * significant digits so partial-aggregation reassociation noise below the
  * house round()/scaled-integer contract doesn't false-positive) and the
  * two digests must match. [[ModeAudit]] covers the runtime-mode axes
  * (ANSI, codegen, JVM default tz/locale) under the same canonical form.
  *
  *   sbt "runMain graft.tools.DeterminismAudit" [sfDir]
  */
object DeterminismAudit {

  /** digest + row count per query, or the failure message. */
  private def runAll(label: String, cores: Int, shufflePartitions: Int,
                     aqe: Boolean, maxPartitionBytes: String,
                     sfDir: String): Map[String, Either[String, (String, Int)]] = {
    val spark = graft.Session.local(cores, logLevel = "ERROR", conf = Map(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.adaptive.enabled" -> aqe.toString,
      "spark.sql.files.maxPartitionBytes" -> maxPartitionBytes))
    val out = graft.SparkEntry.all.map { q =>
      q.name -> (try Right(Canon.digestDf(q.run(spark, sfDir)))
      catch {
        case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      })
    }.toMap
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    println(s"[determinism] geometry $label done: ${out.size} queries")
    out
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val a = runAll("A(3 cores, 7 shuffle, AQE off, 1m splits)",
      cores = 3, shufflePartitions = 7, aqe = false,
      maxPartitionBytes = "1m", sfDir = sfDir)
    val b = runAll("B(32 cores, 32 shuffle, AQE on, 128m splits)",
      cores = 32, shufflePartitions = 32, aqe = true,
      maxPartitionBytes = "128m", sfDir = sfDir)
    val names = a.keySet.toSeq.sorted
    val bad = names.flatMap { n =>
      (a(n), b(n)) match {
        case (Right((da, ra)), Right((db, rb))) if da == db => None
        case (Right((da, ra)), Right((db, rb))) =>
          Some(s"$n: DIVERGED rowsA=$ra rowsB=$rb digestA=${da.take(12)} digestB=${db.take(12)}")
        case (Left(e), _) => Some(s"$n: geometry A threw $e")
        case (_, Left(e)) => Some(s"$n: geometry B threw $e")
      }
    }
    bad.foreach(m => println(s"[determinism] FAIL $m"))
    println(s"[determinism] done: ${names.size} queries, ${bad.size} divergent")
    require(bad.isEmpty, s"${bad.size} queries are execution-geometry-sensitive")
  }
}
