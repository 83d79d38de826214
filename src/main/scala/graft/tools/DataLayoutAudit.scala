package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev gate closing the last invariance axis: DATA LAYOUT. The oracle,
  * geometry, and mode gates all read the SAME parquet files, so none of
  * them can see a query whose answer depends on how the bytes happen to
  * lie on disk — row order within files, row-to-file assignment, file
  * count. At 100 TB none of that is stable: compaction jobs rewrite
  * files, ingestion order varies by producer, and a table rewritten by a
  * different writer must not change a single query result. Classic
  * escapes: `first()`/`limit` without an order, a window function whose
  * frame tiebreak is incomplete, anything keyed off
  * monotonically_increasing_id / input_file_name (the engine uses none,
  * and this gate keeps it that way).
  *
  * The audit rewrites every table of the corpus with a deterministic but
  * adversarial layout — rows globally reordered by a column-content hash
  * (uncorrelated with the original order) and scattered across a
  * different file count — then runs the whole registry against both
  * copies and requires canonically identical results ([[Canon]]).
  *
  *   sbt "runMain graft.tools.DataLayoutAudit" [sfDir] [workDir]
  */
object DataLayoutAudit {

  private val TableNames = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Rewrite `name` under an adversarial layout: global reorder by a
    * content hash and a co-prime file count. The RAW physical schema is
    * preserved (no Tables.events ts normalization here — the rewritten
    * copy must exercise the same normalization choke point the original
    * does). */
  private def rewrite(spark: SparkSession, sfDir: String, outDir: String,
                      name: String): Unit = {
    // the events table may carry nanosecond timestamps the vectorized
    // reader rejects; read them as longs exactly like Tables.events does
    // (the rewritten file then carries plain INT64 nanos, one of the two
    // physical encodings the normalization choke point already absorbs)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    df.repartition(7, h)
      .sortWithinPartitions(h)
      .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
  }

  private def runAll(label: String, sfDir: String)
    : Map[String, Either[String, (String, Int)]] = {
    val spark = graft.Session.local(logLevel = "ERROR")
    val out = graft.SparkEntry.all.map { q =>
      q.name -> (try Right(Canon.digestDf(q.run(spark, sfDir)))
      catch {
        case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      })
    }.toMap
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    println(s"[layout] pass $label done: ${out.size} queries")
    out
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val workDir = args.lift(1).getOrElse("/tmp/graft_layout/data")

    // fixed geometry: the rewritten layout must not move with the host
    val w = graft.Session.local(workers = 32, logLevel = "ERROR")
    TableNames.foreach(t => rewrite(w, sfDir, workDir, t))
    w.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    println(s"[layout] rewrote ${TableNames.size} tables to $workDir")

    val a = runAll(s"original($sfDir)", sfDir)
    val b = runAll(s"reordered($workDir)", workDir)
    val names = a.keySet.toSeq.sorted
    val bad = names.flatMap { n =>
      (a(n), b(n)) match {
        case (Right((da, _)), Right((db, _))) if da == db => None
        case (Right((da, ra)), Right((db, rb))) =>
          Some(s"$n: DIVERGED rowsA=$ra rowsB=$rb " +
            s"digestA=${da.take(12)} digestB=${db.take(12)}")
        case (Left(e), _) => Some(s"$n: original pass threw $e")
        case (_, Left(e)) => Some(s"$n: reordered pass threw $e")
      }
    }
    bad.foreach(m => println(s"[layout] FAIL $m"))
    println(s"[layout] done: ${names.size} queries, ${bad.size} divergent")
    require(bad.isEmpty, s"${bad.size} queries are data-layout-sensitive")
  }
}
