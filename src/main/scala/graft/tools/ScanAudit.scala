package graft.tools

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Dev audit: execute every registered query at smoke scale and count how
  * many times each base parquet table appears as a FileScan in the FINAL
  * adaptive plan. A table scanned more than once is either a deliberate
  * multi-pass (q22's scalar-average + probe of customer, decontamination's
  * benchmark/corpus split of documents, CDC's prefix + full log) or a
  * missed staging/reuse opportunity (the gap-fill bug this tool was built
  * after). Output is one line per (query, table, scans>1) for adjudication
  * — an empty report means every multi-consumer intermediate is staged or
  * exchange-reused.
  *
  *   sbt "runMain graft.tools.ScanAudit" [sfDir]
  */
object ScanAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local(logLevel = "ERROR",
      conf = Map("spark.sql.debug.maxToStringFields" -> "200"))

    val tablePat = "([a-z_]+)\\.parquet".r
    var flagged = 0
    graft.SparkEntry.all.sortBy(_.name).foreach { q =>
      try {
        val df = q.run(spark, dir)
        df.collect()
        val plan = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan.toString
          case p => p.toString
        }
        val counts = tablePat.findAllMatchIn(plan).map(_.group(1)).toSeq
          .groupBy(identity).view.mapValues(_.size).toMap
        counts.filter(_._2 > 1).foreach { case (t, n) =>
          flagged += 1
          println(s"[scan-audit] ${q.name}: $t scanned $n times")
        }
      } catch {
        case e: Exception =>
          println(s"[scan-audit] ${q.name}: ERROR ${e.getClass.getSimpleName}")
      }
    }
    println(s"[scan-audit] done: $flagged multi-scan (query, table) pairs")
    spark.stop()
  }
}
