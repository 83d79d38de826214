package graft.tools

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev tool: classify every oracle SQL by whether Spark's SQL dialect can run
  * it over the temp-view catalog, and whether the result matches the engine
  * query. Output feeds SqlParitySpec's pinned list.
  *
  *   sbt "runMain graft.tools.SqlParityProbe [sfDir]"
  */
object SqlParityProbe {

  /** Canonical comparable form: columns sorted by name, rows sorted by their
    * string rendering, doubles compared through a fixed 1e-6 grid (both
    * sides are Spark here; only plan-order double summation can differ).
    */
  def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect()
      .map(r => cols.indices.map { i =>
        r.get(i) match {
          case d: java.lang.Double => f"${math.rint(d * 1e6) / 1e6}%.6f"
          // Spark SQL literal division yields DECIMAL where the DataFrame
          // side used double — same value, different carrier type
          case d: java.math.BigDecimal => f"${math.rint(d.doubleValue * 1e6) / 1e6}%.6f"
          case v => String.valueOf(v)
        }
      }.mkString("|"))
      .toSeq.sorted
  }

  /** Run `f` with DuckDB-style RAW string literals (no backslash escape
    * processing) — the translated oracle texts assume them. */
  def withRawLiterals[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.parser.escapedStringLiterals"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session.local(logLevel = "ERROR")
    Tables.registerViews(spark, dir)
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    val results = SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (name, sql) =>
      def attempt(text: String, tag: String): Either[String, String] =
        try {
          val oracle = canon(spark.sql(text))
          val engine = canon(byName(name).run(spark, dir))
          if (oracle == engine) Right(tag)
          else Left(s"MISMATCH$tag engine=${engine.size} oracle=${oracle.size}")
        } catch {
          case e: Throwable =>
            val msg = String.valueOf(e.getMessage).linesIterator
              .filter(_.trim.nonEmpty).take(2).mkString(" / ").take(160)
            Left(s"NOSQL$tag ${e.getClass.getSimpleName}: $msg")
        }
      // verbatim first; on any failure retry through the DuckDB→Spark
      // dialect translation (SqlParitySpec runs the same two-step). The
      // translated text parses with RAW string literals — DuckDB does not
      // process backslash escapes, and the oracles' regexes rely on that.
      val status = attempt(sql, "") match {
        case Right(t) => s"PARITY$t"
        case Left(err1) =>
          val r = withRawLiterals(spark)(
            attempt(DuckSqlDialect.toSpark(sql), "_XLATE"))
          r match {
            case Right(t) => s"PARITY$t"
            case Left(err2) => s"$err1 || $err2"
          }
      }
      println(s"[parity] $name $status")
      name -> status
    }
    val parity = results.count(_._2.startsWith("PARITY"))
    val verbatim = results.count(_._2 == "PARITY")
    println(s"[parity] summary: $parity/${results.size} run through spark.sql " +
      s"with identical results ($verbatim verbatim, ${parity - verbatim} translated)")
    spark.stop()
  }
}
