package graft.tools

import java.nio.file.{Files, Paths}

import graft.{GQuery, Session, SparkEntry, Tables}

/** Dev tool for ONE registry query at a time, one subcommand per loop:
  *
  *   sbt "runMain graft.tools.QueryTool oracle <query>"
  *     print the DuckDB oracle SQL graft.Verify ships in oracle_sql.json
  *   sbt "runMain graft.tools.QueryTool xlate <query>"
  *     print the oracle and its DuckSqlDialect translation to Spark SQL
  *   sbt "runMain graft.tools.QueryTool dump <query> <sfDir> <outPath>"
  *     write the result to parquet — the single-query slice of Verify,
  *     for DuckDB hash comparisons without the full dump
  *   sbt "runMain graft.tools.QueryTool diff <query> <sfDir>"
  *     print the first differing canonical row between the DataFrame
  *     plan and its translated oracle run through spark.sql
  *   sbt "runMain graft.tools.QueryTool time <sfDir> <query...>"
  *     run each query twice and print the times
  *   sbt "runMain graft.tools.QueryTool plans <sfDir> <tag> <suffix> <query...>"
  *     write explain("formatted") plus PlanShape counts for each query to
  *     plans/<tag>/<query>_<suffix>.txt
  */
object QueryTool {

  private def query(name: String): GQuery =
    SparkEntry.all.find(_.name == name).getOrElse(sys.error(s"unknown query $name"))

  private def oracle(name: String): String =
    SparkEntry.oracleSql.getOrElse(name,
      sys.error(s"query $name has no oracle (or is unknown)"))

  def main(args: Array[String]): Unit = args.toList match {
    case "oracle" :: name :: Nil => println(oracle(name))
    case "xlate" :: name :: Nil =>
      val sql = oracle(name)
      println("==== DUCKDB ====")
      println(sql)
      println("==== SPARK ====")
      println(DuckSqlDialect.toSpark(sql))
    case "dump" :: name :: dir :: outPath :: Nil =>
      withSession { spark =>
        query(name).run(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(outPath)
        println(s"[dump] $name -> $outPath")
      }
    case "diff" :: name :: dir :: Nil =>
      withSession { spark =>
        Tables.registerViews(spark, dir)
        val viaSql = SqlParityProbe.withRawLiterals(spark)(SqlParityProbe
          .canon(spark.sql(DuckSqlDialect.toSpark(oracle(name)))))
        val viaDf = SqlParityProbe.canon(query(name).run(spark, dir))
        println(s"[diff] rows sql=${viaSql.size} df=${viaDf.size}")
        viaSql.zip(viaDf).zipWithIndex.collectFirst {
          case ((a, b), i) if a != b =>
            println(s"[diff] first at $i:\n[diff] sql: ${a.take(400)}\n[diff] df : ${b.take(400)}")
        }.getOrElse(println("[diff] identical"))
      }
    case "time" :: dir :: names if names.nonEmpty =>
      withSession { spark =>
        names.foreach { name =>
          (1 to 2).foreach { i =>
            val t0 = System.nanoTime()
            val n = query(name).run(spark, dir).count()
            println(f"TIME $name%-28s run$i ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
          }
        }
      }
    case "plans" :: dir :: tag :: suffix :: names if names.nonEmpty =>
      withSession { spark =>
        // like graft.Bench: memo frames handed to later queries must
        // survive the per-query release
        Session.shareCheckpoints(spark)
        Files.createDirectories(Paths.get(s"plans/$tag"))
        names.foreach { name =>
          val df = query(name).run(spark, dir)
          val formatted = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val shape = PlanShape.of(df.queryExecution.executedPlan)
          val body =
            s"# $name ($suffix) — explain(formatted) at $dir\n" +
              s"# PlanShape: exchanges=${shape.exchanges} bhj=${shape.bhj} " +
              s"smj=${shape.smj} nestedLoop=${shape.nestedLoop} " +
              s"codegenStages=${shape.codegenStages}\n\n" + formatted
          Files.writeString(Paths.get(s"plans/$tag/${name}_$suffix.txt"), body)
          println(s"dumped $name ($suffix)")
          Session.releaseStaged(spark)
        }
      }
    case _ =>
      sys.error("usage: QueryTool oracle|xlate <query> | dump <query> <sfDir> " +
        "<outPath> | diff <query> <sfDir> | time <sfDir> <query...> | " +
        "plans <sfDir> <tag> <suffix> <query...>")
  }

  private def withSession(body: org.apache.spark.sql.SparkSession => Unit): Unit = {
    val spark = Session.local(logLevel = "ERROR")
    try body(spark) finally Session.stop(spark)
  }
}
