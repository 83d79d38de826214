package graft.tools

import java.util.{Locale, TimeZone}

import org.apache.spark.sql.SparkSession

/** Dev gate: every registered query must produce the SAME result set under
  * runtime-mode flips that vary across real clusters but that the
  * fixed-config oracle gate (and [[DeterminismAudit]]'s geometry axes)
  * structurally cannot see:
  *
  *  - **ANSI mode** (`spark.sql.ansi.enabled` flipped from the build's
  *    default). A query that is only correct because a cast saturates
  *    (non-ANSI) or because an overflow throws (ANSI) is relying on a
  *    cluster-wide conf its user may set either way; digest equality
  *    proves every cast/overflow/element_at/divide in the registry is
  *    DOMAIN-GUARDED — neither mode's special behavior ever fires.
  *  - **Codegen off** (`spark.sql.codegen.wholeStage=false`,
  *    `spark.sql.codegen.factoryMode=NO_CODEGEN`). Every hand-written
  *    Catalyst expression in functions/ ships both an interpreted `eval`
  *    and a `doGenCode`; Spark also falls back to the interpreted path at
  *    runtime on its own (Janino failure, expression-tree limits — the
  *    IvfScaleSmoke k=256 incident), so a divergence between the two is a
  *    wrong answer waiting on a fallback, invisible while codegen succeeds.
  *  - **Row-based parquet read path** (vectorized reader off + filter
  *    pushdown off). Spark demotes individual scans to the row reader on
  *    its own — nested schemas, unsupported encodings — and pushdown is
  *    supposed to be pure optimization; a query whose rows change under
  *    either is reading values the two scan paths disagree on.
  *  - **JVM default timezone + locale** (Asia/Kolkata — a half-hour UTC
  *    offset — and tr-TR, whose dotless-ı casing breaks naive toUpperCase).
  *    The session timezone is pinned UTC at every entry point, so SQL-side
  *    calendar bucketing is already nailed down; what this axis catches is
  *    SCALA-side leakage — operator/driver code reaching `TimeZone
  *    .getDefault`/`Locale.getDefault` through java.time, `Timestamp`
  *    external-type conversion, or default-locale string casing. On a real
  *    fleet the executor JVMs inherit whatever the machine image set.
  *
  * One JVM, four sequential sessions: R (the driver's configuration,
  * recording the build's ANSI default), then one session per axis, each
  * compared digest-for-digest against R via [[Canon]]. A query that throws
  * under any mode is a failure of that axis (the guard should make the
  * modes AGREE, not merely both complete).
  *
  * Caveat (documented, inherent to in-JVM flips): code that latched
  * `TimeZone.getDefault` into a static during the R pass is under-tested
  * by the TZ axis; the axis still covers every per-call read, which is
  * where the operator code sits.
  *
  *   sbt "runMain graft.tools.ModeAudit" [sfDir]
  */
object ModeAudit {

  private def runAll(label: String, extraConf: Map[String, String],
                     sfDir: String): Map[String, Either[String, (String, Int)]] = {
    val spark = graft.Session.local(conf = extraConf, logLevel = "ERROR")
    if (label == "R") println(s"[mode] ANSI default in this build: " +
      spark.conf.get("spark.sql.ansi.enabled"))
    val out = graft.SparkEntry.all.map { q =>
      q.name -> (try Right(Canon.digestDf(q.run(spark, sfDir)))
      catch {
        case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      })
    }.toMap
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    println(s"[mode] pass $label done: ${out.size} queries")
    out
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")

    val reference = runAll("R", Map.empty, sfDir)

    // flip ANSI away from whatever this build defaults to
    val ansiDefault = {
      val s = graft.Session.local(workers = 1)
      val v = s.conf.get("spark.sql.ansi.enabled").toBoolean
      s.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      v
    }
    val axes = Seq(
      s"ansi=${!ansiDefault}" ->
        Map("spark.sql.ansi.enabled" -> (!ansiDefault).toString),
      "no-codegen" -> Map(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
      // the row-based parquet path: Spark takes it BY ITSELF per-file
      // (nested schemas, unsupported encodings), so any scan whose
      // values differ between the vectorized and row readers is a wrong
      // answer waiting on a file layout; pushdown-off must also be pure
      // optimization (a pushed filter evaluating differently from the
      // post-scan one — timestamp/decimal edges — changes row sets)
      "row-reader" -> Map(
        "spark.sql.parquet.enableVectorizedReader" -> "false",
        "spark.sql.parquet.filterPushdown" -> "false"))

    val names = reference.keySet.toSeq.sorted
    var failures = Vector.empty[String]
    def compare(axis: String, pass: Map[String, Either[String, (String, Int)]])
      : Unit = names.foreach { n =>
      (reference(n), pass(n)) match {
        case (Right((dr, _)), Right((dp, _))) if dr == dp => ()
        case (Right((dr, rr)), Right((dp, rp))) =>
          failures :+= s"$axis $n: DIVERGED rowsR=$rr rows=$rp " +
            s"digestR=${dr.take(12)} digest=${dp.take(12)}"
        case (Left(e), _) =>
          failures :+= s"$axis $n: reference pass threw $e"
        case (_, Left(e)) =>
          failures :+= s"$axis $n: threw $e"
      }
    }

    axes.foreach { case (axis, conf) => compare(axis, runAll(axis, conf, sfDir)) }

    // TZ/locale axis: flip the JVM defaults, run, restore.
    val (tz0, loc0) = (TimeZone.getDefault, Locale.getDefault)
    try {
      TimeZone.setDefault(TimeZone.getTimeZone("Asia/Kolkata"))
      Locale.setDefault(Locale.forLanguageTag("tr-TR"))
      compare("tz-kolkata+tr", runAll("tz-kolkata+tr", Map.empty, sfDir))
    } finally { TimeZone.setDefault(tz0); Locale.setDefault(loc0) }

    failures.foreach(m => println(s"[mode] FAIL $m"))
    println(s"[mode] done: ${names.size} queries x ${axes.size + 1} axes, " +
      s"${failures.size} divergent")
    require(failures.isEmpty, s"${failures.size} mode-sensitive query runs")
  }
}
