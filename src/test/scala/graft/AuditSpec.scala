package graft

import org.apache.spark.sql.functions._

import graft.tools.Audit

/** The invariance audits' shared comparator (pure: no session) and the
  * retry audit's shuffle probe. */
class AuditSpec extends SparkSuite {

  private def ok(digest: String, rows: Int): Audit.Outcome = Right((digest, rows))

  test("matching digests give no line") {
    val ref = Map("a" -> ok("d1", 3), "b" -> ok("d2", 0))
    assert(Audit.compare("ref" -> ref, "pass" -> ref) === Seq())
  }

  test("a digest mismatch gives one DIVERGED line carrying both row counts") {
    val lines = Audit.compare("ref" -> Map("q" -> ok("aaaa", 3)),
      "pass" -> Map("q" -> ok("bbbb", 5)))
    assert(lines.size === 1)
    assert(lines.head.startsWith("q: DIVERGED"))
    assert(lines.head.contains("rows[ref]=3") && lines.head.contains("rows[pass]=5"))
  }

  test("a throw on either side names that side") {
    val good = Map("q" -> ok("d", 1))
    val threw = Map[String, Audit.Outcome]("q" -> Left("boom"))
    assert(Audit.compare("ref" -> threw, "pass" -> good) === Seq("q: ref threw boom"))
    assert(Audit.compare("ref" -> good, "pass" -> threw) === Seq("q: pass threw boom"))
  }

  test("lines come out in query-name order") {
    val names = Seq("zeta", "alpha", "mid", "beta")
    val ref = names.map(_ -> ok("x", 1)).toMap
    val pass = names.map(_ -> ok("y", 1)).toMap
    assert(Audit.compare("ref" -> ref, "pass" -> pass).map(_.takeWhile(_ != ':')) ===
      names.sorted)
  }

  test("hasShuffleExchange: broadcast-only join is false, groupBy is true") {
    val joined = spark.range(100).toDF("id")
      .join(broadcast(spark.range(10).toDF("id")), "id")
    joined.collect()
    assert(joined.queryExecution.executedPlan.toString.contains("BroadcastExchange"))
    assert(!Audit.hasShuffleExchange(joined.queryExecution.executedPlan),
      joined.queryExecution.executedPlan.toString)
    val grouped = spark.range(100).groupBy(col("id") % 3).count()
    grouped.collect()
    assert(Audit.hasShuffleExchange(grouped.queryExecution.executedPlan),
      grouped.queryExecution.executedPlan.toString)
  }
}
