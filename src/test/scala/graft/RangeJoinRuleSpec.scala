package graft

import org.apache.spark.sql.functions._
import graft.plans.RewriteRangeJoin

/** The range-join rewrite rule, as the shared session runs it: the naive
  * non-equi form users write gets the bucketized plan, with the same rows
  * as the same join planned without the rule; shapes outside the sound
  * scope (full outer joins, no range bounds) are left alone.
  */
class RangeJoinRuleSpec extends SparkSuite {

  private val W = 1000L

  private def probes = {
    import spark.implicits._
    (0L until 500L).map(i => (i, i % 13, (i * 7919) % 100000))
      .toDF("event_id", "k", "tu")
  }
  private def build = {
    import spark.implicits._
    (0L until 3000L).map(i => ((i * 104729) % 13, (i * 31) % 100000))
      .toDF("k", "btu")
  }

  private def naive = probes.as("a").join(
    build.as("b"),
    col("b.k") === col("a.k") &&
      col("b.btu") >= col("a.tu") - W && col("b.btu") < col("a.tu"))
    .select(col("a.event_id"), col("b.btu"))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** `df`'s rows planned without the rule: the naive plan's result. */
  private def naiveRows(df: => org.apache.spark.sql.DataFrame): Seq[String] =
    ruleFree(RewriteRangeJoin)(df).map(_.toString).sorted.toSeq

  test("naive inner range join gets the bucketized plan, same result") {
    val baseline = naiveRows(naive)
    assert(baseline.nonEmpty, "test geometry must produce matches")
    val optimized = naive.queryExecution.optimizedPlan.toString
    assert(optimized.contains("__graft_range_bkt"),
      s"rewrite did not fire:\n$optimized")
    val physical = naive.queryExecution.executedPlan.toString
    assert(!physical.contains("NestedLoop"),
      s"rewritten plan still nested-loops:\n$physical")
    // multiplicity-exact parity with the un-rewritten join
    assert(rows(naive) === baseline)
  }

  test("inclusive bounds and flipped sides still rewrite correctly") {
    def q = build.as("b").join(
      probes.as("a"),
      col("a.k") === col("b.k") &&
        col("a.tu") - W <= col("b.btu") && col("a.tu") >= col("b.btu"))
      .select(col("a.event_id"), col("b.btu"))
    val baseline = naiveRows(q)
    assert(baseline.nonEmpty)
    assert(q.queryExecution.optimizedPlan.toString
      .contains("__graft_range_bkt"))
    assert(rows(q) === baseline)
  }

  test("out-of-scope shapes are untouched: full outer, no range bounds") {
    def full = probes.as("a").join(
      build.as("b"),
      col("b.k") === col("a.k") &&
        col("b.btu") >= col("a.tu") - W && col("b.btu") < col("a.tu"),
      "full")
    def equiOnly = probes.as("a").join(build.as("b"), col("b.k") === col("a.k"))
    val fullBaseline = naiveRows(full)
    assert(!full.queryExecution.optimizedPlan.toString
      .contains("__graft_range"), "full outer join must not rewrite")
    assert(!equiOnly.queryExecution.optimizedPlan.toString
      .contains("__graft_range"), "equi-only join must not rewrite")
    // full outer results stay correct with the rule installed
    assert(rows(full) === fullBaseline)
  }

  /** Probes with keys the build side never has → guaranteed unmatched
    * rows, so the outer null-extension paths are non-vacuous.
    */
  private def probesSparse = {
    import spark.implicits._
    (0L until 500L).map(i => (i, i % 17, (i * 7919) % 100000))
      .toDF("event_id", "k", "tu")
  }

  test("left outer, probe preserved: rewrite with exact null extension") {
    def q = probesSparse.as("a").join(
      build.as("b"),
      col("b.k") === col("a.k") &&
        col("b.btu") >= col("a.tu") - W && col("b.btu") < col("a.tu"),
      "left")
      .select(col("a.event_id"), col("b.btu"))
    val baseline = naiveRows(q)
    assert(baseline.exists(_.contains("null")),
      "geometry must leave some probes unmatched")
    assert(baseline.size > baseline.count(_.contains("null")),
      "geometry must match some probes")
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("__graft_range_rid"),
      s"probe-preserved outer rewrite did not fire:\n$optimized")
    assert(!q.queryExecution.executedPlan.toString.contains("NestedLoop"))
    // multiplicity-exact: every match once, every unmatched probe ONE
    // null row (not one per bucket copy)
    assert(rows(q) === baseline)
  }

  test("right outer, probe preserved: mirrored rewrite, same result") {
    def q = build.as("b").join(
      probesSparse.as("a"),
      col("b.k") === col("a.k") &&
        col("b.btu") >= col("a.tu") - W && col("b.btu") < col("a.tu"),
      "right")
      .select(col("a.event_id"), col("b.btu"))
    val baseline = naiveRows(q)
    assert(baseline.exists(_.contains("null")))
    assert(q.queryExecution.optimizedPlan.toString
      .contains("__graft_range_rid"))
    assert(rows(q) === baseline)
  }

  test("left outer, build preserved: direct rewrite (no dedup machinery)") {
    // build is on the LEFT and preserved; the probe side explodes but is
    // not null-extended, so no row-id window is needed or used
    def q = build.as("b").join(
      probesSparse.as("a"),
      col("b.k") === col("a.k") &&
        col("b.btu") >= col("a.tu") - W && col("b.btu") < col("a.tu"),
      "left")
      .select(col("b.k"), col("b.btu"), col("a.event_id"))
    val baseline = naiveRows(q)
    assert(baseline.exists(_.contains("null")),
      "geometry must leave some build rows unmatched")
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("__graft_range_bkt"), "must rewrite")
    assert(!optimized.contains("__graft_range_rid"),
      "build-preserved outer must not pay the row-id window")
    assert(rows(q) === baseline)
  }

  test("randomized parity: inner/left/right across random geometries") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813L)
    (1 to 5).foreach { trial =>
      val w = 1L + rnd.nextInt(2000)
      val nKeys = 1 + rnd.nextInt(16)
      val tRange = 1 + rnd.nextInt(5000)
      // ~5% null event times on the probe side: null never matches, and
      // outer-preserved null rows must still survive exactly once
      val p = (0 until 150).map(i => (i.toLong, rnd.nextInt(nKeys + 4).toLong,
          if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(tRange).toLong)))
        .toDF("event_id", "k", "tu")
      val b = (0 until 600).map(_ => (rnd.nextInt(nKeys).toLong,
          rnd.nextInt(tRange).toLong))
        .toDF("k", "btu")
      Seq("inner", "left", "right").foreach { jt =>
        def q = p.as("a").join(b.as("b"),
          col("b.k") === col("a.k") &&
            col("b.btu") >= col("a.tu") - w && col("b.btu") < col("a.tu"), jt)
          .select(col("a.event_id"), col("a.tu"), col("b.btu"))
        val baseline = naiveRows(q)
        assert(q.queryExecution.optimizedPlan.toString
          .contains("__graft_range"), s"trial $trial $jt: did not rewrite")
        assert(rows(q) === baseline, s"trial $trial $jt W=$w diverged")
      }
    }
  }

  test("already-bucketized joins are left alone (no double fan-out)") {
    // a hand-bucketized range join: bucket keys derived from the same
    // time attributes, range conjuncts folded back into the
    // join condition by predicate pushdown. repartition() keeps the local
    // test frames from constant-folding the bucket Project into the
    // LocalRelation (file-backed frames, as in the real query, keep it)
    def q = probes.repartition(2)
      .withColumn("bkt", explode(array(expr(s"tu div $W"), expr(s"tu div $W - 1"))))
      .join(build.repartition(2).withColumn("bkt", expr(s"btu div $W")), Seq("k", "bkt"))
      .filter(col("btu") >= col("tu") - W && col("btu") < col("tu"))
      .select(col("event_id"), col("btu"))
    val baseline = naiveRows(q)
    assert(baseline.nonEmpty)
    assert(!q.queryExecution.optimizedPlan.toString
      .contains("__graft_range"),
      "rule must not re-bucketize a hand-bucketized join")
    assert(rows(q) === baseline)
  }
}
