package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("percentile rule: the highest percentile with at least ten samples beyond it") {
    assert(Stats.highestPercentile(19).isEmpty)
    assert(Stats.highestPercentile(20).contains(50.0))
    assert(Stats.highestPercentile(39).contains(50.0))
    assert(Stats.highestPercentile(40).contains(75.0))
    assert(Stats.highestPercentile(99).contains(75.0))
    assert(Stats.highestPercentile(100).contains(90.0))
    assert(Stats.highestPercentile(199).contains(90.0))
    assert(Stats.highestPercentile(200).contains(95.0))
    assert(Stats.highestPercentile(1000).contains(99.0))
    assert(Stats.highestPercentile(10000).contains(99.9))
  }

  test("percentiles interpolate between the closest ranks") {
    val xs = (1 to 101).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 51.0)
    assert(Stats.percentile(xs, 90) == 91.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 4.0, 8.0)) == 3.0)
    assert(Stats.median(Seq(5.0)) == 5.0)
  }

  test("seeded query order repeats for one seed and differs across seeds and passes") {
    val names = Plan.InteractiveNames
    assert(Plan.order(names, 7, 0) == Plan.order(names, 7, 0))
    assert(Plan.order(names, 7, 0).sorted == names.sorted)
    assert(Plan.order(names, 7, 0) != Plan.order(names, 8, 0))
    assert(Plan.order(names, 7, 0) != Plan.order(names, 7, 1))
  }

  test("benchmark queries are headline (or graph_components), listed once, from disjoint families") {
    val headline = graft.SparkEntry.benchQueries.map(_.name).toSet
    val interactive = Plan.interactiveQueries.map(_.name)
    val staged = Plan.stagedQueries.map(_.name)
    assert(interactive.distinct == interactive && staged.distinct == staged)
    assert(interactive.toSet.intersect(staged.toSet).isEmpty)
    (interactive ++ staged).foreach { q =>
      assert(headline(q) || q == "graph_components", s"$q is not a headline query")
    }
    // each workload draws only from its own modules, which share none
    val interactiveModules = Plan.interactiveModules.map(_.name).toSet
    val stagedModules = Plan.stagedModules.map(_.name).toSet
    assert(interactiveModules.intersect(stagedModules).isEmpty)
    assert(interactive.forall(interactiveModules))
    assert(staged.forall(stagedModules))
    // and together the two families hold the whole headline registry
    assert(headline.subsetOf(interactiveModules ++ stagedModules),
      (headline -- interactiveModules -- stagedModules).toString)
  }

  test("freshness is measured from the due time, not the release time") {
    val due = Seq(1000.0, 1143.0, 1286.0)
    val onTime = due
    val late = Seq(1400.0, 1450.0, 1286.0)
    val committed = Seq(Some(1500.0), Some(1600.0), None)
    val a = Freshness.of(dueMs = due, releasedMs = onTime, committedMs = committed)
    val b = Freshness.of(dueMs = due, releasedMs = late, committedMs = committed)
    // a late release leaves every file's freshness unchanged ...
    assert(a.seconds == Seq(Some(0.5), Some(0.457), None))
    assert(b.seconds == a.seconds)
    // ... and shows up as generator lateness instead
    assert(a.generatorLateMsMax == 0.0)
    assert(b.generatorLateMsMax == 400.0)
  }

  test("spans report self time net of their children") {
    val s = new Spans(enabled = true, "t")
    s("query") { s("plan")(Thread.sleep(30)); Thread.sleep(20) }
    val self = s.selfSeconds()
    assert(self("plan") >= 0.025)
    assert(self("query") >= 0.015 && self("query") < 0.04)
    val off = new Spans(enabled = false, "t")
    assert(off("x")(42) == 42 && off.all.isEmpty)
  }

  test("the stream generator repeats exactly for one seed and differs across seeds") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    try {
      def log(seed: Long) = StreamLog.frame(spark, seed, 0L, 500L, 4)
        .orderBy("event_id").collect().toSeq
      assert(log(1) == log(1))
      assert(log(1) != log(2))
      assert(log(1).map(_.getLong(0)) == (0L until 500L))
      assert(StreamLog.frame(spark, 1, 0L, 500L, 4).rdd.getNumPartitions == 4)
    } finally spark.stop()
  }
}
