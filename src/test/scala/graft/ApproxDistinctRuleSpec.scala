package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.plans.RewriteApproxDistinct

/** The opt-in count(DISTINCT) → KMV rewrite, under the PRODUCTION
  * registration path (operator-optimization fixpoint): disabled by
  * default, exact below k, estimator-accurate above it, null- and
  * scope-correct.
  */
class ApproxDistinctRuleSpec extends SparkSuite {

  /** The shared session, which `Session.local` built with the
    * extensions; the rule's confs are cleared after each case. */
  private def onSession[T](body: SparkSession => T): T =
    try body(spark)
    finally {
      spark.conf.unset(RewriteApproxDistinct.EnabledKey)
      spark.conf.unset(RewriteApproxDistinct.KKey)
    }

  private def data(s: SparkSession) = {
    import s.implicits._
    // 2 groups: "small" has 7 distinct ids (< k): must stay EXACT;
    // "big" has 3750 distinct ids (5000 residues minus the %4==0 ones,
    // which route to "small"): estimator regime
    (1 to 20000).map { i =>
      if (i % 4 == 0) ("small", (i % 7).toLong) else ("big", (i % 5000).toLong)
    }.toDF("g", "uid")
  }

  test("disabled by default: plan and results stay exact") {
    onSession { s2 =>
      val q = data(s2).groupBy("g").agg(countDistinct("uid").as("nd"))
      assert(!q.queryExecution.optimizedPlan.toString
        .toLowerCase.contains("kmvsketch"))
      val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === Map("small" -> 7L, "big" -> 3750L))
    }
  }

  test("enabled: rewrite fires; exact below k, estimator-accurate above") {
    onSession { s2 =>
      s2.conf.set(RewriteApproxDistinct.EnabledKey, "true")
      val q = data(s2).groupBy("g").agg(countDistinct("uid").as("nd"))
      val opt = q.queryExecution.optimizedPlan.toString.toLowerCase
      assert(opt.contains("kmvsketch"), s"rule did not fire:\n$opt")
      assert(!opt.contains("distinct "), "distinct Count survived the rewrite")
      val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got("small") === 7L, "below-k group must be exact")
      val k = RewriteApproxDistinct.DefaultK
      val relErr = math.abs(got("big") - 3750.0) / 3750.0
      assert(relErr < 4.0 / math.sqrt(k - 2.0), s"estimate ${got("big")} too far")
    }
  }

  test("k conf: larger sketch widens the exact regime") {
    onSession { s2 =>
      import s2.implicits._
      s2.conf.set(RewriteApproxDistinct.EnabledKey, "true")
      s2.conf.set(RewriteApproxDistinct.KKey, "8192")
      val got = data(s2).groupBy("g").agg(countDistinct("uid").as("nd"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // 3750 < 8192 ⇒ the sketch holds the whole distinct set: exact
      assert(got === Map("small" -> 7L, "big" -> 3750L))
    }
  }

  test("ids a modulus apart do not collide (the pre-mod-prime hazard)") {
    onSession { s2 =>
      import s2.implicits._
      s2.conf.set(RewriteApproxDistinct.EnabledKey, "true")
      // under a ((x % 1000003) * C) % 2^32 hash these two hash identically
      // and count(DISTINCT) would return 1 — the full-mix hash must not
      val got = Seq(5L, 1000008L).toDF("uid")
        .agg(countDistinct("uid").as("nd")).collect()(0).getLong(0)
      assert(got === 2L)
    }
  }

  test("nulls are ignored, matching exact count(distinct) semantics") {
    onSession { s2 =>
      import s2.implicits._
      s2.conf.set(RewriteApproxDistinct.EnabledKey, "true")
      val df = Seq[(String, java.lang.Long)](
        ("a", 1L), ("a", null), ("a", 2L), ("a", 1L), ("b", null))
        .toDF("g", "uid")
      val got = df.groupBy("g").agg(countDistinct("uid").as("nd"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === Map("a" -> 2L, "b" -> 0L))
    }
  }

  test("scope: string distincts and filtered counts stay exact") {
    onSession { s2 =>
      import s2.implicits._
      s2.conf.set(RewriteApproxDistinct.EnabledKey, "true")
      val df = (1 to 1000).map(i => (s"s${i % 30}", (i % 30).toLong))
        .toDF("name", "uid")
      val q = df.agg(countDistinct("name").as("nd_str"))
      assert(!q.queryExecution.optimizedPlan.toString
        .toLowerCase.contains("kmvsketch"))
      assert(q.collect()(0).getLong(0) === 30L)
      // mixed aggregate: the non-distinct sum is untouched alongside
      val mixed = df.agg(countDistinct("uid").as("nd"), sum("uid").as("s"))
        .collect()(0)
      assert(30 < RewriteApproxDistinct.DefaultK, "fixture must stay below k")
      assert(mixed.getLong(0) === 30L) // below k ⇒ exact even rewritten
      assert(mixed.getLong(1) === (1 to 1000).map(_ % 30).sum.toLong)
    }
  }
}
