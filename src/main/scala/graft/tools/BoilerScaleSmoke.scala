package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.CorpusOps

/** Span-boilerplate fallback smoke: run the full scrub
  * ([[CorpusOps.spanScrubOf]]) over a SYNTHETIC span-heavy corpus whose
  * boilerplate set is far larger than the broadcast bound, so the guarded
  * anti-join ([[CorpusOps.keptSpans]]) takes the CO-KEYED fallback — the
  * 100 TB regime where "the artifact broadcasts" stops being true — and
  * prove three things:
  *
  *  1. the fallback is row-identical to the forced-broadcast plan on the
  *     same corpus (plan guard, not a semantics fork);
  *  2. the scrub stays LINEAR: 4× the docs must cost well under the 16×
  *     of a quadratic blowup (asserted at 8×, generous for noise);
  *  3. the rewrite is right: every even-position span is a template with
  *     df ≈ 10·N/P ≫ SpanBoilerDf (removed), every odd-position span is
  *     globally unique (kept).
  *
  *   N_DOCS=100000 sbt "runMain graft.tools.BoilerScaleSmoke"
  *
  * Corpus: each doc is 20 non-overlapping 3-token spans; even ordinals
  * draw a template from a P = N/4-sized pool (xxhash64 — expected df 40,
  * P[df < 8] negligible), odd ordinals embed (doc_id, ordinal) so they
  * can never repeat. The boiler set is therefore ~P spans — with the
  * bound forced to 1000, thousands of times over it.
  */
object BoilerScaleSmoke {

  private def corpus(spark: SparkSession, n: Long): DataFrame = {
    val p = math.max(n / 4, 64L)
    spark.range(n).repartition(32)
      .select(col("id").as("doc_id"),
        expr(
          s"""concat_ws(' ', flatten(transform(sequence(0, 19), j ->
             |  CASE WHEN j % 2 = 0 THEN
             |    transform(sequence(0, 2), c ->
             |      concat('t', pmod(xxhash64(id, j), $p), 'x', c))
             |  ELSE
             |    transform(sequence(0, 2), c ->
             |      concat('u', id, 'j', j, 'c', c))
             |  END)))""".stripMargin).as("text"))
  }

  private def timeScrub(docs: DataFrame): (Long, Double) = {
    val t0 = System.nanoTime()
    val n = CorpusOps.spanScrubOf(docs).count()
    (n, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("N_DOCS", "100000").toLong
    val spark = graft.Session.local()
    // force the co-keyed fallback: the synthetic boiler set is ~N/4 spans
    spark.conf.set(CorpusOps.BoilerBroadcastMaxKey, "1000")

    // 1. fallback ≡ broadcast on a moderate slice (two full runs)
    val slice = corpus(spark, math.min(n / 4, 25000L))
    val fb = CorpusOps.spanScrubOf(slice)
    spark.conf.set(CorpusOps.BoilerBroadcastMaxKey, Long.MaxValue.toString)
    val bc = CorpusOps.spanScrubOf(slice)
    val diff = fb.exceptAll(bc).count() + bc.exceptAll(fb).count()
    spark.conf.set(CorpusOps.BoilerBroadcastMaxKey, "1000")
    assert(diff == 0, s"fallback diverged from broadcast plan: $diff rows")

    // 2+3. linearity + rewrite correctness at n and 4n (slice above warmed)
    val (rows1, t1) = timeScrub(corpus(spark, n))
    val (rows4, t4) = timeScrub(corpus(spark, 4 * n))
    assert(rows1 == n && rows4 == 4 * n, "every doc must survive as a row")
    val out = CorpusOps.spanScrubOf(corpus(spark, n))
      .agg(sum("n_removed").as("rm"), sum(expr("n_spans - 20")).as("extra"))
      .collect()(0)
    val removed = out.getLong(0)
    assert(out.getLong(1) == 0, "every doc must split into exactly 20 spans")
    assert(removed >= n * 10 * 999 / 1000 && removed <= n * 10,
      s"template spans must be removed: $removed of ${n * 10}")
    println(f"BOILERSCALE docs=$n%d t1=$t1%.2f s t4=$t4%.2f s " +
      f"ratio=${t4 / t1}%.2f removed=$removed%d/${n * 10}%d " +
      f"${4 * n / t4 / 1e3}%.1f K docs/s (co-keyed fallback)")
    assert(t4 <= t1 * 8,
      f"fallback not linear: 4x docs took ${t4 / t1}%.1fx the time")
    spark.stop()
  }
}
