package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Exact-substring scale smoke: the full window-hash → frequency →
  * marking-join → island-merge pipeline (the dedup_substring_windows /
  * dedup_substring_runs shape, inlined over a synthetic corpus because
  * the registered queries read the testbed) at two corpus sizes, with a
  * planted verbatim RUN whose maximal extent must be recovered exactly.
  *
  *   N_DOCS=100000 sbt "runMain graft.tools.SubstringScaleSmoke"
  *
  * Corpus: each doc is 60 unique tokens (embedding doc_id and position —
  * no accidental repeats); every 10th doc splices the SAME 30-token
  * boilerplate block at token 11, so its 20-token windows starting at
  * j = 11..21 (11 of them) are corpus-wide repeats and must merge into
  * ONE maximal run of 11 windows = 30 tokens. Asserts:
  *
  *  1. recovery: every planted doc reports exactly one run, at j = 11,
  *     of exactly 11 windows (run-extent exactness, not just detection);
  *  2. precision: no unplanted doc reports any run;
  *  3. linearity: 4× the docs costs well under the 16× of a quadratic
  *     blowup (asserted at 8×, generous for noise) — the frequency
  *     shuffle and the co-keyed marking join are the only exchanges.
  */
object SubstringScaleSmoke {

  private val W = 20

  private def corpus(spark: SparkSession, n: Long): DataFrame = {
    val block = (0 until 30).map(i => s"blk$i").mkString(" ")
    spark.range(n).repartition(32)
      .select(col("id").as("doc_id"),
        when(col("id") % 10 === 0,
          concat(
            expr("concat_ws(' ', transform(sequence(1, 10), j -> concat('u', id, 'p', j)))"),
            lit(s" $block "),
            expr("concat_ws(' ', transform(sequence(41, 60), j -> concat('u', id, 'p', j)))")))
          .otherwise(
            expr("concat_ws(' ', transform(sequence(1, 60), j -> concat('u', id, 'p', j)))"))
          .as("text"))
  }

  private def runs(docs: DataFrame): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(docs.sparkSession)
    // the registered queries' exact keying: the (131, 137) hash PAIR —
    // this smoke is what exposed the single-31-bit-hash birthday
    // collisions (3.6k false-marked docs at 4.1M windows) that motivated
    // the pair, and the exact-precision asserts below are the regression
    // guard for it
    val wins = docs
      .select(col("doc_id"),
        expr(s"graft_window_hashes(text, $W)").as("h1"),
        expr(s"graft_window_hashes(text, $W, 137)").as("h2"))
      .select(col("doc_id"),
        posexplode(arrays_zip(col("h1"), col("h2"))).as(Seq("p", "z")))
      .select(col("doc_id"), (col("p") + 1).cast("long").as("j"),
        col("z.h1").as("wh"), col("z.h2").as("wh2"))
    // r20: the registered queries' COUNT OVER (PARTITION BY wh, wh2)
    // frequency shape — one hash-keyed exchange, rolling-hash kernel
    // once (formerly a groupBy-aggregate joined back to the window rows,
    // which instantiated the kernel subtree in both join branches)
    val rep = wins
      .select(col("doc_id"), col("j"),
        count(lit(1)).over(Window.partitionBy("wh", "wh2")).as("df"))
      .filter(col("df") >= 2).select("doc_id", "j")
    rep.withColumn("grp",
        col("j") - row_number().over(Window.partitionBy("doc_id").orderBy("j")))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min("j").as("run_start"), count(lit(1)).as("run_windows"))
      .select(col("doc_id"), col("run_start"), col("run_windows"))
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("N_DOCS", "100000").toLong
    val spark = graft.Session.local()

    def timed(nDocs: Long): (Array[(Long, Long, Long)], Double) = {
      val t0 = System.nanoTime()
      val r = runs(corpus(spark, nDocs)).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      (r, (System.nanoTime() - t0) / 1e9)
    }

    timed(n / 10) // warm codegen/parquet-free paths before measuring
    val (r1, t1) = timed(n)
    val (r4, t4) = timed(4 * n)

    def check(rs: Array[(Long, Long, Long)], nDocs: Long): Unit = {
      val planted = (0L until nDocs by 10L).toSet
      val byDoc = rs.groupBy(_._1)
      assert(byDoc.keySet == planted,
        s"run docs != planted docs (${byDoc.size} vs ${planted.size})")
      rs.foreach { case (doc, start, wins) =>
        assert(start == 11 && wins == 11,
          s"doc $doc: run ($start, $wins) != the planted (11, 11)")
      }
      assert(byDoc.values.forall(_.length == 1),
        "a planted doc reported more than one run")
    }
    check(r1, n)
    check(r4, 4 * n)
    println(f"SUBSTRSCALE docs=$n%d t1=$t1%.2f s t4=$t4%.2f s " +
      f"ratio=${t4 / t1}%.2f runs1=${r1.length}%d runs4=${r4.length}%d " +
      f"${4 * n / t4 / 1e3}%.1f K docs/s")
    assert(t4 <= t1 * 8, f"not linear: 4x docs took ${t4 / t1}%.1fx")
    spark.stop()
  }
}
