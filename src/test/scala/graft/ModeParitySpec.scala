package graft

/** Continuous slice of the runtime-mode invariance gate
  * (`tools.Audit mode` runs ALL queries under full session-level flips per
  * round; this spec runs a representative subset on every `sbt test` so a
  * mode-sensitive query is caught the round it is INTRODUCED). Three
  * axes are session-conf flips safe to toggle on the shared suite
  * session, GeometryParitySpec-style:
  *
  *  - ANSI mode — a query relying on non-ANSI cast saturation (or on an
  *    ANSI error it never guards) diverges or throws when a cluster sets
  *    the conf the other way;
  *  - codegen off (wholeStage=false + factoryMode=NO_CODEGEN) — every
  *    hand-written doGenCode in functions/ must agree with its
  *    interpreted eval, because Spark falls back to the interpreted path
  *    on its own (Janino method-size limits — the k=256 IVF incident);
  *  - the row-based parquet read path (vectorized reader + pushdown
  *    off) — Spark demotes scans per-file on its own, and pushdown must
  *    be pure optimization.
  *
  * The remaining `Audit mode` axis (JVM default timezone/locale) is deliberately
  * NOT flipped here: it is JVM-global and suites run concurrently in this
  * fork — the per-round tool covers it in a dedicated session.
  */
class ModeParitySpec extends SparkSuite {

  /** Queries chosen to exercise every custom expression family (dot/
    * polyhash/shingle/simhash/window-hash/quantize/argmin kernels, the
    * top-k and sketch TypedImperativeAggregates, the flame generator)
    * plus the cast/overflow-heavy money and JSON paths the ANSI axis
    * targets. */
  private val Subset = Seq(
    "ann_cosine_topk", "ann_quantized_topk", "ann_ivf_trained_topk",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_substring_windows",
    "text_fingerprint", "sketch_distinct_kmv", "sketch_quantile_rank",
    "topk_per_room_agg", "flame_cells", "json_extract", "q1_agg",
    "time_add", "dq_value_domain", "lcg_event_type_counts")

  private def canon(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, smokeDir)
      .collect().map(r => graft.tools.Canon.cell(r)).sorted.toSeq

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.get(k) }
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("registry subset is invariant under an ANSI-mode flip") {
    val base = Subset.map(n => n -> canon(n)).toMap
    val flipped = (!spark.conf.get("spark.sql.ansi.enabled").toBoolean).toString
    withConf("spark.sql.ansi.enabled" -> flipped) {
      val diverged = Subset.filter(n => canon(n) != base(n))
      assert(diverged.isEmpty, s"ANSI-sensitive queries: ${diverged.mkString(", ")}")
    }
  }

  test("registry subset is invariant with codegen disabled") {
    val base = Subset.map(n => n -> canon(n)).toMap
    withConf(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val diverged = Subset.filter(n => canon(n) != base(n))
      assert(diverged.isEmpty, s"codegen-sensitive queries: ${diverged.mkString(", ")}")
    }
  }

  test("registry subset is invariant on the row-based parquet read path") {
    val base = Subset.map(n => n -> canon(n)).toMap
    withConf(
      "spark.sql.parquet.enableVectorizedReader" -> "false",
      "spark.sql.parquet.filterPushdown" -> "false") {
      val diverged = Subset.filter(n => canon(n) != base(n))
      assert(diverged.isEmpty, s"reader-sensitive queries: ${diverged.mkString(", ")}")
    }
  }
}
