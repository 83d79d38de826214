package graft

import org.apache.spark.sql.Row

/** Continuous slice of the execution-geometry determinism gate
  * (`tools.Audit geometry` runs ALL queries under two full session
  * geometries per round; this spec runs a representative subset on every
  * `sbt test` so a geometry-sensitive query is caught the round it is
  * INTRODUCED, not at the next audit). Each query runs under the suite's
  * geometry and again under an adversarial runtime re-config — prime
  * shuffle partition count, AQE flipped — and the canonicalized results
  * must match exactly. Ordering ties, `first()` over unordered frames,
  * and partial-aggregation float drift all show here; the master (core
  * count) is the one axis a shared session cannot vary, which the
  * per-round tool covers.
  */
class GeometryParitySpec extends SparkSuite {

  /** One query per family with geometry-sensitive machinery: top-k ties,
    * windows, percentiles, LSH banding, iterative graphs, float aggs,
    * min_by/max_by, sketches, interval joins, stack/unpivot. */
  private val Subset = Seq(
    "topk_global_rank", "topk_per_room_agg", "window_session",
    "agg_percentiles", "dedup_minhash_lsh", "graph_pagerank", "q1_agg",
    "ohlc_daily", "ann_cosine_topk", "sketch_quantile_rank",
    "text_tfidf_topk", "join_interval_overlap", "dq_null_profile",
    "window_latest_per_key", "sample_stratified", "lcg_event_type_counts")

  private def canonCell(v: Any): String = v match {
    case null => "~null~"
    case d: java.lang.Double => f"${d.doubleValue}%.9e"
    case f: java.lang.Float => f"${f.floatValue}%.6e"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canonCell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => canonCell(k) + "->" + canonCell(x) }
        .toSeq.sorted.mkString("{", ",", "}")
    case a: scala.collection.Seq[_] => a.map(canonCell).mkString("[", ",", "]")
    case x => x.toString
  }

  private def canon(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, smokeDir)
      .collect().map(r => canonCell(r)).sorted.toSeq

  test("registry subset is invariant under shuffle-partition and AQE re-config") {
    val conf = spark.conf
    val prevParts = conf.get("spark.sql.shuffle.partitions")
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    val base = Subset.map(n => n -> canon(n)).toMap
    try {
      conf.set("spark.sql.shuffle.partitions", "7")
      conf.set("spark.sql.adaptive.enabled", (prevAqe != "true").toString)
      val diverged = Subset.filter(n => canon(n) != base(n))
      assert(diverged.isEmpty,
        s"geometry-sensitive queries: ${diverged.mkString(", ")}")
    } finally {
      conf.set("spark.sql.shuffle.partitions", prevParts)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }
}
