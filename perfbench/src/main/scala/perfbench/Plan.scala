package perfbench

import graft.GQuery
import graft.operators._

/** Which engine calls each workload makes, and in what seeded order. */
object Plan {

  val QueryMix = "query_mix"
  val Scoreboard = "scoreboard_stream"
  val Workloads: Seq[String] = Seq(QueryMix, Scoreboard)

  /** Headline queries whose fixed per-query cost dominates: scans,
    * shuffles, planning and codegen, but no memo build and no iterative
    * staging. One from each of EventOps, FoldOps, GameOps, AnalyticsOps,
    * SketchOps, RelationalOps, TextOps and LcgSourceOps: the whole headline
    * registry does not fit the benchmark's run-time budget (README.md). */
  val InteractiveNames: Seq[String] = Seq(
    "tableview_last_per_key", // EventOps
    "replay_room_digest",     // FoldOps
    "flame_cells",            // GameOps
    "funnel_windowed",        // AnalyticsOps
    "stats_columns",          // SketchOps
    "q3_shipping_priority",   // RelationalOps
    "text_inverted_index",    // TextOps
    "lcg_event_type_counts")  // LcgSourceOps

  /** Iterative graph queries and memo-backed index builds: the queries that
    * spend their time in `Materialize` staging, per-round jobs and
    * `DatasetMemo`. `graph_components` is not headline; it is here because
    * it is the components loop ROADMAP item 4 targets. */
  val StagedNames: Seq[String] = Seq(
    "graph_components", "graph_pagerank", // GraphOps
    "dedup_minhash_lsh",                  // DedupOps
    "kmeans_centroids")                   // KMeansOps

  private lazy val registry: Map[String, GQuery] =
    graft.SparkEntry.all.map(q => q.name -> q).toMap

  def interactiveQueries: Seq[GQuery] = InteractiveNames.map(registry)
  def stagedQueries: Seq[GQuery] = StagedNames.map(registry)

  /** The modules each batch workload draws from: every headline query of
    * these modules belongs to that workload's family, sampled or not. */
  def interactiveModules: Seq[GQuery] =
    EventOps.queries ++ FoldOps.queries ++ GameOps.queries ++
      AnalyticsOps.queries ++ SketchOps.queries ++ RelationalOps.queries ++
      TextOps.queries ++ LcgSourceOps.queries
  def stagedModules: Seq[GQuery] =
    GraphOps.queries ++ DedupOps.queries ++ SimilarityOps.queries ++
      PqOps.queries ++ KMeansOps.queries ++ CorpusOps.queries ++
      PipelineOps.queries

  /** The batch workload runs both families in one closed loop. */
  def queries(workload: String): Seq[GQuery] = workload match {
    case QueryMix => interactiveQueries ++ stagedQueries
    case _        => Nil
  }

  /** The order of pass `pass` under `seed`: a Fisher-Yates shuffle driven
    * by SplittableRandom, whose sequence is fixed by its specification, so
    * one seed gives one order on every JVM. */
  def order[T](items: Seq[T], seed: Long, pass: Int): Seq[T] = {
    val rng = new java.util.SplittableRandom(seed * 1000003L + pass)
    val a = items.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }
}
