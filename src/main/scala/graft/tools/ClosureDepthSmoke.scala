package graft.tools

import graft.Tables
import graft.operators.{DedupOps, GraphOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Convergence-margin measurement for the three component oracles'
  * unrolled min-label propagation ([[DedupOps.labelPropCtes]],
  * [[DedupOps.LabelPropRounds]] rounds): the oracle is EXACT only while
  * every node sits within that many hops of its component's min-id
  * representative. ClosureDepthSpec pins the margin on the GATE corpora
  * (sf0.001/sf0.01) each `sbt test`; this smoke runs the identical
  * measurement on the sf0.1 pair graphs — the corpora the BENCH actually
  * folds — so a testdata regeneration that deepens a component chain at
  * bench scale trips here instead of landing green-but-unconverged.
  *
  *   sbt "runMain graft.tools.ClosureDepthSmoke" [sfDir]
  *
  * Recorded (round 16, sf0.1): dedup_clusters 1, dedup_embedding_clusters
  * 2, graph_components 3 — worst case 3 against the 12-round unroll, the
  * same ≥2× margin the spec enforces at gate scale (the graphs are dense
  * near-clique clusters, so depth grows with log of cluster size, not
  * corpus size).
  */
object ClosureDepthSmoke {

  /** Max over nodes of BFS distance to the component's min-id node.
    * Driver-side on purpose: pair graphs are bounded (the caps that make
    * the LSH joins scale also bound their edge sets), and the tripwire
    * must be an INDEPENDENT evaluation, not the label-prop under test
    * re-run. */
  def maxDistToRep(edges: DataFrame): Int = {
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    require(es.length < 500000, "pair graph grew past driver-side scale")
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    es.foreach { case (a, b) =>
      adj(a) = adj(a) + b; adj(b) = adj(b) + a
    }
    val seen = scala.collection.mutable.Set.empty[Long]
    var worst = 0
    adj.keys.toSeq.sorted.foreach { u =>
      if (!seen(u)) {
        // u is its component's min id (sorted visit order), BFS from it
        var frontier = Set(u)
        val dist = scala.collection.mutable.Map(u -> 0)
        var d = 0
        while (frontier.nonEmpty) {
          d += 1
          frontier = frontier.flatMap(adj).filterNot(dist.contains)
          frontier.foreach(dist(_) = d)
        }
        seen ++= dist.keys
        worst = math.max(worst, dist.values.max)
      }
    }
    worst
  }

  /** The three component-closure pair graphs at `dir` — one per oracle
    * restated as unrolled label propagation. */
  def graphsAt(spark: SparkSession, dir: String): Seq[(String, DataFrame)] = Seq(
    "dedup_clusters" -> DedupOps.minhashPairs(spark, dir).select("doc_a", "doc_b"),
    "dedup_embedding_clusters" -> DedupOps.bandedEmbPairs(spark, dir)
      .select("vec_a", "vec_b"),
    "graph_components" -> GraphOps.temporalEdges(Tables.events(spark, dir))
      .select(col("src").cast("long"), col("dst").cast("long")))

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local(logLevel = "ERROR")
    graphsAt(spark, dir).foreach { case (name, edges) =>
      val depth = maxDistToRep(edges)
      println(s"[closure-depth] $name @ $dir: max node->rep distance $depth " +
        s"(unroll ${DedupOps.LabelPropRounds})")
      require(depth <= DedupOps.LabelPropRounds / 2,
        s"$name pair graph deepened to $depth at bench scale — within 2x " +
          s"of the ${DedupOps.LabelPropRounds}-round label-prop unroll; " +
          "raise LabelPropRounds BEFORE the driver gate sees an " +
          "unconverged oracle")
    }
    spark.stop()
  }
}
