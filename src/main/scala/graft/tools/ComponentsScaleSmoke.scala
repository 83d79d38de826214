package graft.tools

import org.apache.spark.sql.functions._

/** Connected-components scale smoke: run the large-star/small-star
  * labeling ([[graft.operators.GraphOps.componentsFromPairs]] seam —
  * the same `starComponents` loop behind `graph_components` and both
  * near-dup clusterers) over a PLANTED edge frame an order of magnitude
  * past the graph family's 2M-edge smokes, where every node's component
  * representative is known by construction — exactness at scale, not
  * tolerance. Data is generated distributed (spark.range — no driver
  * data), so N scales to whatever the machine holds.
  *
  *   N_EDGES=20000000 SPARK_DRIVER_MEM=16g \
  *     sbt "runMain graft.tools.ComponentsScaleSmoke"
  *
  * Planted regimes, chosen to stress the two failure modes of star
  * contraction at 100 TB:
  *
  *  - STRIDED PATHS (the bulk): C components, each a path of L edges
  *    whose node ids interleave with stride C — edge i is (i, i + C),
  *    so component c = {c, c+C, c+2C, …} and its true representative is
  *    exactly c (= min id). Interleaving means NO range partition ever
  *    co-locates a component: every star round genuinely shuffles, which
  *    is the O(m·log n) bound being demonstrated. Long paths force the
  *    label to propagate the full diameter — the regime where a
  *    too-early convergence exit would return WRONG labels, caught here
  *    because the expected rep is checked for every node.
  *
  *  - A HOT HUB: one star of H=200k spokes on a single center. The
  *    large-star groupBy sees a 200k-degree node — the skew regime (a
  *    boilerplate cluster's co-occurrence projection in miniature); its
  *    spokes must all settle on the center's id.
  *
  * Asserted distributed (no 20M-row collect): zero nodes with a wrong
  * representative, exactly C+1 distinct representatives, and the
  * convergence `require` inside starComponents itself (a non-converged
  * loop throws rather than returning partial labels). Runtime at half
  * and full volume gives the linearity read.
  *
  * Recorded (round 13, this machine, local[32], SPARK_DRIVER_MEM=16g):
  *   half 10.2M edges → 93.7 s, full 20.2M edges → 153.0 s — 1.63× the
  *   time for 1.98× the edges, nothing superlinear, in a FIXED 16 GB
  *   heap that does not scale with the graph; 20.22M labeled nodes
  *   checked exact at full volume (zero wrong representatives, exactly
  *   C+1 = 20,001 components).
  */
object ComponentsScaleSmoke {
  def main(args: Array[String]): Unit = {
    val targetEdges = sys.env.getOrElse("N_EDGES", "20000000").toLong
    val spark = graft.Session.local()
    import graft.operators.DedupOps

    val hubSpokes = 200000L

    def run(pathEdges: Long): (Long, Long, Double) = {
      val strideC = 20000L // components; path length = pathEdges / C
      val pathNodes = pathEdges + strideC // L+1 nodes per path × C
      // strided paths: edge i = (i, i + C); component rep of node n = n % C
      val paths = spark.range(pathEdges).repartition(32)
        .select(col("id").as("doc_a"), (col("id") + strideC).as("doc_b"))
      // hub star in a disjoint id range: center → each spoke
      val hubBase = pathNodes + 10
      val hub = spark.range(hubSpokes)
        .select(lit(hubBase).as("doc_a"), (lit(hubBase + 1) + col("id")).as("doc_b"))
      val edges = paths.union(hub)

      val t0 = System.nanoTime()
      val labels = DedupOps.componentsFromPairs(edges)
      // expected rep: n % C for path nodes, hubBase for the hub star
      val wrong = labels.filter(
        when(col("doc_id") >= hubBase, col("rep") =!= hubBase)
          .otherwise(col("rep") =!= pmod(col("doc_id"), lit(strideC)))).count()
      val nReps = labels.select("rep").distinct().count()
      val nNodes = labels.count()
      val sec = (System.nanoTime() - t0) / 1e9
      assert(wrong == 0L, s"$wrong nodes carry a wrong representative")
      assert(nReps == strideC + 1,
        s"$nReps distinct representatives != ${strideC + 1}")
      assert(nNodes == pathNodes + hubSpokes + 1,
        s"$nNodes labeled nodes != ${pathNodes + hubSpokes + 1}")
      (pathEdges + hubSpokes, nNodes, sec)
    }

    val (e1, n1, s1) = run(targetEdges / 2)
    val (e2, n2, s2) = run(targetEdges)
    println(f"[smoke] components: half edges=$e1 nodes=$n1 ${s1}%.1f s")
    println(f"[smoke] components: full edges=$e2 nodes=$n2 ${s2}%.1f s")
    spark.stop()
  }
}
