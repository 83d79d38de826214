package graft.tools

import org.apache.spark.sql.functions._

/** Weighted-SSSP scale smoke: run [[graft.operators.GraphOps
  * .ssspFromEdges]] over a PLANTED weighted graph orders of magnitude
  * past the testbed, where every reachable distance is known by
  * construction — exactness at scale, not tolerance. Data is generated
  * distributed (spark.range — no driver data).
  *
  *   N_EDGES=2000000 sbt "runMain graft.tools.SsspScaleSmoke"
  *
  * Graph = three planted regimes the delta-relaxation loop must survive
  * simultaneously (seed = node 0 = min id by construction):
  *  - a heavy hub: node 0 connected to H=100k spokes at cnt=1 (w=65) —
  *    round 1 puts the whole 100k-node frontier through one join, and
  *    every spoke must settle at exactly 65;
  *  - a cheap chain 0—1—2—… at cnt=64 (w=2): node k settles at 2k for
  *    k ≤ rounds — the frontier must keep ADVANCING while the hub
  *    frontier dies out (spokes have no further neighbors);
  *  - a shortcut: the first spoke also links to chain node 1 at cnt=64
  *    (w=2): chain node 1 must stay at its direct cost 2 (the 65+2 path
  *    arrives later AND costlier — the min-merge must not regress it);
  *  - M disconnected filler edges (the bulk of the edge frame): never
  *    reached, never in any frontier — their cost is shuffle volume
  *    only, which is the O(m·rounds) bound being demonstrated.
  *
  * Asserted: every spoke at 65, chain prefix at 2k, filler absent,
  * reached-set size exact; runtime at full and half filler for a rough
  * linearity read.
  */
object SsspScaleSmoke {
  def main(args: Array[String]): Unit = {
    val fillerEdges = sys.env.getOrElse("N_EDGES", "2000000").toLong
    val hubSpokes = 100000L
    val spark = graft.Session.local()
    import graft.operators.GraphOps

    val rounds = GraphOps.SsspMaxRounds.toLong
    val chainLen = rounds + 3 // a horizon's worth plus beyond-horizon tail

    def run(filler: Long): (Long, Double) = {
      // ids: 0 = seed; 1..chainLen = chain; spokes after; filler after
      val chain = spark.range(chainLen)
        .select(col("id").as("u"), (col("id") + 1).as("v"), lit(64L).as("cnt"))
      val spokeBase = chainLen + 1
      val spokes = spark.range(hubSpokes).repartition(32)
        .select(lit(0L).as("u"), (lit(spokeBase) + col("id")).as("v"),
          lit(1L).as("cnt"))
      // first spoke links back to chain node 1: costlier AND later path
      val shortcut = spark.range(1)
        .select(lit(1L).as("u"), lit(spokeBase).as("v"), lit(64L).as("cnt"))
      val fillerBase = spokeBase + hubSpokes + 10
      val fill = spark.range(filler).repartition(32)
        .select((lit(fillerBase) + col("id") * 2).as("u"),
          (lit(fillerBase) + col("id") * 2 + 1).as("v"), lit(64L).as("cnt"))
      val wund = chain.union(spokes).union(shortcut).union(fill)
      val t0 = System.nanoTime()
      val got = GraphOps.ssspFromEdges(wund.localCheckpoint()).collect()
      val sec = (System.nanoTime() - t0) / 1e9
      val dist = got.map(r => r.getLong(0) -> r.getLong(1)).toMap
      // chain prefix: node k at 2k within the horizon
      (1L to rounds).foreach { k =>
        assert(dist.get(k).contains(2 * k),
          s"chain node $k: ${dist.get(k)} != ${2 * k}")
      }
      assert(!dist.contains(rounds + 1L),
        s"beyond-horizon chain node ${rounds + 1} present")
      // every spoke settles at exactly 65; the shortcut spoke at
      // min(65, 2 + 2) = 4 via chain node 1
      assert(dist.get(spokeBase).contains(4L),
        s"shortcut spoke: ${dist.get(spokeBase)}")
      val badSpokes = (spokeBase + 1 until spokeBase + hubSpokes)
        .count(s => !dist.get(s).contains(65L))
      assert(badSpokes == 0, s"$badSpokes spokes off 65")
      // filler never reached
      assert(dist.keys.forall(_ < fillerBase), "filler node reached")
      (got.length.toLong, sec)
    }

    val (n1, s1) = run(fillerEdges / 2)
    val (n2, s2) = run(fillerEdges)
    println(f"[smoke] sssp: half  reached=$n1 ${s1}%.1f s")
    println(f"[smoke] sssp: full  reached=$n2 ${s2}%.1f s")
    assert(n1 == n2, "reached set must not depend on filler volume")
    spark.stop()
  }
}
