package graft.tools

import org.apache.spark.sql.functions._

/** Triangle-counting scale smoke: run [[graft.operators.GraphOps
  * .triangleStats]] over a PLANTED synthetic graph orders of magnitude
  * past the testbed, where the exact triangle count is known by
  * construction — so the assertion is exactness at scale, not a
  * tolerance. Data is generated distributed (spark.range — no driver
  * data).
  *
  *   N_TRIS=300000 sbt "runMain graft.tools.TriangleScaleSmoke"
  *
  * Graph = three planted regimes the degree-ordered orientation must
  * survive simultaneously:
  *  - N_TRIS disjoint triangles (3·N_TRIS nodes) — every one must be
  *    found, none double-counted;
  *  - a 4·N_TRIS-edge chain — wedges without closures (count noise if
  *    the wedge join over-joins);
  *  - one hub of degree 100k — the skew case: unoriented wedge
  *    enumeration would put deg²/2 ≈ 5·10⁹ wedges on one key, the
  *    orientation gives the hub OUT-degree ~0 and its leaves out-degree
  *    ≤ 1, so the hub contributes zero wedge candidates.
  *
  * Asserted: n_triangles == N_TRIS exactly; runtime reported at ~2M
  * edges, plus a half-size run for a rough linearity read.
  */
object TriangleScaleSmoke {
  def main(args: Array[String]): Unit = {
    val nTris = sys.env.getOrElse("N_TRIS", "300000").toLong
    val spark = graft.Session.local()

    def run(t: Long): (Long, Long, Long, Double) = {
      // triangles on node triples (3i, 3i+1, 3i+2), i < t
      val tri = spark.range(t).repartition(32).selectExpr(
        "stack(3, id*3, id*3+1, id*3+1, id*3+2, id*3, id*3+2) AS (u, v)")
      // chain on its own id range: C+j — C+j+1
      val chainBase = 3 * t
      val chain = spark.range(4 * t)
        .select((lit(chainBase) + col("id")).as("u"),
          (lit(chainBase) + col("id") + 1).as("v"))
      // hub star: node H connected to 100k leaves (H largest id, so every
      // star edge orients leaf -> hub under the (deg, id) order)
      val hubBase = chainBase + 4 * t + 10
      val hub = spark.range(100000)
        .select((lit(hubBase) + 1 + col("id")).as("u"), lit(hubBase).as("v"))
      val und = tri.union(chain).union(hub)
        .selectExpr("least(u, v) AS u", "greatest(u, v) AS v")
      val t0 = System.nanoTime()
      val row = graft.operators.GraphOps.triangleStats(und.localCheckpoint())
        .collect().head
      val sec = (System.nanoTime() - t0) / 1e9
      (row.getLong(1), row.getLong(2), row.getLong(3), sec)
    }

    val (e1, w1, tri1, s1) = run(nTris / 2)
    val (e2, w2, tri2, s2) = run(nTris)
    println(f"[smoke] triangles: half  edges=$e1 wedges=$w1 tri=$tri1 ${s1}%.1f s")
    println(f"[smoke] triangles: full  edges=$e2 wedges=$w2 tri=$tri2 ${s2}%.1f s")
    assert(tri1 == nTris / 2, s"planted ${nTris / 2} triangles, counted $tri1")
    assert(tri2 == nTris, s"planted $nTris triangles, counted $tri2")
    // the hub contributes C(100k,2) UNORIENTED wedges; oriented wedge
    // work must not blow up with it — a loose 4x-of-half runtime bound
    // catches a quadratic regression without being flaky on wall-clock
    assert(s2 < s1 * 4 + 30, f"full run ${s2}%.1f s vs half ${s1}%.1f s")
    println("[smoke] TriangleScaleSmoke OK")
    spark.stop()
  }
}
