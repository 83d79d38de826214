package graft.operators

import graft.{GQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over the event log's user-interaction structure. The
  * dedup family already covers undirected connected components
  * (DedupOps large-star/small-star); this adds the other classic
  * iterative graph computation — PageRank — over a directed graph derived
  * from the events table, with EVERY intermediate in integer arithmetic
  * so three full iterations replay bit-identically in DuckDB.
  *
  * Edge derivation (temporal adjacency): per item `k` (the props key each
  * event touches), order that item's distinct users by first-touch time
  * and link each user to the NEXT one — the "who follows whom onto an
  * item" chain. Edge count is Σ_items (distinct_users − 1): LINEAR in the
  * interaction log, unlike a co-occurrence projection whose hot items
  * explode quadratically (the same reason the LSH family caps buckets).
  */
object GraphOps {

  /** Fixed iteration count — enough for rank mass to propagate two hops
    * past the damping base, small enough that the unrolled oracle CTE
    * chain stays readable. */
  final val PrIters = 3

  /** Scaled-integer PageRank constants: ranks carry [[PrUnit]] units; the
    * damping split is (1−d)·PrUnit base + d of in-flow with
    * d = [[PrDampNum]]/[[PrDampDen]]. Per-edge contribution
    * `(r · PrDampNum) div (outdeg · PrDampDen)` floor-divides BEFORE the
    * sum, so the total is a sum of integers — order-independent, hence
    * reproducible across engines and partitionings. Everything downstream
    * (the engine loop, the unrolled oracle, SketchScaleSmoke) derives from
    * these three constants, so changing one cannot desynchronize them. */
  final val PrUnit = 1000000L
  final val PrDampNum = 85L
  final val PrDampDen = 100L

  /** Damping base (1−d)·PrUnit, derived — 150000 at the defaults. */
  final val PrBase = PrUnit * (PrDampDen - PrDampNum) / PrDampDen

  /** The item id from the props payload, DuckDB side — JSON semantics to
    * mirror the engine's get_json_object exactly: '{"k":95}' (no space)
    * must parse, invalid JSON that still CONTAINS '"k": 96' must not
    * (both were regex-vs-JSON divergences the hostile events tail
    * exposed), and a 20+-digit k becomes NULL via TRY_CAST instead of a
    * hard conversion error. json_valid guards DuckDB's throwing
    * json_extract the way get_json_object nulls on invalid input.
    */
  private val ItemDuck =
    """TRY_CAST(regexp_extract(
      |           CASE WHEN props IS NOT NULL AND json_valid(props)
      |                THEN json_extract_string(props, '$.k') END,
      |           '^(-?\d+)$', 1) AS BIGINT)""".stripMargin
      .replace("\n", " ").replaceAll(" +", " ")

  /** Why the integral-regex wrapper inside [[ItemDuck]]: DuckDB's
    * string→BIGINT cast parses '8.5' as a double and ROUNDS to 9, where
    * Spark's try_cast nulls any non-integral string — a float-valued k
    * payload fabricated a phantom graph node in every oracle until the
    * regex pinned integral-only parsing on both engines (regexp_extract
    * returns ''/NULL on no-match in both dialects, and TRY_CAST nulls
    * either). */

  /** Directed temporal-adjacency edges (src, dst), deduplicated. The
    * first-touch aggregate is map-side combinable on (item, user); the
    * per-item chain window's partition is bounded by the item's distinct
    * users (items parallelize across the corpus; a single pathologically
    * hot item is the same declared sequential-log assumption as the
    * per-room running windows, PLANS.md header). */
  def temporalEdges(events: DataFrame): DataFrame = {
    val iu = events
      .select(get_json_object(col("props"), "$.k").try_cast("long").as("item"),
        col("user_id"), col("ts"))
      // no-match guard: without it an event lacking a numeric k chains
      // every such user through one item=NULL window partition. try_cast:
      // a 20+-digit k would otherwise ANSI-crash before the filter.
      // user_id: a NULL is no node identity — and inside the chain
      // window's ORDER BY its position is engine-defined (Spark NULLS
      // FIRST vs DuckDB NULLS LAST), rewiring real users' edges.
      .filter(col("item").isNotNull && col("user_id").isNotNull)
      .groupBy("item", "user_id")
      .agg(min("ts").as("t0"))
    iu.withColumn("dst",
        lead("user_id", 1).over(
          Window.partitionBy("item").orderBy("t0", "user_id")))
      .filter(col("dst").isNotNull)
      .select(col("user_id").as("src"), col("dst"))
      .distinct()
  }

  /** [[PrIters]] PageRank iterations over [[temporalEdges]]. Each
    * iteration is one user-keyed join (ranks onto edge sources) and one
    * map-side-combinable sum onto destinations; nodes with no in-edges
    * keep the damping base via the left join. The edge frame (with
    * outdegree attached) is materialized ONCE inside [[ranks]]
    * (Materialize.stageLazy): without it every iteration re-derives the
    * first-touch aggregate and chain window, tripling the shuffle count
    * of the unrolled plan.
    */
  def pagerank(events: DataFrame): DataFrame =
    ranks(temporalEdges(events))
      .orderBy(col("r").desc, col("u"))
      .limit(10)
      .select(col("u").as("user_id"), col("r").as("rank_e6"))

  /** Full rank frame (u, r) after [[PrIters]] iterations over an edge
    * frame (src, dst) — the distributed loop, separated from the edge
    * derivation and the final top-k so properties can check it
    * differentially on arbitrary graphs. */
  private[graft] def ranks(ed: DataFrame): DataFrame = {
    // r19 optimization-round shape (guide §2.3/§2.4): the two loop
    // INVARIANTS — outdegree and the node set — are folded into TWO
    // staged frames instead of being re-derived (or re-exchanged) per
    // iteration:
    //  - edc = edges ⋈ outdegree, staged PRE-PARTITIONED on src: the
    //    groupBy("src") and the join both cluster `ed` by src, so AQE
    //    reuses ONE exchange of the edge frame and the checkpointed
    //    LogicalRDD carries hashpartitioning(src) — every iteration's
    //    edge-side join consumes the only corpus-sized frame at 100 TB
    //    with ZERO further edge shuffles (the r18 shape re-exchanged it
    //    once per iteration, visible as Exchange over Scan ExistingRDD
    //    in plans/r19/graph_pagerank_before.txt);
    //  - nodes staged partitioned on u: the per-iteration left join
    //    reuses the partitioning instead of re-exchanging the cached
    //    frame each iteration (the r18 persist() variant lost it).
    // Remaining per-iteration exchange: contributions to dst — with
    // map-side partial aggregation that moves node-sized partials,
    // PageRank's inherent data flow. Lazy staging (stageLazy) merges
    // each checkpoint's final materialization job into its first
    // consumer.
    val edc = graft.Materialize.stageLazy(
      ed.join(ed.groupBy("src").agg(count(lit(1)).as("outdeg")), "src"))
    val nodes = graft.Materialize.stageLazy(
      edc.select(col("src").as("u"))
        .union(edc.select(col("dst").as("u"))).distinct())
    var r = nodes.withColumn("r", lit(PrUnit))
    for (_ <- 1 to PrIters) {
      val contrib = edc
        .join(r.withColumnRenamed("u", "src"), "src")
        .select(col("dst").as("u"),
          expr(s"(r * $PrDampNum) div (outdeg * $PrDampDen)").as("c"))
        .groupBy("u").agg(sum("c").as("c"))
      r = nodes.join(contrib, Seq("u"), "left")
        .select(col("u"),
          (lit(PrBase) + coalesce(col("c"), lit(0L))).as("r"))
    }
    r
  }

  /** The temporal-adjacency edge derivation as a CTE prefix — shared
    * VERBATIM by both graph oracles so they can never describe different
    * edge sets. */
  private val EdgeCte =
    s"""iu AS (SELECT item, user_id, min(ts) AS t0
      |           FROM (SELECT $ItemDuck AS item, user_id, ts FROM events)
      |           WHERE item IS NOT NULL AND user_id IS NOT NULL
      |           GROUP BY 1, 2),
      |ch AS (SELECT item, user_id AS src,
      |              lead(user_id) OVER (PARTITION BY item
      |                                  ORDER BY t0, user_id) AS dst
      |       FROM iu),
      |ed AS (SELECT DISTINCT src, dst FROM ch WHERE dst IS NOT NULL)""".stripMargin

  /** The [[PrIters]] iterations unrolled as CTE pairs (cᵢ, rᵢ), generated
    * from the SAME constants the engine loop uses — iteration count, the
    * damping fraction, and the base can no longer drift between the two
    * engines. */
  private def iterCtes: String = (1 to PrIters).map { i =>
    s"""c$i AS (SELECT ed.dst AS u,
       |              CAST(sum((r${i - 1}.r * $PrDampNum) // (od.outdeg * $PrDampDen)) AS BIGINT) AS c
       |       FROM ed JOIN od ON ed.src = od.src JOIN r${i - 1} ON r${i - 1}.u = ed.src
       |       GROUP BY 1),
       |r$i AS (SELECT n.u, $PrBase + COALESCE(c$i.c, 0) AS r
       |       FROM nodes n LEFT JOIN c$i ON c$i.u = n.u)""".stripMargin
  }.mkString(",\n")

  val graphPagerank = GQuery(
    "graph_pagerank",
    (s, d) => pagerank(Tables.events(s, d)),
    oracle = Some(
      s"""WITH $EdgeCte,
        |nodes AS (SELECT src AS u FROM ed UNION SELECT dst FROM ed),
        |od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM ed GROUP BY 1),
        |r0 AS (SELECT u, CAST($PrUnit AS BIGINT) AS r FROM nodes),
        |$iterCtes
        |SELECT u AS user_id, r AS rank_e6 FROM r$PrIters
        |ORDER BY r DESC, u LIMIT 10""".stripMargin),
    bench = true)

  /** Connected components over the SAME temporal-adjacency edges —
    * [[DedupOps.starComponents]] (large-star/small-star, O(log n)
    * rounds, digest-gated convergence) applied to the interaction graph
    * instead of the near-dup pair graph: "which users belong to the same
    * interaction community" next to PageRank's "who matters inside it".
    * Direction is irrelevant to components, so the edge frame feeds the
    * star loop as undirected pairs; the oracle is the same recursive
    * closure CTE shape as `dedup_clusters`.
    */
  /** (user_id, rep, csize) component labels over [[temporalEdges]].
    *
    * r19 (guide §1.2 step 1 — fix the algorithm first): the star loop is
    * fed PER-ITEM STARS (every user of an item → the item's minimum
    * user) instead of the temporal chains. The connected components are
    * IDENTICAL — within one item the chain and the star both connect
    * exactly that item's distinct-user set, and across items both merge
    * through shared users — but the derivation drops the first-touch
    * aggregate and the per-item ordering window (no sort, no `ts` read
    * at all), and star-shaped input is the star algorithm's best case
    * where chains are its worst: measured at sf0.1 the loop converges in
    * 3 rounds instead of 6 (the temporal chains run ~64 users deep per
    * item). The oracle keeps the chain-edge label-propagation definition
    * unchanged — same partition, same reps, same sizes.
    */
  def components(events: DataFrame): DataFrame = {
    val iu = events
      .select(get_json_object(col("props"), "$.k").try_cast("long").as("item"),
        col("user_id"))
      .filter(col("item").isNotNull && col("user_id").isNotNull)
      .distinct()
    // one exchange on item serves BOTH the min aggregate and the join
    // (AQE exchange reuse) — the edge set is Σ_items (users − 1) rows,
    // exactly the chain derivation's count
    val ed = iu
      .join(iu.groupBy("item").agg(min("user_id").as("mn")), "item")
      .filter(col("user_id") =!= col("mn"))
      .select(col("user_id").as("doc_a"), col("mn").as("doc_b"))
    val labels = DedupOps.starComponents(ed)
    val sizes = labels.groupBy("rep").agg(count(lit(1)).as("csize"))
    labels.join(sizes, Seq("rep"))
      .select(col("doc_id").as("user_id"), col("rep"), col("csize"))
  }

  val graphComponents = GQuery(
    "graph_components",
    (s, d) => components(Tables.events(s, d)),
    oracle = Some(
      s"""WITH $EdgeCte,
        |edges AS MATERIALIZED (
        |  SELECT src, dst FROM ed
        |  UNION SELECT dst, src FROM ed),
        |${DedupOps.labelPropCtes()},
        |comp AS (SELECT u AS user_id, lbl AS rep FROM comp_labels),
        |repsizes AS (SELECT rep, CAST(count(*) AS BIGINT) AS csize
        |             FROM comp GROUP BY rep)
        |SELECT c.user_id, c.rep, s.csize
        |FROM comp c JOIN repsizes s ON c.rep = s.rep""".stripMargin))

  /** Distinct-user cap for the co-occurrence projection feeding
    * [[graphTriangles]]: every item contributes at most this many
    * distinct users to the pair join — the [[DedupOps.LshBucketCap]]
    * idea on the interaction graph. An item with n users emits n²/2
    * edges into one reducer; a hub item (the corpus's "front page") is
    * degree structure, not community structure, and is exactly what makes
    * a naive co-occurrence projection quadratic at 100 TB. With the cap,
    * per-item pair generation is bounded at cap²/2. */
  final val TriItemCap = 64L

  /** The hub-BOUNDED (item, user) incidence frame both edge builders
    * project: each item keeps its [[TriItemCap]] SMALLEST user ids — a
    * deterministic bounded sample via the graft_topk bounded heap
    * (map-side combinable, ≤ cap entries per item cross the shuffle),
    * mirrored by the oracle's row_number qualify. Hubs are bounded, not
    * DROPPED: the earlier drop-the-hub anti-join silently emptied the
    * whole projection on dense domains — at the sf0.1 bench scale every
    * one of the testbed's 100 items exceeds the cap, so four benched
    * graph queries were timing an EMPTY graph (the vacuous-check lesson,
    * at benchmark grade). Bounding keeps the quadratic hazard capped
    * while every scale factor exercises a real graph. */
  private def keptItemUsers(events: DataFrame): DataFrame = {
    graft.functions.TopKAggregate.ensureRegistered(events.sparkSession)
    events
      .select(get_json_object(col("props"), "$.k").try_cast("long").as("item"),
        col("user_id"))
      .filter(col("item").isNotNull && col("user_id").isNotNull)
      .distinct()
      .groupBy("item")
      // smallest-k via bitwise NOT, not negation: ~x = −x−1 reverses the
      // order of ALL longs with no overflow (−Long.MinValue throws under
      // ANSI; ~Long.MinValue is just Long.MaxValue), so the bound holds
      // for arbitrary key domains, matching TopKAggregate's own
      // comparator note
      .agg(expr(s"graft_topk(~user_id, CAST(user_id AS STRING), $TriItemCap)")
        .as("top"))
      .select(col("item"),
        explode(expr("transform(top, t -> CAST(t.key AS BIGINT))")).as("user_id"))
  }

  /** Undirected co-occurrence edges {u, v} (u < v, deduplicated): users
    * sharing a (hub-bounded) item. Unlike [[temporalEdges]]' linear
    * chain — which is triangle-free by construction within an item — the
    * co-occurrence projection is the graph whose closed wedges MEAN
    * something ("my neighbors also know each other"). ONE pair-join
    * implementation: this is [[weightedCoocEdges]] minus its count (the
    * groupBy keys already equal the distinct pairs), so the two edge
    * builders cannot drift. */
  private[graft] def cooccurrenceEdges(events: DataFrame): DataFrame =
    weightedCoocEdges(events).select("u", "v")

  /** Weighted co-occurrence edges (u, v, cnt): same pair projection as
    * [[cooccurrenceEdges]] but keeping the shared-item count — the
    * distinct becomes a groupBy-count on the SAME key, so the shuffle
    * shape (and the hub-cap bound on per-item pair generation) is
    * unchanged. */
  private[graft] def weightedCoocEdges(events: DataFrame): DataFrame = {
    val kept = keptItemUsers(events)
    kept.as("a")
      .join(kept.as("b"),
        col("a.item") === col("b.item") &&
          col("a.user_id") < col("b.user_id"))
      .groupBy(col("a.user_id").as("u"), col("b.user_id").as("v"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Q:graph_triangles — triangle count + global clustering coefficient
    * over the co-occurrence graph, via DEGREE-ORDERED orientation (the
    * classic distributed-triangle trick): orient every edge from its
    * lower-(degree, id) endpoint, enumerate wedges from each node's
    * out-neighborhood, close them against the oriented edge set. The
    * orientation bounds every out-degree at O(√m) on any graph, so the
    * wedge join — the quadratic step — generates O(m^1.5) candidates
    * TOTAL regardless of skew, where an unoriented wedge join is
    * Σdeg² (quadratic on hubs). Both the wedge and closing joins are
    * co-keyed shuffles; everything is integer, so the coefficient
    * (triangles-per-wedge, ppm) hash-matches exactly.
    */
  def triangles(events: DataFrame): DataFrame =
    triangleStats(graft.Materialize.stageLazy(cooccurrenceEdges(events)))

  /** The orientation/wedge/close pipeline over an undirected edge frame
    * (u, v) with u < v, deduplicated — separated from the edge derivation
    * so GraphSpec can check it against hand-counted fixtures. */
  /** Degree frame (x, dg) over an undirected edge frame. */
  private def degrees(und: DataFrame): DataFrame =
    und.select(col("u").as("x"))
      .union(und.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("dg"))

  /** The degree-ordered orientation (src, dst, ddg) of an undirected
    * edge frame, STAGED: several consumers walk this frame (both wedge
    * sides + the closing joins) — unstaged, each re-runs the und⋈deg⋈deg
    * derivation and the plan balloons to ~20 exchanges. */
  private def orientedEdges(und: DataFrame, deg: DataFrame): DataFrame = {
    val wd = und
      .join(deg.withColumnRenamed("x", "u").withColumnRenamed("dg", "du"), "u")
      .join(deg.withColumnRenamed("x", "v").withColumnRenamed("dg", "dv"), "v")
    // the orientation predicate bound ONCE: all three projections must
    // agree about which endpoint won or the wedge and closing joins see
    // edges whose src/dst/ddg contradict each other
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    graft.Materialize.stageLazy(wd.select(
      when(fwd, col("u")).otherwise(col("v")).as("src"),
      when(fwd, col("v")).otherwise(col("u")).as("dst"),
      when(fwd, col("dv")).otherwise(col("du")).as("ddg")))
  }

  /** Closed wedges (src, a, b) — one row per triangle, the minimum-
    * (deg, id) corner as src. The inner join (not semi) keeps the corner
    * columns so per-node counts can explode them. */
  private def closedWedges(oriented: DataFrame): DataFrame =
    oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.ddg") < col("e2.ddg") ||
            (col("e1.ddg") === col("e2.ddg") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("w"), col("e1.dst").as("a"),
        col("e2.dst").as("b"))
      .join(oriented.select(col("src").as("a"), col("dst").as("b")),
        Seq("a", "b"), "left_semi")

  private[graft] def triangleStats(und: DataFrame): DataFrame = {
    val deg = degrees(und)
    val oriented = orientedEdges(und, deg)
    val nTri = closedWedges(oriented).agg(count(lit(1)).as("n_triangles"))
    val totals = und.agg(count(lit(1)).as("n_edges"))
    val wedgeTotal = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("dg * (dg - 1) div 2")).as("n_wedges"))
    wedgeTotal.crossJoin(broadcast(totals)).crossJoin(broadcast(nTri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        expr("n_triangles * 3 * 1000000 div greatest(n_wedges, 1)")
          .as("gcc_ppm"))
  }

  /** The co-occurrence edge derivation as a CTE prefix (the oracle twin
    * of [[cooccurrenceEdges]]). */
  private val CoocCte =
    s"""iu AS (SELECT DISTINCT item, user_id
      |       FROM (SELECT $ItemDuck AS item, user_id FROM events)
      |       WHERE item IS NOT NULL AND user_id IS NOT NULL),
      |ki AS (SELECT item, user_id FROM (
      |         SELECT item, user_id,
      |                row_number() OVER (PARTITION BY item
      |                                   ORDER BY user_id) AS rn
      |         FROM iu) WHERE rn <= $TriItemCap),
      |und AS (SELECT DISTINCT a.user_id AS u, b.user_id AS v
      |        FROM ki a JOIN ki b
      |          ON a.item = b.item AND a.user_id < b.user_id)""".stripMargin

  /** The degree + degree-ordered-orientation CTEs over `und` — shared
    * VERBATIM by the triangle and LCC oracles (the file's stated
    * principle: one copy per derivation, so the orientation tie-break
    * cannot drift between the two). */
  private val DegOriCte =
    """deg AS (SELECT x, CAST(count(*) AS BIGINT) AS dg
      |        FROM (SELECT u AS x FROM und UNION ALL SELECT v FROM und)
      |        GROUP BY 1),
      |ori AS (SELECT CASE WHEN (du.dg, e.u) < (dv.dg, e.v)
      |                    THEN e.u ELSE e.v END AS src,
      |               CASE WHEN (du.dg, e.u) < (dv.dg, e.v)
      |                    THEN e.v ELSE e.u END AS dst,
      |               CASE WHEN (du.dg, e.u) < (dv.dg, e.v)
      |                    THEN dv.dg ELSE du.dg END AS ddg
      |        FROM und e
      |        JOIN deg du ON e.u = du.x
      |        JOIN deg dv ON e.v = dv.x)""".stripMargin

  val graphTriangles = GQuery(
    "graph_triangles",
    (s, d) => triangles(Tables.events(s, d)),
    oracle = Some(
      s"""WITH $CoocCte,
        |$DegOriCte,
        |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |        FROM ori e1
        |        JOIN ori e2 ON e1.src = e2.src
        |                   AND (e1.ddg, e1.dst) < (e2.ddg, e2.dst)
        |        JOIN ori e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und),
        |wt AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |              CAST(sum(dg * (dg - 1) // 2) AS BIGINT) AS n_wedges
        |       FROM deg)
        |SELECT wt.n_nodes, tot.n_edges, wt.n_wedges, tri.n_triangles,
        |       tri.n_triangles * 3 * 1000000 // greatest(wt.n_wedges, 1) AS gcc_ppm
        |FROM wt, tot, tri""".stripMargin),
    bench = true)

  /** Q:graph_lcc_topk — top-10 users by LOCAL clustering coefficient
    * ("how much of a clique is my neighborhood"): lcc(x) = 2·tri(x) /
    * (deg(x)·(deg(x)−1)), integer ppm. Per-node triangle counts fall out
    * of the SAME oriented/closed-wedge pipeline as [[graphTriangles]] —
    * the closing join keeps the corner columns and one row-local explode
    * + count gives tri(x); nodes of degree ≥ 2 with no triangles keep
    * lcc 0 via the left join, so the top-k is total-ordered
    * (lcc DESC, tri DESC, user) and deterministic on clique-heavy graphs
    * where many nodes tie at 10⁶.
    */
  def lccTopk(events: DataFrame): DataFrame =
    lccFromEdges(graft.Materialize.stageLazy(cooccurrenceEdges(events)))

  /** The lcc ranking over an explicit undirected edge frame — the seam
    * GraphSpec pins against hand-computed K4 coefficients. */
  private[graft] def lccFromEdges(und: DataFrame): DataFrame = {
    val deg = degrees(und)
    val tri = closedWedges(orientedEdges(und, deg))
      .select(explode(array(col("w"), col("a"), col("b"))).as("x"))
      .groupBy("x").agg(count(lit(1)).as("nt"))
    deg.filter(col("dg") >= 2)
      .join(tri, Seq("x"), "left")
      .select(col("x").as("user_id"),
        coalesce(col("nt"), lit(0L)).as("n_tri"), col("dg"),
        expr("coalesce(nt, 0) * 2 * 1000000 div (dg * (dg - 1))")
          .as("lcc_ppm"))
      .orderBy(desc("lcc_ppm"), desc("n_tri"), asc("user_id"))
      .limit(10)
  }

  val graphLccTopk = GQuery(
    "graph_lcc_topk",
    (s, d) => lccTopk(Tables.events(s, d)),
    oracle = Some(
      s"""WITH $CoocCte,
        |$DegOriCte,
        |tri3 AS (SELECT e1.src AS w, e1.dst AS a, e2.dst AS b
        |         FROM ori e1
        |         JOIN ori e2 ON e1.src = e2.src
        |                    AND (e1.ddg, e1.dst) < (e2.ddg, e2.dst)
        |         JOIN ori e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
        |tc AS (SELECT w AS x FROM tri3 UNION ALL SELECT a FROM tri3
        |       UNION ALL SELECT b FROM tri3),
        |nt AS (SELECT x, CAST(count(*) AS BIGINT) AS nt FROM tc GROUP BY 1)
        |SELECT deg.x AS user_id,
        |       COALESCE(nt.nt, 0) AS n_tri, deg.dg,
        |       COALESCE(nt.nt, 0) * 2 * 1000000 // (deg.dg * (deg.dg - 1)) AS lcc_ppm
        |FROM deg LEFT JOIN nt ON deg.x = nt.x
        |WHERE deg.dg >= 2
        |ORDER BY lcc_ppm DESC, n_tri DESC, user_id
        |LIMIT 10""".stripMargin),
    bench = true)

  /** Hop bound for [[bfsHops]] — deep enough to cross the testbed's
    * communities, small enough that the recursive oracle stays cheap. */
  final val BfsMaxHops = 4L

  /** Q:graph_bfs_hops — single-source BFS hop distance over the
    * co-occurrence graph: the [[relaxFrom]] loop at unit edge weight.
    * With every weight 1 a node improves only the round it is first
    * reached, so each round's frontier is exactly the newly-reached level
    * and the loop is level-synchronous BFS: total join work is
    * O(Σ frontier-adjacent edges) ≤ O(m·hops). The seed is the graph's
    * smallest node id, derived IN the plan (u < v invariant ⇒ min(u)), so
    * there is no driver-side collect. Unreached nodes are absent (not
    * NULL-hop), keeping the output total-ordered by user_id.
    */
  def bfsHops(events: DataFrame): DataFrame =
    bfsFromEdges(graft.Materialize.stageLazy(cooccurrenceEdges(events)))

  /** BFS over an explicit undirected edge frame (u, v) — the seam
    * GraphSpec pins against hand-traced hop distances. */
  private[graft] def bfsFromEdges(und: DataFrame): DataFrame =
    relaxFrom(und.withColumn("w", lit(1L)), BfsMaxHops.toInt)
      .withColumnRenamed("cost", "hops")

  val graphBfsHops = GQuery(
    "graph_bfs_hops",
    (s, d) => bfsHops(Tables.events(s, d)),
    oracle = Some(
      // UNION ALL + per-level DISTINCT, not distinct-UNION: Spark 4.1
      // rejects distinct-UNION in recursive CTEs, and UNION ALL terminates
      // here because the hop bound cuts the step to zero rows at level
      // BfsMaxHops+1 while the per-level DISTINCT caps each level at ≤ n
      // rows (a node re-reached by a back-and-forth walk appears once per
      // LEVEL, not once per walk). min(hops) per node is unchanged — both
      // forms' group-by inputs contain every (node, level) reachable pair.
      s"""WITH RECURSIVE $CoocCte,
        |bedges AS (SELECT u AS src, v AS dst FROM und
        |           UNION ALL SELECT v, u FROM und),
        |bfs AS (
        |  SELECT (SELECT min(u) FROM und) AS x, 0 AS hops
        |  UNION ALL
        |  SELECT DISTINCT e.dst AS x, b.hops + 1
        |  FROM bfs b JOIN bedges e ON e.src = b.x
        |  WHERE b.hops < $BfsMaxHops)
        |SELECT x AS user_id, CAST(min(hops) AS BIGINT) AS hops
        |FROM bfs GROUP BY 1
        |ORDER BY 1""".stripMargin),
    bench = true)

  /** Relaxation rounds for [[ssspWeighted]] — the semantics are
    * "minimum-cost path within ≤ this many hops", which makes a FIXED
    * round count part of the query definition (and lets the oracle unroll
    * it exactly). Matches [[BfsMaxHops]] so the two traversals cover the
    * same horizon. */
  final val SsspMaxRounds: Int = BfsMaxHops.toInt

  /** Edge cost from a co-occurrence count: stronger ties are cheaper,
    * everything integer so path costs hash-match. Shared between the
    * engine and the oracle via string interpolation of [[TriItemCap]]. */
  private def costExpr(cnt: String): String = s"1 + ($TriItemCap div $cnt)"

  /** Q:graph_sssp_weighted — single-source weighted shortest path
    * (min-plus Bellman-Ford) over the weighted co-occurrence graph, with
    * DELTA propagation: each round relaxes only the frontier — the nodes
    * whose distance improved last round — because a non-improved node's
    * outgoing relaxations were already generated the round it last
    * improved. Per-round work is one co-keyed join (frontier ⋈ edges) +
    * one min-aggregate merge, so the total is O(m·rounds) worst-case and
    * typically far less as frontiers shrink; distances stay on the nodes
    * (no path enumeration anywhere — the oracle's unrolled min-plus
    * algebra is the same fixpoint). Costs are integers
    * (1 + cap div shared-items: stronger ties cheaper), so min() is
    * exact and the result hash-matches. Seed = min node id, derived
    * in-plan like BFS.
    */
  def ssspWeighted(events: DataFrame): DataFrame =
    ssspFromEdges(graft.Materialize.stageLazy(weightedCoocEdges(events)))

  /** SSSP over an explicit weighted edge frame (u, v, cnt) — the seam
    * GraphSpec pins against hand-traced costs. */
  private[graft] def ssspFromEdges(wund: DataFrame): DataFrame =
    relaxFrom(wund.withColumn("w", expr(costExpr("cnt"))), SsspMaxRounds)

  /** The delta-relaxation loop behind [[bfsFromEdges]] and
    * [[ssspFromEdges]]: min-cost distance (user_id, cost) from the
    * smallest node id within `rounds` relaxations over an undirected edge
    * frame (u, v, w) with integer weights w ≥ 1.
    *  - edges staged PRE-PARTITIONED on src (repartition + checkpoint ⇒
    *    LogicalRDD carries the hash partitioning), so each round's
    *    frontier⋈edges join re-shuffles only the frontier — the
    *    corpus-sized frame crosses the network ONCE, not once per round;
    *  - ONE flag-carrying aggregate per round: previous distances enter
    *    with f = 0, candidate relaxations with f = 1, and
    *    min(CASE WHEN f = 0 THEN cost END) recovers the previous cost
    *    next to the merged min — so the frontier ("did this node
    *    improve?") is a row-local filter over the SAME staged frame
    *    instead of a second staged join of the full distance table;
    *  - stageLazy merges each round's checkpoint materialization job into
    *    its first consumer (the next round's join).
    */
  private def relaxFrom(und: DataFrame, rounds: Int): DataFrame = {
    val edges = graft.Materialize.stageLazy(
      und.select(col("u").as("src"), col("v").as("dst"), col("w"))
        .union(und.select(col("v").as("src"), col("u").as("dst"), col("w")))
        .repartition(col("src")))
    // seed off the STAGED frame (min src over both directions = min u):
    // an agg over the input here would re-derive its whole subtree
    var dist = graft.Materialize.stageLazy(
      edges.agg(min("src").as("x")).select(col("x"), lit(0L).as("cost")))
    var frontier = dist
    for (round <- 1 to rounds) {
      val cand = frontier.join(edges, col("x") === col("src"))
        .select(col("dst").as("x"), (col("cost") + col("w")).as("cost"),
          lit(1).as("f"))
      val merged = graft.Materialize.stageLazy(
        dist.select(col("x"), col("cost"), lit(0).as("f")).union(cand)
          .groupBy("x").agg(min("cost").as("cost"),
            min(when(col("f") === 0, col("cost"))).as("old")))
      dist = merged.select("x", "cost")
      // improved = newly reached (no f=0 row) or strictly cheaper; the
      // last round's frontier has no consumer — don't derive it
      if (round < rounds)
        frontier = merged
          .filter(col("old").isNull || col("cost") < col("old"))
          .select("x", "cost")
    }
    dist.orderBy("x").select(col("x").as("user_id"), col("cost"))
  }

  /** The weighted-edge derivation as a CTE prefix — [[CoocCte]]'s shared
    * iu/keep/ki stanza (one source of truth for the hub-capped incidence)
    * plus the count-keeping pair projection; the unreferenced `und` CTE
    * costs nothing. Oracle twin of [[weightedCoocEdges]]. */
  private val CoocWCte =
    s"""$CoocCte,
      |wund AS (SELECT a.user_id AS u, b.user_id AS v, count(*) AS cnt
      |         FROM ki a JOIN ki b
      |           ON a.item = b.item AND a.user_id < b.user_id
      |         GROUP BY 1, 2)""".stripMargin

  val graphSsspWeighted: GQuery = {
    val duckCost = s"1 + ($TriItemCap // cnt)"
    val rounds = (1 to SsspMaxRounds).map { i =>
      s"""d$i AS (SELECT x, min(cost) AS cost FROM (
         |  SELECT x, cost FROM d${i - 1}
         |  UNION ALL
         |  SELECT e.dst, d.cost + e.w FROM d${i - 1} d
         |  JOIN bedges e ON e.src = d.x) GROUP BY x)""".stripMargin
    }.mkString(",\n")
    GQuery(
      "graph_sssp_weighted",
      (s, d) => ssspWeighted(Tables.events(s, d)),
      oracle = Some(
        s"""WITH $CoocWCte,
          |bedges AS (SELECT u AS src, v AS dst, $duckCost AS w FROM wund
          |           UNION ALL SELECT v, u, $duckCost FROM wund),
          |d0 AS (SELECT (SELECT min(u) FROM wund) AS x,
          |              CAST(0 AS BIGINT) AS cost),
          |$rounds
          |SELECT x AS user_id, cost FROM d$SsspMaxRounds ORDER BY 1""".stripMargin),
      bench = true)
  }

  val queries: Seq[GQuery] =
    Seq(graphPagerank, graphComponents, graphTriangles, graphLccTopk,
      graphBfsHops, graphSsspWeighted)
}
