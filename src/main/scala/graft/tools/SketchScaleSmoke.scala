package graft.tools

import org.apache.spark.sql.functions._

/** Sketch + graph scale smoke: run the KMV distinct estimator, the
  * count-min heavy-hitter matrix, and the temporal-adjacency PageRank over
  * SYNTHETIC data orders of magnitude past the testbed, asserting the
  * properties the sketches exist for at cardinalities where exact state
  * would hurt. Data is generated distributed (spark.range + xxhash64 —
  * no driver data).
  *
  *   N_ROWS=4000000 sbt "runMain graft.tools.SketchScaleSmoke"
  *
  * Asserted:
  *  - KMV: per-group estimates within 4 standard errors (stderr ≈
  *    1/√(k−2)) of the TRUE distinct counts at ~500k distinct keys per
  *    group — while shipping 32 longs per group instead of 500k;
  *  - CMS: a planted mega-user owning ~5% of all events is reported, its
  *    estimate is an upper bound within the matrix's collision slack
  *    (total/width per row);
  *  - PageRank: on a planted hub-and-chain graph the hub out-ranks every
  *    chain node; runtime reported for 1M-edge scale.
  */
object SketchScaleSmoke {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("N_ROWS", "4000000").toLong
    val spark = graft.Session.local()

    // ---- KMV at high cardinality ------------------------------------
    // 4 groups; key space ~n/8 per group so each group sees ~500k
    // distinct keys (with duplicates) at the default n.
    val keySpace = n / 8
    // full-mix hash folded to the estimator range: the pre-mod-prime
    // Knuth form caps its image at ~1M distinct values, which would make
    // this smoke measure hash saturation instead of estimator error at
    // exactly the large N it exists for (the RewriteApproxDistinct bug)
    val rows = spark.range(n).repartition(32)
      .select(pmod(col("id"), lit(4)).cast("string").as("g"),
        pmod(xxhash64(col("id")), lit(keySpace)).as("key"))
      .select(col("g"),
        pmod(xxhash64(col("key"), lit(42)), lit(4294967296L)).as("h"),
        col("key"))
    var t0 = System.nanoTime()
    val est = rows.groupBy("g")
      .agg(expr(s"graft_kmv(h, ${graft.operators.SketchOps.KmvK})").as("mins"))
      .select(col("g"),
        expr(graft.operators.SketchOps.kmvEstimateSql("mins")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kmvSec = (System.nanoTime() - t0) / 1e9
    val truth = rows.groupBy("g").agg(countDistinct("key").as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    println(f"[smoke] KMV: $kmvSec%.1f s for ${n / 1000000}M rows")
    for ((g, tr) <- truth) {
      val e = est(g)
      val relErr = math.abs(e - tr).toDouble / tr
      // 4 standard errors of the k-minimum-values estimator, derived from
      // the SAME k the sketch was built with
      val bound = 4.0 / math.sqrt(graft.operators.SketchOps.KmvK - 2)
      println(f"[smoke] KMV g=$g true=$tr est=$e relErr=$relErr%.3f (bound $bound%.3f)")
      assert(relErr < bound, s"group $g: estimate $e vs true $tr out of bounds")
    }

    // ---- Rank sketch over a known (uniform) distribution -------------
    // 4 groups × ~n/4 rows with values uniform on [1, 10⁶]: the true
    // quantile rank of value x is x/10⁶, so the sample-quantile error is
    // checked in RANK space against the binomial bound 4·√(q(1−q)/k) —
    // derived from the SAME k the sketch was built with. 64 (hash, value)
    // pairs per group cross the shuffle instead of ~1M values.
    graft.functions.QuantileSketchAggregate.ensureRegistered(spark)
    val vSpace = 1000000L
    val vRows = spark.range(n).repartition(32)
      .select(pmod(col("id"), lit(4)).cast("string").as("g"),
        pmod(xxhash64(col("id"), lit(7)), lit(4294967296L)).as("h"),
        (pmod(xxhash64(col("id"), lit(9)), lit(vSpace)) + 1).as("v"))
    t0 = System.nanoTime()
    val qK = graft.operators.SketchOps.QsK
    val qs = vRows.groupBy("g")
      .agg(expr(s"graft_qsketch(h, v, $qK)").as("vs"))
      .select(col("g"),
        expr(graft.operators.SketchOps.rankSql("vs", 1, 2)).as("p50"),
        expr(graft.operators.SketchOps.rankSql("vs", 9, 10)).as("p90"),
        expr(graft.operators.SketchOps.rankSql("vs", 99, 100)).as("p99"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
    val qsSec = (System.nanoTime() - t0) / 1e9
    println(f"[smoke] qsketch: $qsSec%.1f s for ${n / 1000000}M rows")
    for ((g, (p50, p90, p99)) <- qs) {
      for ((q, est) <- Seq(0.50 -> p50, 0.90 -> p90, 0.99 -> p99)) {
        val estRank = est.toDouble / vSpace
        val bound = 4.0 * math.sqrt(q * (1 - q) / qK) + 1.0 / qK
        println(f"[smoke] qsketch g=$g q=$q est=$est rank=$estRank%.3f (bound ±$bound%.3f)")
        assert(math.abs(estRank - q) < bound,
          s"group $g p${(q * 100).toInt}: $est (rank $estRank) outside ±$bound")
      }
    }

    // ---- CMS with a planted mega-user -------------------------------
    // ~5% of events hit user 42; the rest spread over 100k users.
    val ev = spark.range(n).repartition(32)
      .select(when(pmod(col("id"), lit(20)) === 0, lit(42L))
        .otherwise(pmod(xxhash64(col("id")), lit(100000L)) + 1000)
        .as("user_id"))
    t0 = System.nanoTime()
    val bk = ev.select(col("user_id"),
      expr(graft.operators.SketchOps.bucketSql(0)).as("b0"),
      expr(graft.operators.SketchOps.bucketSql(1)).as("b1"),
      expr(graft.operators.SketchOps.bucketSql(2)).as("b2"))
    def counter(j: Int) =
      bk.groupBy(col(s"b$j").as("b")).agg(count(lit(1)).as(s"c$j"))
    // estimate is row-independent: filter row-local FIRST, distinct only
    // the passing candidates (the engine query's exact shape)
    val hh = bk
      .join(broadcast(counter(0)), col("b0") === col("b")).drop("b")
      .join(broadcast(counter(1)), col("b1") === col("b")).drop("b")
      .join(broadcast(counter(2)), col("b2") === col("b")).drop("b")
      .select(col("user_id"),
        least(col("c0"), col("c1"), col("c2")).as("est"))
      .filter(col("est") >= n / 64)
      .distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cmsSec = (System.nanoTime() - t0) / 1e9
    val trueMega = ev.filter(col("user_id") === 42).count()
    println(f"[smoke] CMS: $cmsSec%.1f s; reported ${hh.size} users >= n/64")
    assert(hh.contains(42L), "planted mega-user not reported")
    val megaEst = hh(42L)
    // upper bound, and within one row's expected collision slack (n/64)
    assert(megaEst >= trueMega, "CMS lost counts (must be an upper bound)")
    assert(megaEst <= trueMega + n / 64,
      s"mega estimate $megaEst too slack vs true $trueMega")
    println(f"[smoke] CMS mega-user true=$trueMega est=$megaEst")

    // ---- PageRank on a planted hub-and-chain graph -------------------
    // Edges: chains i -> i+1 within 10k-node segments, plus every 50th
    // node -> hub 0. The hub must out-rank all chain nodes.
    val nEdges = 1000000L
    val chain = spark.range(nEdges).repartition(32)
      .filter(pmod(col("id") + 1, lit(10000L)) =!= 0)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val toHub = spark.range(nEdges)
      .filter(pmod(col("id"), lit(50L)) === 0 && col("id") =!= 0)
      .select(col("id").as("src"), lit(0L).as("dst"))
    val ed = chain.union(toHub)
    t0 = System.nanoTime()
    // the PRODUCTION rank loop — not a re-implementation, so the smoke
    // can never drift from the engine's constants
    val top = graft.operators.GraphOps.ranks(ed.localCheckpoint())
      .orderBy(col("r").desc, col("u")).limit(3)
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val prSec = (System.nanoTime() - t0) / 1e9
    println(f"[smoke] PageRank: $prSec%.1f s for ~${nEdges / 1000000}M edges; top=${top.toList}")
    assert(top.head._1 == 0L, s"hub did not win: ${top.toList}")

    println("[smoke] OK")
    spark.stop()
  }
}
