package graft.tools

import org.apache.spark.sql.functions._

/** IVF scale smoke: the trained-quantizer ANN path at the scale
  * parameterization. The registry's ann_ivf_* queries train k=8 cells —
  * sized for the 4k-vector testbed and its DuckDB oracle (the unrolled
  * Lloyd CTE) — so, like the LSH smoke's r=16, this tier runs the SAME
  * shipped machinery (KMeansOps.quantized → lloyd → withCid, the exact
  * integer-arithmetic pipeline) at k=256 over 1M vectors in 512 planted
  * clusters, and measures what the IVF design claims at 100 TB:
  *
  *   - training cost: 3 Lloyd iterations, each one O(N·k) assignment
  *     pass + an O(k·dims) driver-side refresh (nothing row-sized ever
  *     reaches the driver);
  *   - search cost: nprobe/k of the corpus touched per query instead of
  *     a full scan — the quantizer pays for itself once assignment is
  *     a build-once artifact (lloyd memoizes + persists, k in the key);
  *   - recall@10 against the EXACT brute-force answer on the same data
  *     (50 queries × 1M cosines is feasible ground truth, unlike
  *     all-pairs), at nprobe=1 and nprobe=2 — the standard recall knob.
  *
  * The corpus is generated distributed: 512 hash-centered clusters with
  * noise sized (0.65) so clusters overlap enough that cell boundaries
  * cost something — the co-located structure IVF exists for, made hard
  * enough that the nprobe knob is visible (on isotropic data no cell
  * system can co-locate neighbors and every IVF implementation scores
  * poorly; at tight noise 0.35 every recall is 1.0 — both would measure
  * the data, not the engine).
  *
  * Running at k=256 REQUIRED an engine change this smoke forced: the
  * inline k-way `least(graft_dot…)` assignment tree exceeds Janino's
  * 64 KB generated-method limit (hard job abort at k=256), so withCid
  * now dispatches to the `graft_argmin_centroid` kernel expression above
  * InlineAssignMaxK — one compiled loop whose k lives in a referenced
  * matrix, not in generated source (KMeansSpec pins bit-parity of the
  * two paths).
  *
  *   N_VECS=1000000 sbt "runMain graft.tools.IvfScaleSmoke"
  *
  * Recorded (round 13, local[32], default heap, N = 1M, k = 256):
  *   train 3 Lloyd iterations 3.3 s (each an O(N·k) kernel-assignment
  *   pass + O(k·dims) driver refresh), full corpus assignment 0.9 s,
  *   brute ground truth 50×1M cosines 1.9 s; IVF search 50 queries:
  *   recall@10 = 0.948 at nprobe=1 (1/256 of the corpus per query),
  *   0.990 at nprobe=2 — the standard knob behaving as designed.
  *
  * Recorded (round 15, local[32], FIXED 16 GB heap, N = 10M, k = 256 —
  * the family's matrix tier): train 30.6 s, assignment 13.5 s, brute
  * truth 7.9 s, search 1.8 s / 0.8 s; recall@10 = 0.938 at nprobe=1,
  * 0.990 at nprobe=2 — within noise of the 1M tier's recall, so the cell
  * geometry holds at 10×. Train/assign scale ~linearly (×9.3/×15 on ×10
  * data). Point set and assignment persist DISK_ONLY at this tier: a
  * memory-resident cache crowded Lloyd's update aggregation out of the
  * unified pool (AGGREGATE_OUT_OF_MEMORY), and streaming scans off
  * storage are the 100 TB posture anyway.
  */
object IvfScaleSmoke {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("N_VECS", "1000000").toLong
    val k = 256
    val nClusters = 512
    val nQueries = 50
    val spark = graft.Session.local()
    import graft.operators.KMeansOps

    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-smoke").toString
    spark.range(n).repartition(64)
      .select(col("id").as("vec_id"),
        expr(
          s"""transform(sequence(0, 63), j -> CAST((
             |  (pmod(abs(xxhash64(id % $nClusters, j + 5000)), 2001) / 1000.0 - 1.0)
             |  + 0.65 * (pmod(abs(xxhash64(id, j)), 2001) / 1000.0 - 1.0))
             |  AS FLOAT))""".stripMargin).as("embedding"),
        (col("id") % nClusters).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // ≥2M vectors: the materialized point set (~1 KB/row with the double
    // and quantized vectors side by side) would crowd execution memory out
    // of the unified pool inside a fixed 16 GB heap — the 10M first
    // attempt died with AGGREGATE_OUT_OF_MEMORY in Lloyd's update sums.
    // DISK_ONLY is also the honest 100 TB posture: nothing row-sized is
    // memory-resident; scans stream from storage.
    val lvl =
      if (n >= 2000000L) org.apache.spark.storage.StorageLevel.DISK_ONLY
      else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val pts = KMeansOps.quantized(spark, dir).persist(lvl)
    pts.count()

    val t0 = System.nanoTime()
    val model = KMeansOps.lloyd(pts, dir, 3, k = k)
    val trainS = (System.nanoTime() - t0) / 1e9
    val cents = model.map(c => (c._1, c._2))

    val t1 = System.nanoTime()
    val asg = KMeansOps.withCid(pts, cents)
      .select(col("vec_id"), col("cid"), col("v"), col("nrm")).persist(lvl)
    asg.count()
    val assignS = (System.nanoTime() - t1) / 1e9

    // spread the queries across clusters; collect their vectors once
    val qIds = (0 until nQueries).map(q => (q * 7919L) % n)
    val qRows = pts.filter(col("vec_id").isin(qIds: _*))
      .select(col("vec_id"), col("v"), col("nrm"), col("qv"), col("qq"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2),
        r.getSeq[Long](3).toArray, r.getDouble(4)))
    val queries = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(qRows.map(q => (q._1, q._2, q._3)).toSeq, 1))
      .toDF("query_id", "query_v", "query_nrm"))

    // a probed corpus carries `pq` (the query whose cells selected the
    // row) and must score against THAT query only; the full corpus
    // cross-scores every query
    def topkOf(corpus: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      corpus.join(queries,
          if (corpus.columns.contains("pq"))
            col("pq") === col("query_id") && col("vec_id") =!= col("query_id")
          else col("vec_id") =!= col("query_id"))
        .select(col("query_id"),
          (expr("graft_dot(v, query_v)") / (col("nrm") * col("query_nrm"))).as("cos"),
          col("vec_id"))
        .groupBy("query_id")
        .agg(expr("graft_cosine_topk(cos, vec_id, 10)").as("topk"))
        .select(col("query_id"), explode(col("topk.id")).as("nid"))
        .collect().groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.map(_.getLong(1)).toSet
        }

    val t2 = System.nanoTime()
    val truth = topkOf(asg)
    val bruteS = (System.nanoTime() - t2) / 1e9
    println(f"[ivf-smoke] n=$n k=$k train(3 iters)=$trainS%.1f s " +
      f"assign=$assignS%.1f s brute($nQueries q)=$bruteS%.1f s")

    // nearest cells per query: exact integer distance on the driver over
    // the k x dims model — the same |q|^2 - 2 q.c + |c|^2 composite the
    // engine uses, k values per query
    def probeCells(p: Int): Map[Long, Seq[Int]] = qRows.map { case (qid, _, _, qv, _) =>
      qid -> cents.map { case (cid, cv) =>
        var dot = 0L; var cc = 0L; var i = 0
        while (i < cv.length) { dot += qv(i) * cv(i); cc += cv(i) * cv(i); i += 1 }
        (cc - 2 * dot, cid)
      }.sorted.take(p).map(_._2)
    }.toMap

    for (p <- Seq(1, 2)) {
      val probes = probeCells(p)
      val probeDf = broadcast(spark.createDataFrame(
        probes.toSeq.flatMap { case (q, cs) => cs.map(c => (q, c)) }.sortBy(identity))
        .toDF("pq", "probe_cid"))
      val t3 = System.nanoTime()
      val got = topkOf(asg.join(probeDf,
          asg("cid") === probeDf("probe_cid"))
        .select(col("pq"), col("vec_id"), col("v"), col("nrm")))
      val searchS = (System.nanoTime() - t3) / 1e9
      val recall = truth.keys.toSeq.map(q =>
        (got.getOrElse(q, Set.empty) & truth(q)).size / 10.0).sum / truth.size
      println(f"[ivf-smoke] nprobe=$p search=$searchS%.1f s recall@10=$recall%.4f")
      if (p == 2) require(recall >= 0.95,
        f"nprobe=2 recall $recall%.4f below 0.95 on co-located clusters")
    }
    spark.stop()
  }
}
