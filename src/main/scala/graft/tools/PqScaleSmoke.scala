package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PQ scale smoke: product quantization at the production
  * parameterization, as an ABLATION — plain PQ over raw vectors vs
  * IVFADC-style RESIDUAL PQ (Jégou, Douze, Schmid, TPAMI 2011 §IV: coarse-
  * quantize x to its cell centroid c, PQ-encode the residual x − c, score
  * dot(q, x) ≈ dot(q, c) + dot(q, recon(x − c))).
  *
  * The registry's `ann_pq_topk` trains M=4 × K=8 codebooks — sized for the
  * testbed and its unrolled-Lloyd DuckDB oracle — so this tier runs the
  * SAME shipped machinery (KMeansOps.quantized/lloyd → PqOps.trainBooks/
  * encode, the exact integer pipeline) at k = 256 codes per sub-space over
  * millions of vectors, and measures what the PQ design claims at 100 TB:
  *
  *   - memory: a code row is a cell id + M small ints — ~5 bytes/vector
  *     against 512 for float64×64 (~100×); the scored scan reads ONLY the
  *     code columns (column pruning does the rest);
  *   - training: codebooks fit on a bounded SAMPLE (seeds ∪ ~5%
  *     hash-Bernoulli — the standard PQ practice), then ONE row-local
  *     encode pass over everything;
  *   - search: ADC — per query one (cell-dot table + M×k residual table)
  *     built driver-side from the collected query row, then lookups +
  *     adds per candidate row; truth is exact max-inner-product (dot),
  *     the quantity ADC approximates;
  *   - WHY residuals: on this corpus (512 hash-seeded clusters, noise
  *     0.65 — the IVF smoke's geometry) a query's true neighbors differ
  *     from ~4k same-cluster members only by noise. Raw-space codebooks
  *     spend their resolution separating CLUSTERS and have none left
  *     inside one (measured below at chance); residual codebooks spend
  *     ALL their resolution inside the cell, which is the regime a
  *     deployed 100-TB ANN actually runs in.
  *
  *   N_VECS=2000000 sbt "runMain graft.tools.PqScaleSmoke"
  *
  * Recorded (round 16, local[32], fixed 16 GB heap, N = 2M, m=8 × k=256
  * = 8-byte codes, sample ~5%, 50 queries, dot-truth):
  *   plain PQ:    books 28.4 s (8 sub-spaces × 3 Lloyd iterations on a
  *                ~100k sample — flat in N), encode 6.1 s (one
  *                projection, argmin kernel ×8), ADC top-10 2.9 s;
  *                recall@10 = 0.048 direct / 0.256 @R=100 / 0.836 @R=1000
  *   residual PQ: coarse 5.2 s + books 10.3 s, encode 4.2 s, ADC 3.3 s;
  *                recall@10 = 0.166 direct / 0.558 @R=100 / 0.948 @R=1000
  *   + the IVF half (cell-restricted search, same run): nprobe=32
  *     (12.5% of the corpus) reproduces the exhaustive numbers EXACTLY
  *     (0.166/0.558/0.948) at 0.8 s vs 6.8 s — an 8× search cut at zero
  *     recall loss; nprobe=8 (3.1%) holds 0.156/0.524/0.854.
  * The 2-3× residual-over-plain jump at every operating point is the
  * residual-encoding argument, measured; the absolute ceiling is the
  * DATA's — this corpus's discriminating signal is 0.65·U[-1,1] noise,
  * which is incompressible (≫8 bits/sub-space of entropy), so codes
  * cannot rank it exactly and production recall comes from the
  * shortlist + exact re-rank (R=1000 re-reads 0.05% of the corpus at
  * full width for 0.948). Real embedding distributions are the
  * compressible case; this geometry is the adversarial floor.
  */
object PqScaleSmoke {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("N_VECS", "2000000").toLong
    val k = 256
    // the classic PQ64 code rate: 8 sub-spaces x 8 dims x 8-bit codes =
    // 8 B/vector (the registry's M=4x16 is the ORACLE shape; the
    // machinery is geometry-parameterized)
    val m = 8
    val subDims = 8
    val nClusters = 512
    val nQueries = 50
    val spark = graft.Session.local()
    import graft.operators.{KMeansOps, PqOps}

    val dir = java.nio.file.Files
      .createTempDirectory("graft-pq-smoke").toString
    spark.range(n).repartition(64)
      .select(col("id").as("vec_id"),
        expr(
          s"""transform(sequence(0, 63), j -> CAST((
             |  (pmod(abs(xxhash64(id % $nClusters, j + 5000)), 2001) / 1000.0 - 1.0)
             |  + 0.65 * (pmod(abs(xxhash64(id, j)), 2001) / 1000.0 - 1.0))
             |  AS FLOAT))""".stripMargin).as("embedding"),
        (col("id") % nClusters).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // same posture as IvfScaleSmoke: row-sized state streams from disk at
    // the ≥2M tier so Lloyd's update aggregation keeps the unified pool
    val lvl =
      if (n >= 2000000L) org.apache.spark.storage.StorageLevel.DISK_ONLY
      else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val pts = KMeansOps.quantized(spark, dir).persist(lvl)
    pts.count()

    // codebooks train on seeds ∪ ~5% — lloyd's seed rows (vec_id < k)
    // must be present; persisted-model tags include k and the book
    // prefix, so raw/residual/coarse models cannot collide
    def sampled(df: DataFrame): DataFrame = df.filter(col("vec_id") < k ||
      pmod(abs(xxhash64(col("vec_id"))), lit(20)) === 0)

    val qIds = (0 until nQueries).map(q => (q * 7919L) % n)
    val qRows = pts.filter(col("vec_id").isin(qIds: _*))
      .select("vec_id", "qvd", "v", "nrm").collect()

    // exact max-inner-product truth — the quantity ADC approximates
    val queries = broadcast(spark.createDataFrame(
        qRows.toSeq.map(r => (r.getLong(0), r.getSeq[Double](2))))
      .toDF("query_id", "query_v"))
    val truth = pts.join(queries, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), expr("graft_dot(v, query_v)").as("s"),
        col("vec_id"))
      .groupBy("query_id")
      .agg(expr("graft_cosine_topk(s, vec_id, 10)").as("topk"))
      .select(col("query_id"), explode(col("topk.id")).as("nid"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

    def time[A](body: => A): (A, Double) = {
      val t = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t) / 1e9)
    }

    /** Residual-book LUTs per query, plus optional per-cell dot table;
      * `nprobe` restricts each query's candidates to its top-`nprobe`
      * cells by query-centroid dot (the IVF half of IVFADC — search cost
      * becomes ~nprobe/k of the corpus instead of an exhaustive ADC
      * scan). */
    def recallOf(codes: DataFrame, books: Seq[Seq[(Int, Array[Long])]],
                 cellDots: Option[Seq[Seq[Double]]],
                 nprobe: Option[Int] = None)
        : (Double, Double, Double, Double) = {
      val luts = qRows.toSeq.zipWithIndex.map { case (r, qi) =>
        val qvd = r.getSeq[Double](1).toArray
        val lutMat: Seq[Seq[Double]] = (0 until m).map { j =>
          books(j).sortBy(_._1).map { case (_, cv) =>
            (0 until subDims).map(i => qvd(j * subDims + i) * cv(i)).sum
          }
        }
        val cell = cellDots.map(_(qi)).getOrElse(Seq(0.0))
        (r.getLong(0), lutMat, cell)
      }
      val ldf = broadcast(spark.createDataFrame(luts)
        .toDF("query_id", "lutMat", "cellLut"))
      val cellTerm: Column =
        if (cellDots.isDefined)
          element_at(col("cellLut"), col("cid").cast("int") + 1)
        else lit(0.0)
      val base = nprobe match {
        case Some(np) =>
          // per-query probe list from the SAME cell-dot table ADC uses
          val pdf = broadcast(spark.createDataFrame(
            qRows.toSeq.zipWithIndex.flatMap { case (r, qi) =>
              cellDots.get(qi).zipWithIndex.sortBy(-_._1).take(np)
                .map { case (_, cid) => (r.getLong(0), cid.toLong) }
            }).toDF("query_id", "cid"))
          codes.join(pdf, Seq("cid")).join(ldf, Seq("query_id"))
        case None => codes.crossJoin(ldf)
      }
      val scored = base
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("score", (0 until m).map(j =>
          element_at(element_at(col("lutMat"), j + 1),
            col(s"c$j").cast("int") + 1))
          .reduce(_ + _) + cellTerm)
      def top(r: Int): Map[Long, Set[Long]] = scored
        .groupBy("query_id")
        .agg(expr(s"graft_cosine_topk(score, vec_id, $r)").as("topk"))
        .select(col("query_id"), explode(col("topk.id")).as("nid"))
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val (t10, searchS) = time(top(10))
      val t100 = top(100)
      val t1000 = top(1000)
      def recall(m: Map[Long, Set[Long]]) =
        qIds.map(q => (truth(q) intersect m(q)).size / 10.0).sum / qIds.size
      (recall(t10), recall(t100), recall(t1000), searchS)
    }

    // ---- plain PQ over raw vectors -----------------------------------
    val sample = sampled(pts).persist(lvl); sample.count()
    val (rawBooks, rawTrainS) =
      time(PqOps.trainBooks(sample, dir, iters = 3, k = k,
        m = m, subDims = subDims))
    val (rawCodes, rawEncodeS) = time {
      val c = PqOps.encode(pts, rawBooks, subDims)
        .select(col("vec_id") +:
          (0 until m).map(j => col(s"c$j")): _*).persist(lvl)
      c.count(); c
    }
    val (rawD, rawR, rawR2, rawSearchS) = recallOf(rawCodes, rawBooks, None)
    println(f"[pq-smoke] n=$n m=$m subDims=$subDims k=$k sample~5%% (dot-truth)")
    println(f"[pq-smoke] plain:    books=$rawTrainS%.1fs encode=$rawEncodeS%.1fs " +
      f"adcTop10=$rawSearchS%.1fs recall@10 direct=$rawD%.3f " +
      f"rerank(R=100)=$rawR%.3f rerank(R=1000)=$rawR2%.3f")

    // ---- IVFADC: coarse cell + PQ on the residual --------------------
    val (coarse, coarseS) = time(
      KMeansOps.lloyd(pts, dir, 3, k = k).map(c => (c._1, c._2)))
    val centMat: Seq[Seq[Long]] =
      coarse.sortBy(_._1).map(_._2.toSeq)
    // the residual frame is NEVER cached whole (row-local over the cached
    // pts, and wide enough that materializing it OOMed a 16 GB heap) —
    // only its bounded training sample and the final narrow codes persist
    sample.unpersist(); rawCodes.unpersist()
    val res = PqOps.residualize(pts, coarse)
    val resSample = sampled(res).persist(lvl); resSample.count()
    val (resBooks, resTrainS) =
      time(PqOps.trainBooks(resSample, dir, iters = 3, k = k,
        tagPrefix = "-rpq", m = m, subDims = subDims))
    val (resCodes, resEncodeS) = time {
      val c = PqOps.encode(res, resBooks, subDims)
        .select(col("vec_id") +: col("cid") +:
          (0 until m).map(j => col(s"c$j")): _*).persist(lvl)
      c.count(); c
    }
    // per-query dot against every coarse centroid (k doubles, driver-side)
    val cellDots = qRows.toSeq.map { r =>
      val qvd = r.getSeq[Double](1).toArray
      centMat.map(cv =>
        (0 until KMeansOps.Dims).map(i => qvd(i) * cv(i)).sum).toSeq
    }
    val (resD, resR, resR2, resSearchS) = recallOf(resCodes, resBooks, Some(cellDots))
    println(f"[pq-smoke] residual: coarse=$coarseS%.1fs books=$resTrainS%.1fs " +
      f"encode=$resEncodeS%.1fs adcTop10=$resSearchS%.1fs " +
      f"recall@10 direct=$resD%.3f rerank(R=100)=$resR%.3f " +
      f"rerank(R=1000)=$resR2%.3f")
    // the IVF half: probe only the top cells per query
    for (np <- Seq(8, 32)) {
      val (pD, pR, pR2, pS) = recallOf(resCodes, resBooks, Some(cellDots),
        nprobe = Some(np))
      println(f"[pq-smoke] residual nprobe=$np%-3d (${np * 100.0 / k}%.1f%% of corpus): " +
        f"adcTop10=$pS%.1fs recall@10 direct=$pD%.3f rerank(R=100)=$pR%.3f " +
        f"rerank(R=1000)=$pR2%.3f")
    }
    println(f"[pq-smoke] codes: cid + $m sub-codes ~${m + 1} B/vector vs " +
      "512 B float64x64 (~57x)")
    spark.stop()
  }
}
