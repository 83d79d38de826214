package graft.operators

import org.apache.spark.sql.functions._
import graft.{Materialize, SparkSuite, Tables}

/** Invariants for the integer-exact Lloyd's trainer — the DuckDB oracle gate
  * proves cross-engine parity; these pin the model-shape properties the
  * oracle can't express (partition totality, convergence direction, search
  * restricted to the assigned cell).
  */
class KMeansSpec extends SparkSuite {

  test("kmeans_centroids: full K×D grid, populations partition the corpus") {
    val out = KMeansOps.kmeansCentroids.run(spark, smokeDir)
    val rows = out.collect()
    assert(rows.length === KMeansOps.K * KMeansOps.Dims)
    val byCluster = rows.groupBy(_.getAs[Long]("cluster_id"))
    assert(byCluster.keySet === (0 until KMeansOps.K).map(_.toLong).toSet)
    // n_points constant within a cluster, and the non-empty ones sum to n
    val ns = byCluster.map { case (_, rs) =>
      val n = rs.map(_.getAs[Long]("n_points")).distinct
      assert(n.length === 1)
      n.head
    }
    val total = Tables.embeddings(spark, smokeDir).count()
    assert(ns.sum === total)
    // quantized centroid components stay inside the quantized data range
    val (lo, hi) = (-QuantBound, QuantBound)
    rows.foreach(r => assert(r.getAs[Long]("c") >= lo && r.getAs[Long]("c") <= hi))
  }

  private val QuantBound = 20000L // |x| < 2.0 after the 1e4 scaling

  test("lloyd iterations never increase total within-cluster cost") {
    // cost(model) = Σ_points min_c ‖qv − cv‖² — Lloyd's is monotone on it.
    val pts = Tables.embeddings(spark, smokeDir)
      .select(col("vec_id"),
        transform(col("embedding"), x => floor(x.cast("double") * KMeansOps.QuantScale)).as("qv"))
    def cost(cents: Seq[(Int, Array[Long], Long)]): Double = {
      val lits = cents.map { case (_, cv, _) => typedLit(cv.toSeq) }
      pts.select(least(lits.map(cv =>
          aggregate(zip_with(col("qv"), cv, (x, w) => (x - w) * (x - w)),
            lit(0L), _ + _)): _*).as("d"))
        .agg(sum("d")).head.getLong(0).toDouble
    }
    val staged = Materialize.stage(KMeansOps.quantized(spark, smokeDir))
    val costs = (1 to 3).map(t => cost(KMeansOps.lloyd(staged, smokeDir, t)))
    assert(costs.sliding(2).forall { case Seq(a, b) => b <= a })
  }

  test("a deeper Lloyd state supersedes the shallower persisted artifact") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // scratch dataset copy ⇒ a model key no earlier test has memoized, so
    // both lloyd calls below really hit the store
    val ds = Files.createTempDirectory("graft-lloyd-ds").toString
    Files.copy(Paths.get(smokeDir, "embeddings.parquet"),
      Paths.get(ds, "embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val store = Files.createTempDirectory("graft-lloyd-store").toString
    spark.conf.set(graft.ArtifactStore.DirConfKey, store)
    try {
      val staged = Materialize.stage(KMeansOps.quantized(spark, ds))
      def persistedDepth: Int = {
        val dirs = new java.io.File(
          s"$store/ivf_model/${graft.ArtifactStore.FormatVersion}").listFiles()
          .filter(_.isDirectory)
        assert(dirs.length === 1, s"expected one artifact dir, got ${dirs.toSeq}")
        spark.read.parquet(dirs.head.toString)
          .agg(max("iter")).head.getInt(0)
      }
      KMeansOps.lloyd(staged, ds, 1)
      assert(persistedDepth === 1)
      // deeper call in the same session must REPLACE the persisted model:
      // with keep-incumbent semantics every fresh session would re-pay
      // iterations 2.. forever (the round-12 advice item)
      KMeansOps.lloyd(staged, ds, 3)
      assert(persistedDepth === 3,
        "deeper Lloyd state was not persisted over the shallow artifact")
    } finally spark.conf.unset(graft.ArtifactStore.DirConfKey)
  }

  test("sibling-k models survive the memo eviction (k alternation never retrains)") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // scratch copy ⇒ fresh fingerprint, no cross-test memo pollution; the
    // artifact store stays DISABLED so the in-memory memo is the only cache
    // — exactly the configuration where the round-13 advice item bit
    val ds = Files.createTempDirectory("graft-lloyd-sib").toString
    Files.copy(Paths.get(smokeDir, "embeddings.parquet"),
      Paths.get(ds, "embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val staged = Materialize.stage(KMeansOps.quantized(spark, ds))
    val mk4 = KMeansOps.lloyd(staged, ds, 1, k = 4)
    val mk6 = KMeansOps.lloyd(staged, ds, 1, k = 6)
    // alternating back must serve the memoized states object, not retrain
    assert(KMeansOps.lloyd(staged, ds, 1, k = 4) eq mk4,
      "training k=6 evicted the still-current k=4 sibling")
    assert(KMeansOps.lloyd(staged, ds, 1, k = 6) eq mk6,
      "k alternation retrained instead of serving the memo")
  }

  test("ann_ivf_trained_topk: every rank run dense, neighbors share the cell") {
    val out = KMeansOps.annIvfTrainedTopk.run(spark, smokeDir)
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val ranks = rs.map(_.getAs[Long]("rank")).sorted
      assert(ranks === (1L to ranks.length))
      assert(rs.map(_.getAs[Long]("cluster_id")).distinct.length === 1)
    }
    // cosine sanity: bounded
    rows.foreach { r =>
      val c = r.getAs[Double]("cosine")
      assert(c >= -1.0001 && c <= 1.0001)
    }
  }

  test("ann_ivf_nprobe2_topk: dense ranks, dominates nprobe=1 rank-for-rank") {
    val np2 = KMeansOps.annIvfNprobe2Topk.run(spark, smokeDir).collect()
    assert(np2.nonEmpty)
    np2.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val ranks = rs.map(_.getAs[Long]("rank")).sorted
      assert(ranks === (1L to ranks.length))
    }
    // searching a superset of cells can only improve the cosine at each rank
    val np1 = KMeansOps.annIvfTrainedTopk.run(spark, smokeDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) -> r.getAs[Double]("cosine"))
      .toMap
    np2.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("rank"))
      np1.get(key).foreach(c1 => assert(r.getAs[Double]("cosine") >= c1 - 1e-4))
    }
  }

  test("kernel assignment is bit-identical to the inline least() path") {
    // The scale path (graft_argmin_centroid, one compiled loop over a
    // referenced matrix — used above InlineAssignMaxK where the k-way
    // least() tree exceeds Janino's method limit) must reproduce the
    // inline composite argmin EXACTLY, ties included: same integer-valued
    // distances, same lowest-cid tie-break. Forced head-to-head at the
    // registry k on the testbed, every row compared.
    val pts = KMeansOps.quantized(spark, smokeDir)
    val cents = KMeansOps.lloyd(pts, smokeDir, KMeansOps.Iters)
      .map(c => (c._1, c._2))
    val inline = KMeansOps.withCidInline(pts, cents)
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kernel = KMeansOps.withCidKernel(pts, cents)
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inline.nonEmpty)
    assert(kernel === inline)
  }

  test("kernel surfaces NULL, not a phantom cid, when every distance is NaN") {
    // Upstream gates exclude non-finite vectors, but the kernel is a
    // public expression: a NaN query component makes every centroid
    // distance NaN, which loses every comparison — the result must be
    // SQL NULL (the malformed-input contract), never the internal
    // Long.MaxValue sentinel leaking out as a joinable centroid id.
    import org.apache.spark.sql.functions.{call_function, col, typedLit}
    import spark.implicits._
    graft.functions.VectorExpressions.ensureRegistered(spark)
    val row = Seq((Seq(Double.NaN, 1.0), 0.0)).toDF("qvx", "qq")
      .withColumn("cid", call_function("graft_argmin_centroid",
        col("qvx"), col("qq"),
        typedLit(Seq(0L, 1L)),
        typedLit(Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)))))
      .select("cid").collect().head
    assert(row.isNullAt(0), s"expected NULL cid, got ${row.get(0)}")
  }
}
