package graft.tools

import org.apache.spark.sql.functions._

/** ANN scale smoke: the similarity family's recall story rests on
  * EmbeddingLshSmoke's 20k-vector theory check; this tier runs the SAME
  * shipped projections (SimilarityOps.withBandBucket sign-LSH, the
  * graft_dot codegen kernel, the hot-bucket cap discipline) over a
  * 1M-vector synthetic corpus with planted near-duplicates, and measures
  * what the 100 TB design point actually needs measured:
  *
  *   - brute-force exact top-k (the ann_cosine_topk shape: broadcast one
  *     query row, one corpus scan, TakeOrderedAndProject) — the per-query
  *     cost that rules brute force out as the bulk path at scale;
  *   - banded sign-LSH candidate generation + verification at the SCALE
  *     parameterization r = 16 planes x B = 4 bands (the registry's r=8
  *     is sized for the 4k-vector testbed; 2^8 = 256 buckets saturate at
  *     1M rows and the cap would drop everything — the smoke demonstrates
  *     the documented scaling rule r ~ log2(N/bucket_target) instead of
  *     pretending the testbed constant scales);
  *   - planted recall against sign-LSH theory, and the candidate-pair
  *     count that bounds the verification stage.
  *
  * The corpus is generated distributed (xxhash64 uniform [-1,1] draws, no
  * driver data): ids ≡ 9 (mod 10) are near-dups of id−1 (w = v + 0.1·u,
  * cosine ≈ 0.995), giving N/10 planted pairs whose recall is exactly
  * measurable without an infeasible 5·10^11-cosine exact ground truth.
  *
  *   N_VECS=1000000 sbt "runMain graft.tools.AnnScaleSmoke"
  *
  * Recorded (round 13, local[32], default heap, N = 1M, AFTER the
  * quadratic-plane fix this smoke forced — see planeLit's scaladoc):
  *   brute top-10: 1M cosines in 1.3 s warm (0.78 M cos/s end-to-end);
  *   banded LSH: 63.5M candidate pairs (63 per row — vs 500k per row
  *   all-pairs), 5 capped buckets of 262k, 41.9 s total, planted recall
  *   0.9734 vs 0.9736 theory. With the ORIGINAL linear planes the same
  *   run measured 25% of rows in cap-dropped hot buckets and recall 18pp
  *   under theory — the defect this smoke exists to catch.
  */
object AnnScaleSmoke {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("N_VECS", "1000000").toLong
    val spark = graft.Session.local()

    val eps = 0.1 // planted perturbation: cos ~ 1/sqrt(1+eps^2) ~ 0.995
    // base(id) is a pure function of id, so the planted row id (≡9 mod 10)
    // reconstructs its partner's base vector WITHOUT sequential generation
    val vecs = spark.range(n).repartition(64)
      .select(col("id").as("vec_id"),
        expr(
          s"""transform(sequence(0, 63), j -> CAST(
             |  (pmod(abs(xxhash64(id - CASE WHEN id % 10 = 9 THEN 1 ELSE 0 END,
             |                     j)), 2001) / 1000.0 - 1.0)
             |  + CASE WHEN id % 10 = 9
             |      THEN $eps * (pmod(abs(xxhash64(id, j + 1000)), 2001) / 1000.0 - 1.0)
             |      ELSE 0.0 END AS DOUBLE))""".stripMargin).as("v"))
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
      .cache()
    vecs.count() // materialize so both measurements see a warm corpus

    // ---- brute-force exact top-k (the ann_cosine_topk plan shape) ----------
    val q = broadcast(vecs.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qnrm")))
    val t0 = System.nanoTime()
    val top = vecs.filter(col("vec_id") =!= 0).crossJoin(q)
      .withColumn("cos", expr("graft_dot(v, qv)") / (col("nrm") * col("qnrm")))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(10)
      .collect()
    val bruteS = (System.nanoTime() - t0) / 1e9
    // vec_id=0's planted near-dup (id 9 copies base(8), not base(0)) is NOT
    // its neighbor; the top hit must still be a genuinely high cosine
    println(f"[ann-smoke] brute n=$n top10 in $bruteS%.1f s " +
      f"(${n / bruteS / 1e6}%.2f M cos/s), best=${top.head.getAs[Double]("cos")}%.4f")

    // ---- banded sign-LSH at the scale parameterization ---------------------
    val r = 16
    val bands = 4
    val cap = graft.operators.DedupOps.LshBucketCap
    val t1 = System.nanoTime()
    val banded = (0 until bands).map { b =>
      graft.operators.SimilarityOps.withBandBucket(vecs, b, r, "sig")
        .select(lit(b).as("band"), col("sig"), col("vec_id"), col("v"), col("nrm"))
    }.reduce(_ unionByName _)
    // house hot-bucket discipline: groups above the cap never reach the join
    val counts = banded.groupBy("band", "sig")
      .agg(count(lit(1)).as("bn"))
    val capped = counts.filter(col("bn") > cap).count()
    val kept = banded.join(
      counts.filter(col("bn") <= cap).select("band", "sig"), Seq("band", "sig"))
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("x"), col("b.vec_id").as("y"),
        (expr("graft_dot(a.v, b.v)") / (col("a.nrm") * col("b.nrm"))).as("cos"))
    val candidates = pairs.count()
    val found = pairs.filter(col("cos") >= 0.95)
      .select("x", "y").distinct()
      .filter(col("y") === col("x") + 1 && col("y") % 10 === 9)
      .count()
    val lshS = (System.nanoTime() - t1) / 1e9
    val planted = n / 10
    val recall = found.toDouble / planted
    // theory: recall = 1 - (1 - (1 - theta/pi)^r)^B at cos 0.995
    val theta = math.acos(1.0 / math.sqrt(1 + eps * eps))
    val theory = 1 - math.pow(1 - math.pow(1 - theta / math.Pi, r), bands)
    println(f"[ann-smoke] lsh r=$r B=$bands n=$n cand=$candidates " +
      f"(${candidates.toDouble / n}%.0f/row) capped=$capped $lshS%.1f s " +
      f"recall=$recall%.4f theory=$theory%.4f")
    require(recall >= theory - 0.03,
      f"planted recall $recall%.4f fell more than 3pp below theory $theory%.4f")
    require(candidates < n * 200,
      s"candidate blowup: $candidates pairs for $n rows")
    spark.stop()
  }
}
