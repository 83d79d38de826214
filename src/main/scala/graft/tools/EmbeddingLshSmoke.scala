package graft.tools

import org.apache.spark.sql.functions._

/** Embedding-LSH recall smoke: measure the planted-pair recall of the
  * single-band sign-LSH bucketing (`dedup_embedding_lsh`, 8 planes) against
  * the banded variant (`dedup_embedding_lsh_banded`, 4 bands × 8 planes) and
  * compare both to sign-LSH theory. For a pair at angle θ a random
  * hyperplane splits it with probability θ/π, so
  *
  *   recall(single) = (1 − θ/π)^r            ≈ 0.59  at cos 0.98, r = 8
  *   recall(banded) = 1 − (1 − (1−θ/π)^r)^B  ≈ 0.97  at B = 4
  *
  * The corpus is synthetic: isotropic gaussian unit vectors (seeded per id,
  * fully deterministic), with every 10th id planted as a near-dup of its
  * predecessor at EXACTLY the target cosine (w = c·v̂ + √(1−c²)·û for û a
  * unit vector orthogonal to v̂). Bucketing runs through the SAME
  * `SimilarityOps.withBandBucket` projection the shipped queries use, so
  * the measured recall is the shipped pipeline's recall, not a model of it.
  *
  *   N_VECS=20000 TARGET_COS=0.98 sbt "runMain graft.tools.EmbeddingLshSmoke"
  */
object EmbeddingLshSmoke {

  /** n seeded vectors; ids ≡ 9 (mod 10) are planted at cosine `c` to id−1. */
  private[tools] def corpus(n: Int, c: Double): Seq[(Long, Seq[Double])] = {
    val dims = 64
    def gauss(seed: Long): Array[Double] = {
      val rng = new java.util.Random(seed * 2654435761L + 17)
      Array.fill(dims)(rng.nextGaussian())
    }
    def unit(v: Array[Double]): Array[Double] = {
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nrm)
    }
    val out = new Array[(Long, Seq[Double])](n)
    var prev: Array[Double] = null
    for (i <- 0 until n) {
      val v =
        if (i % 10 == 9) {
          // û: gaussian draw minus its projection on prev, renormalized —
          // exactly orthogonal, so cos(w, prev) = c to machine precision
          val g = gauss(i.toLong)
          val dot = g.indices.map(j => g(j) * prev(j)).sum
          val u = unit(g.indices.map(j => g(j) - dot * prev(j)).toArray)
          val s = math.sqrt(1 - c * c)
          prev.indices.map(j => c * prev(j) + s * u(j)).toArray
        } else unit(gauss(i.toLong))
      out(i) = (i.toLong, v.toSeq)
      prev = v
    }
    out.toSeq
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("N_VECS", "20000").toInt
    val c = sys.env.getOrElse("TARGET_COS", "0.98").toDouble
    val spark = graft.Session.local()
    import spark.implicits._

    val (bands, r) =
      (graft.operators.DedupOps.LshBands, graft.operators.DedupOps.LshBandPlanes)
    val df = corpus(n, c).toDF("vec_id", "v").repartition(32)
    val bucketed = (0 until bands).foldLeft(df) { (d, b) =>
      graft.operators.SimilarityOps.withBandBucket(d, b, r, s"b$b")
    }

    // planted pairs are (i−1, i) for i ≡ 9 (mod 10): join each planted row
    // to its predecessor and test per-band bucket agreement
    val hit = bucketed.as("x")
      .filter(col("x.vec_id") % 10 === 9)
      .join(bucketed.as("y"), col("y.vec_id") === col("x.vec_id") - 1)
      .select(
        (0 until bands).map(b =>
          (col(s"x.b$b") === col(s"y.b$b")).cast("long").as(s"hit$b")): _*)
      .agg(
        count(lit(1)).as("planted"),
        sum(col("hit0")).as("single"),
        sum(((0 until bands).map(b => col(s"hit$b")).reduce(_ + _) > 0)
          .cast("long")).as("banded"))
      .head()
    val (planted, single, banded) =
      (hit.getLong(0), hit.getLong(1), hit.getLong(2))

    val p = 1 - math.acos(c) / math.Pi
    val thSingle = math.pow(p, r)
    val thBanded = 1 - math.pow(1 - thSingle, bands)
    val mSingle = single.toDouble / planted
    val mBanded = banded.toDouble / planted
    println(f"EMBLSH n=$n%d planted=$planted%d cos=$c%.2f B=$bands r=$r " +
      f"single=$mSingle%.3f (theory $thSingle%.3f) " +
      f"banded=$mBanded%.3f (theory $thBanded%.3f)")
    // tolerance scales with the binomial noise of `planted` Bernoulli
    // samples at the theory rate (4σ — the 0.02 floor covers theory≈0 or 1
    // where σ vanishes but the planted geometry isn't exactly ideal), so
    // env-tuned runs with small N_VECS don't fail on sampling noise
    def tol(th: Double): Double =
      math.max(0.02, 4 * math.sqrt(th * (1 - th) / planted))
    assert(math.abs(mSingle - thSingle) < tol(thSingle),
      f"single-band recall $mSingle%.3f off theory $thSingle%.3f (tol ${tol(thSingle)}%.3f)")
    assert(math.abs(mBanded - thBanded) < tol(thBanded),
      f"banded recall $mBanded%.3f off theory $thBanded%.3f (tol ${tol(thBanded)}%.3f)")
    // at TARGET_COS→1 both recalls saturate at exactly 1.0 — strict > would
    // fail spuriously there; equality is only accepted at full saturation
    assert(mBanded > mSingle || (mBanded == 1.0 && mSingle == 1.0),
      "banding must recover recall")
    spark.stop()
  }
}
