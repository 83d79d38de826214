package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end pretraining-pipeline scale smoke: normalize → per-source
  * quality gate → exact dedup → sequence-packing plan, COMPOSED as one
  * lineage over millions of documents. Every stage already carries its
  * own measured tier (TextScaleSmoke, DedupScaleSmoke,
  * RelationalScaleSmoke for the join/agg shapes) — what no tier measures
  * is the composition a real pipeline actually runs: one DAG where each
  * stage's output feeds the next, Catalyst fuses the per-doc stages into
  * a single projection, and the whole flow crosses exactly TWO shuffles
  * (the dedup window on the 18-byte content digest, and the packing
  * window on (source, shard)) plus one broadcast (the 7-row source-mean
  * gate). A pipeline that re-materialized or re-joined between stages
  * would show up here as extra exchanges and wall time.
  *
  *   N_DOCS=8400000 SPARK_DRIVER_MEM=16g \
  *     sbt "runMain graft.tools.PipelineScaleSmoke"
  *
  * Exactness without an oracle: doc text is a pure function of
  * k = id % D (D = 700,000 distinct texts; N = 12·D so every text
  * appears exactly 12 times — the dedup stage must drop 11 of 12), built
  * as 4 base-32 "digit" words of k (uniqueness) plus 8 + k%23 filler
  * words from a fixed vocabulary (quality variation). 7 | D, so text k
  * occurs only in source k % 7 and each source's quality mean is an
  * exact integer over its residue class. The driver reimplements
  * normalize/tokenize/quality with plain JDK ops, computes the 7 source
  * means, picks the gate threshold BETWEEN the sorted means (so the gate
  * genuinely drops sources), and replays gate → dedup → packing as one
  * integer loop: kept docs are exactly {k : source(k) passes} (the
  * minimum doc_id per text group is k itself), and the packing
  * cum-sum/pack-id walk runs per (source, shard) in ascending k. The
  * Spark side must match n_gated, n_kept, Σ tokens kept, and the
  * distinct (source, shard, pack_id) count BITWISE.
  *
  * Stage semantics are the REGISTRY's own: TextOps.normalizeOf (keep
  * threads source through), TextOps.qualityStatsOf + qualityMilli with
  * the quality_source_filter gate shape (mean ≥ threshold, broadcast
  * join back), DedupOps.exactDupRank (digest window, rn = 1 survives),
  * PipelineOps.shardHash + the pack_sequences cum-sum window at
  * PackCapacity tokens.
  *
  * Recorded (round 14, this machine, local[32], 16 GB heap, min of 2
  * passes after a 0.7M warmup): half 4.2M docs 14.24 s, full 8.4M docs
  * 24.72 s — 0.34 M docs/s end-to-end through all four stages, every
  * count bitwise-exact at every tier (gated 6,000,000 / kept 500,000 /
  * tokens 11,499,973 / packs 22,478 at full). The map stage runs twice
  * by the gate's NATURE (source means must exist before the gate can
  * filter — the same two-pass shape as quality_source_filter), and the
  * first fused version of this smoke paid a THIRD map pass for a
  * separate stage-accounting count job; folding dropped duplicates into
  * the packing window with zero token weight (NULL pack_id, excluded by
  * count-distinct) put all four counts into ONE action and cut the full
  * tier 39.05 → 24.72 s.
  */
object PipelineScaleSmoke {

  private val D = 700000L // distinct texts; 7 | D
  private val V = 32
  private val Vocab: Array[String] = Array(
    "the", "a", "of", "and", "in", "fox,", "jumps", "Over", "lazy", "dog.",
    "quick", "brown", "Zebra", "runs!", "data", "spark", "scale", "tokens",
    "quality;", "score", "corpus", "shard", "batch", "pipeline", "model",
    "train", "clean?", "filter", "Dedup", "hash", "text", "bytes")
  require(Vocab.length == V)

  private def nFill(k: Long): Int = (8 + k % 23).toInt
  /** Raw text of class k: 4 base-32 digit words (uniqueness) + filler. */
  private def textOf(k: Long): String = {
    val digits = (0 until 4).map(i => Vocab(((k >> (5 * (3 - i))) & 31).toInt))
    val fill = (0 until nFill(k)).map(j => Vocab(((k * 31 + j * 7) % V).toInt))
    (digits ++ fill).mkString(" ")
  }

  // the SPEC-form negated class, deliberately NOT the production
  // lookahead rewrite: the driver twin must stay independent of the
  // optimization it validates, or a bug in the lookahead equivalence
  // would pass this smoke with both sides wrong identically
  private val StripRe = java.util.regex.Pattern.compile("[^a-z0-9 ]")
  private val SqueezeRe = java.util.regex.Pattern.compile(" +")
  private def normalize(s: String): String =
    SqueezeRe.matcher(
      StripRe.matcher(s.toLowerCase(java.util.Locale.ROOT)).replaceAll(""))
      .replaceAll(" ").trim

  private def shardOf(docId: Long): Long =
    ((docId % 1000003L) * 2654435761L) % 4294967296L / 536870912L

  /** Per-class expected metrics over the NORMALIZED text. */
  private final case class K(source: Int, nTokens: Long, milli: Long)

  private def kMetrics(k: Long): K = {
    val norm = normalize(textOf(k))
    val toks = norm.split(" ").filter(_.nonEmpty)
    val n = toks.length.toLong
    val du = toks.distinct.length.toLong
    val ds = toks.count(w => w == "the" || w == "a" || w == "of").toLong
    val ncl = norm.length.toLong
    val milli = du * 500 / n + (n - ds) * 300 / n +
      math.min((ncl - n + 1) * 200 / (8 * n), 200L)
    K((k % 7).toInt, n, milli)
  }

  /** Distributed docs frame mirroring [[textOf]] in pure codegen. */
  private def docs(spark: SparkSession, n: Long): DataFrame = {
    val va = array(Vocab.map(lit): _*)
    val k = col("id") % D
    val digitTok = (i: Int) =>
      element_at(va, (shiftright(k, 5 * (3 - i)) % 32 + 1).cast("int"))
    val fill = transform(
      sequence(lit(0L), k % 23 + 7),
      j => element_at(va, ((k * 31 + j * 7) % V + 1).cast("int")))
    spark.range(n).select(
      col("id").as("doc_id"),
      (k % 7).cast("string").as("source"),
      array_join(
        concat(array(digitTok(0), digitTok(1), digitTok(2), digitTok(3)), fill),
        " ").as("text"))
  }

  /** The composed pipeline: one DataFrame, two shuffles. Returns the
    * 4-value summary row (n_gated, n_kept, sum_tokens, n_packs). */
  private def pipeline(spark: SparkSession, n: Long, thr: Long): Array[Long] = {
    import graft.operators.{DedupOps, PipelineOps, TextOps}
    val normed = TextOps.normalizeOf(docs(spark, n), keep = Seq("source"))
      .select(col("doc_id"), col("source"), col("norm").as("text"))
    val q = TextOps.qualityStatsOf(normed)
      .select(col("doc_id"), col("source"), col("t"),
        col("n").cast("long").as("n_tokens"),
        TextOps.qualityMilli.as("quality_milli"))
      .withColumn("text", array_join(col("t"), " ")).drop("t")
    val srcMean = q.groupBy("source")
      .agg(expr("sum(quality_milli) div count(1)").as("src_mean_milli"))
      .filter(col("src_mean_milli") >= thr)
    val gated = q.join(broadcast(srcMean), "source")
    // dropped duplicates stay in the packing window with a ZERO token
    // contribution (and a NULL pack_id, which count-distinct excludes):
    // the kept rows' cumulative sums are identical to a filtered window,
    // and every stage count comes out of ONE action — no second job
    // re-running the fused map stage just for accounting
    val ranked = DedupOps.exactDupRank(gated, keep = Seq("source", "n_tokens"))
      .withColumn("shard", expr(PipelineOps.shardHash("doc_id")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val keptTok = when(col("rn") === 1, col("n_tokens")).otherwise(lit(0L))
    val packed = ranked
      .withColumn("cum_before", coalesce(sum(keptTok).over(w), lit(0L)))
      .withColumn("pack_id",
        when(col("rn") === 1, expr(s"cum_before div ${PipelineOps.PackCapacity}")))
    val row = packed.agg(
      count(lit(1)),
      sum(when(col("rn") === 1, 1L).otherwise(0L)),
      sum(keptTok),
      countDistinct(col("source"), col("shard"), col("pack_id"))).head
    Array(row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
  }

  private def run(spark: SparkSession, n: Long, label: String,
                  passes: Int): Unit = {
    require(n % D == 0 && n >= D, s"pin N to a multiple of $D")
    val copies = n / D // every text class appears exactly this often
    val ks = (0L until D).map(kMetrics)

    // gate threshold: strictly between the sorted source means, so some
    // sources pass and some drop — a vacuous gate would prove nothing
    val means = (0 until 7).map { s =>
      val cls = ks.filter(_.source == s)
      (s, cls.map(_.milli).sum * copies / (cls.length * copies))
    }
    val sorted = means.map(_._2).sorted
    val thr = sorted(2) // drops the two lowest-mean sources (or more on ties)
    val passing = means.filter(_._2 >= thr).map(_._1).toSet
    require(passing.nonEmpty && passing.size < 7,
      s"planted gate must split the sources: means=$means thr=$thr")

    // expected: gate keeps all copies of passing classes; dedup keeps the
    // minimum doc_id per class, which is k itself; packing walks each
    // (source, shard) group in ascending k
    val expGated = ks.count(k => passing(k.source)) * copies
    val keptK = (0L until D).filter(k => passing(ks(k.toInt).source))
    val expKept = keptK.length.toLong
    val expTokens = keptK.map(k => ks(k.toInt).nTokens).sum
    val lastPack = scala.collection.mutable.Map.empty[(Int, Long), Long]
    val cum = scala.collection.mutable.Map.empty[(Int, Long), Long]
    var expPacks = 0L
    keptK.foreach { k =>
      val g = (ks(k.toInt).source, shardOf(k))
      val before = cum.getOrElse(g, 0L)
      val pid = before / graft.operators.PipelineOps.PackCapacity
      if (!lastPack.get(g).contains(pid)) { expPacks += 1; lastPack(g) = pid }
      cum(g) = before + ks(k.toInt).nTokens
    }
    val expected = Array(expGated, expKept, expTokens, expPacks)

    val times = (1 to passes).map { _ =>
      val t0 = System.nanoTime()
      val got = pipeline(spark, n, thr)
      val sec = (System.nanoTime() - t0) / 1e9
      require(java.util.Arrays.equals(got, expected),
        s"$label MISMATCH got=${got.toSeq} expected=${expected.toSeq}")
      sec
    }
    println(f"[pipescale] $label ${times.min}%7.2f s  " +
      f"${n / times.min / 1e6}%5.2f M docs/s e2e  " +
      s"gated=$expGated kept=$expKept tokens=$expTokens packs=$expPacks EXACT")
  }

  def main(args: Array[String]): Unit = {
    val nFull = sys.env.getOrElse("N_DOCS", "8400000").toLong
    require(nFull >= 2 * D,
      s"N_DOCS must be at least ${2 * D} (2×D) so the half tier is non-empty")
    val spark = graft.Session.local(logLevel = "ERROR",
      conf = Map("spark.sql.shuffle.partitions" -> "32"))
    println(s"[pipescale] heap=${Runtime.getRuntime.maxMemory() / (1 << 20)} MiB")
    run(spark, D, "warmup(0.7M, copies=1)", passes = 1)
    run(spark, nFull / 2 / D * D, s"half(${nFull / 2 / D * D / 1e6}M)", passes = 2)
    run(spark, nFull / D * D, s"full(${nFull / D * D / 1e6}M)", passes = 2)
    println("[pipescale] done: all tiers exact end-to-end")
    spark.stop()
  }
}
