package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text/map-family scale smoke: the per-doc text operators (quality
  * scoring, language-ID, BPE-ish piece counting, fingerprinting,
  * normalization) are the highest-row-count stage of a pretraining
  * pipeline — every document passes through them BEFORE dedup prunes
  * anything — yet until this tool the family's scale claim rested on the
  * sf0.1 bench alone while every other family (dedup 10.5M docs, graph
  * 20M edges, ANN/IVF 1M vectors, relational 102M rows, window 98M
  * events, streaming 80M events/s tiers) carried a measured tier. The
  * family is embarrassingly parallel by construction (no shuffle in any
  * per-doc operator — the only interesting scale questions are throughput
  * and per-task memory), so the smoke measures exactly that: docs/second
  * through the REAL registry pipelines ([[graft.operators.TextOps]]'s
  * frame-level seams — qualityScoreOf, langIdOf, bpePiecesOf,
  * fingerprintOf, normalizeOf — the same code the oracle-checked queries
  * bind to the documents table), in a fixed heap, with every aggregate
  * EXACT by construction.
  *
  *   N_DOCS=20100000 SPARK_DRIVER_MEM=16g \
  *     sbt "runMain graft.tools.TextScaleSmoke"
  *
  * Exactness without an oracle at 20M docs: each doc's text is a pure
  * function of id % P (P = 30000) — token count 8 + r%23, token j =
  * vocab[(r·31 + j·7) % 32] over a fixed ASCII vocabulary that includes
  * the stopword/marker sets and punctuation-bearing words — so every
  * per-doc metric is periodic in id and the driver computes the expected
  * GLOBAL integer totals (Σ n_tokens, Σ quality_milli, Σ en_score_e4,
  * en/unknown counts, Σ n_pieces, Σ fingerprint, Σ n_norm_chars) by one
  * exact loop over the 30000 residues, reimplementing each metric
  * independently with plain JDK string/regex ops (same JVM regex engine
  * the executors run; the polyhash fold is 10 lines re-derived from its
  * spec). N is pinned to a multiple of P; all totals are BIGINT-exact
  * under any partial-aggregation order, so "matches" means bitwise
  * equality. Generation is distributed (spark.range + codegen'd
  * sequence/transform/element_at/array_join — no driver arrays, no
  * parquet staging: the family's parquet scan path is covered by
  * ScanAudit and the sf0.1 bench; what is bought here is the per-doc
  * operator core at volume).
  *
  * The smoke's first run caught a REAL hot-path defect the sf0.1 bench
  * was too small to surface: text_normalize ran at 0.09 M docs/s and
  * text_bpe_token_count at 0.21 M docs/s while every sibling per-doc
  * operator ran 1-4 M docs/s. Isolation probes pinned the cost to
  * NEGATED CHARACTER CLASSES in codegen'd regexes on this Spark/JDK
  * build: `regexp_replace(text, '[^a-z0-9 ]', '')` took 21.96 s over 2M
  * docs where the equivalent lookahead `(?s)(?![a-z0-9 ]).` took 0.94 s
  * and an equivalent positive class 0.93 s — identical output, ~23×.
  * (Raw JDK Pattern shows only ~5× for the negated form, so the
  * amplification is in the executor string path; the practical rule
  * stands regardless of where the constant lives.) Both operators now
  * ship the lookahead form — normalize 22.0 → 1.2 s, pieces 10.3 →
  * 1.1 s at 2M docs — and this smoke pins the throughput so a
  * regression to the pathological form is visible.
  *
  * Recorded (round 14, this machine, local[32], 16g heap, min of 2
  * passes per tier): half 10.05M docs → quality 6.98 s, langid 6.21,
  * bpe_pieces 4.88, fingerprint 2.12, normalize 4.66 (total 24.85 s);
  * full 20.1M → 13.81 / 12.79 / 8.81 / 4.28 / 8.95 (total 48.64 s) —
  * 1.96× time for 2.00× docs, heap fixed, all five shapes bitwise-exact
  * at every tier. Steady-state throughput 1.5–4.7 M docs/s per operator
  * (post-fix; normalize was 0.09 M docs/s before the lookahead rewrite).
  */
object TextScaleSmoke {

  private val P = 30000L
  private val V = 32
  // includes quality stopwords (the, a, of), the remaining langid markers
  // (and, in), mixed case for the normalizer, and punctuation-bearing
  // words so piece count != word count
  private val Vocab: Array[String] = Array(
    "the", "a", "of", "and", "in", "fox,", "jumps", "Over", "lazy", "dog.",
    "quick", "brown", "Zebra", "runs!", "data", "spark", "scale", "tokens",
    "quality;", "score", "corpus", "shard", "batch", "pipeline", "model",
    "train", "clean?", "filter", "Dedup", "hash", "text", "bytes")
  require(Vocab.length == V)

  private def nTok(r: Long): Int = (8 + r % 23).toInt
  private def tokenAt(r: Long, j: Int): String =
    Vocab(((r * 31 + j * 7) % V).toInt)
  private def textOf(r: Long): String =
    (0 until nTok(r)).map(tokenAt(r, _)).mkString(" ")

  /** The expected per-residue metric vector, computed with independent
    * JDK implementations of each operator's spec. */
  private final case class Expect(
      nTokens: Long, qualityMilli: Long, meanWordLenE4: Long,
      stopRatioE4: Long, uniqRatioE4: Long,
      enScoreE4: Long, isEn: Long,
      nPieces: Long, fingerprint: Long, nNormChars: Long, nChars: Long)

  // the operator's whitespace class spelled with an EXPLICIT unicode
  // escape for vertical tab — a raw VT char here is invisible in any
  // editor and reads as "omitted" to a reviewer
  private val PieceRe =
    java.util.regex.Pattern.compile("[a-zA-Z0-9]+|[^a-zA-Z0-9 \t\n\\u000B\f\r]")

  private def polyhash(s: String): Long = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var acc = 0L
    var i = 0
    while (i < bytes.length) { acc = (acc * 131 + (bytes(i) & 0xffL)) % 2147483647L; i += 1 }
    acc
  }

  private def expectOf(r: Long): Expect = {
    val text = textOf(r)
    val toks = text.split(" ").filter(_.nonEmpty)
    val n = toks.length.toLong
    val du = toks.distinct.length.toLong
    val ds = toks.count(w => w == "the" || w == "a" || w == "of").toLong
    val ncl = text.length.toLong
    val quality = du * 500 / n + (n - ds) * 300 / n +
      math.min((ncl - n + 1) * 200 / (8 * n), 200L)
    val markers = Set("the", "a", "of", "and", "in")
    val nm = toks.count(markers.contains).toLong
    val m = PieceRe.matcher(text)
    var pieces = 0L
    while (m.find()) pieces += 1
    val norm = text.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[^a-z0-9 ]", "").replaceAll(" +", " ").trim
    Expect(
      nTokens = n,
      qualityMilli = quality,
      meanWordLenE4 = (ncl - n + 1) * 10000 / n,
      stopRatioE4 = ds * 10000 / n,
      uniqRatioE4 = du * 10000 / n,
      enScoreE4 = nm * 10000 / n,
      isEn = if (nm * 20 >= n) 1L else 0L,
      nPieces = pieces,
      fingerprint = polyhash(text),
      nNormChars = norm.length.toLong,
      nChars = ncl)
  }

  /** Distributed docs frame: (doc_id, lang, source, text), text a pure
    * residue function — the whole construction stays in codegen. */
  private def docs(spark: SparkSession, n: Long): DataFrame = {
    val vocabArr = array(Vocab.map(lit): _*)
    spark.range(n).select(
      col("id").as("doc_id"),
      lit("en").as("lang"),
      (col("id") % 7).cast("string").as("source"),
      array_join(
        transform(
          sequence(lit(0L), (col("id") % P) % 23 + 7),
          j => element_at(vocabArr, (((col("id") % P) * 31 + j * 7) % V + 1).cast("int"))),
        " ").as("text"))
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def run(spark: SparkSession, n: Long, label: String,
                  passes: Int): Unit = {
    require(n % P == 0, s"pin N to a multiple of $P for the closed form")
    val perDoc = n / P // every residue occurs exactly this often
    val exp = (0L until P).map(expectOf)
    def tot(f: Expect => Long): Long = exp.map(f).sum * perDoc

    val d = docs(spark, n)
    import graft.operators.TextOps
    // (name, aggregate row, expected values in column order)
    val shapes: Seq[(String, () => Array[Long], Array[Long])] = Seq(
      ("quality", () => TextOps.qualityScoreOf(d)
        .agg(sum("n_tokens"), sum("quality_milli"), sum("mean_word_len_e4"),
          sum("stopword_ratio_e4"), sum("unique_ratio_e4"))
        .head.toSeq.map(_.asInstanceOf[Long]).toArray,
        Array(tot(_.nTokens), tot(_.qualityMilli), tot(_.meanWordLenE4),
          tot(_.stopRatioE4), tot(_.uniqRatioE4))),
      ("langid", () => TextOps.langIdOf(d)
        .agg(sum("en_score_e4"),
          sum(when(col("pred_lang") === "en", 1L).otherwise(0L)),
          count(lit(1)))
        .head.toSeq.map(_.asInstanceOf[Long]).toArray,
        Array(tot(_.enScoreE4), tot(_.isEn), n)),
      ("bpe_pieces", () => TextOps.bpePiecesOf(d)
        .agg(sum("n_pieces"), sum("n_words"))
        .head.toSeq.map(_.asInstanceOf[Long]).toArray,
        Array(tot(_.nPieces), tot(_.nTokens))),
      ("fingerprint", () => TextOps.fingerprintOf(spark, d)
        .agg(sum("fingerprint"), sum("n_chars_actual"))
        .head.toSeq.map(_.asInstanceOf[Long]).toArray,
        Array(tot(_.fingerprint), tot(_.nChars))),
      ("normalize", () => TextOps.normalizeOf(d)
        .agg(sum("n_norm_chars"))
        .head.toSeq.map(_.asInstanceOf[Long]).toArray,
        Array(tot(_.nNormChars))))

    var total = 0.0
    shapes.foreach { case (name, job, expected) =>
      val times = (1 to passes).map { _ =>
        val (got, sec) = timed(job())
        require(java.util.Arrays.equals(got, expected),
          s"$label/$name MISMATCH got=${got.toSeq} expected=${expected.toSeq}")
        sec
      }
      val best = times.min
      total += best
      println(f"[textscale] $label $name%-12s ${best}%7.2f s  " +
        f"${n / best / 1e6}%6.2f M docs/s  EXACT")
    }
    println(f"[textscale] $label TOTAL ${total}%7.2f s (${shapes.size} ops, min-of-$passes each)")
  }

  def main(args: Array[String]): Unit = {
    val nFull = sys.env.getOrElse("N_DOCS", "20100000").toLong
    val spark = graft.Session.local(logLevel = "ERROR",
      conf = Map("spark.sql.shuffle.partitions" -> "32"))
    println(s"[textscale] heap=${Runtime.getRuntime.maxMemory() / (1 << 20)} MiB")
    val nHalf = nFull / 2 / P * P
    run(spark, 600000L, "warmup(0.6M)", passes = 1)
    run(spark, nHalf, s"half(${nHalf / 1e6}M)", passes = 2)
    run(spark, nFull / P * P, s"full(${nFull / P * P / 1e6}M)", passes = 2)
    println("[textscale] done: all shapes exact at every tier")
    spark.stop()
  }
}
