package graft.operators

import graft.{GQuery, Tables}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` — A7 word count (the reference's
  * canonical function example, docs/en/game6-function.md:15-23) plus the
  * training-data-pipeline text metrics (language-ID, quality scoring, token
  * counting, fingerprinting). All pure `functions._` — codegen'd, no UDFs.
  */
object TextOps {

  /** (doc_id, word) rows — the shared tokenization of word count, tf-idf,
    * and BM25 (explode(split), empties dropped).
    */
  private def tokenRows(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")

  /** per-(doc, word) term frequency over [[tokenRows]]. */
  private def termFreq(tok: org.apache.spark.sql.DataFrame) =
    tok.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))

  /** A7: word count — explode(split) → hash agg. The shuffle key is the word;
    * map-side partial counts keep the shuffle proportional to distinct words,
    * not tokens (critical at 100 TB of text).
    */
  val aggWordCount = GQuery(
    "agg_word_count",
    (s, d) =>
      tokenRows(s, d)
        .groupBy("word")
        .agg(count(lit(1)).as("n")),
    oracle = Some(
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents
        |) WHERE word <> '' GROUP BY word""".stripMargin),
    bench = true)

  /** Token count per document (whitespace tokenization) + char stats — the
    * basic corpus-statistics pass of a training-data pipeline.
    */
  val textTokenCount = GQuery(
    "text_token_count",
    (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          // array_size, NOT size: size(NULL) is conf-dependent (-1 with
          // ANSI off via legacy sizeOfNull, NULL with ANSI on); array_size
          // null-propagates under EITHER setting, matching len(NULL) in
          // the oracle. Same substitution at every projection-position
          // size() over a nullable-text token array (`Audit mode` catch).
          array_size(filter_exprs(split(col("text"), " "))).as("n_tokens"),
          length(col("text")).as("n_chars_actual"),
          col("n_chars")),
    oracle = Some(
      """SELECT doc_id,
        |       len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tokens,
        |       length(text) AS n_chars_actual, n_chars
        |FROM documents""".stripMargin))

  private def filter_exprs(arr: org.apache.spark.sql.Column) =
    filter(arr, w => w =!= "")

  /** Language-ID via marker-token scoring (n-gram/stopword heuristic): score
    * each doc against small per-language marker vocabularies; argmax with
    * deterministic tiebreak. The corpus vocabulary is English-only by
    * construction, so the mechanism (not the synthetic `lang` column) is what
    * is checked.
    */
  /** Frame-level language-ID seam over (doc_id, lang, text) — the registry
    * query binds it to the documents table; [[graft.tools.TextScaleSmoke]]
    * drives the same pipeline at the tens-of-millions-of-docs tier. */
  private[graft] def langIdOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val toks = docs
      .select(col("doc_id"), col("lang"),
        filter_exprs(split(col("text"), " ")).as("t"))
    // integer score + integer threshold: markers/n >= 1/20 <=> 20*markers >= n
    val markers = Seq("the", "a", "of", "and", "in")
    toks
      .withColumn("nm", size(filter(col("t"),
        w => markers.map(m => w === m).reduce(_ || _))).cast("long"))
      .withColumn("n", size(col("t")).cast("long"))
      .filter(col("n") > 0)
      .withColumn("en_score_e4", expr("nm * 10000 div n"))
      .withColumn("pred_lang",
        when(col("nm") * 20 >= col("n"), "en").otherwise("unknown"))
      .select("doc_id", "lang", "en_score_e4", "pred_lang")
  }

  val textLangId = GQuery(
    "text_lang_id",
    (s, d) => langIdOf(Tables.documents(s, d)),
    oracle = Some(
      """SELECT doc_id, lang,
        |       nm * 10000 // n AS en_score_e4,
        |       CASE WHEN nm * 20 >= n THEN 'en' ELSE 'unknown' END AS pred_lang
        |FROM (SELECT doc_id, lang,
        |             CAST(len(list_filter(t, w -> w IN ('the','a','of','and','in'))) AS BIGINT) AS nm,
        |             CAST(len(t) AS BIGINT) AS n
        |      FROM (SELECT doc_id, lang,
        |                   list_filter(string_split(text, ' '), w -> w <> '') AS t
        |            FROM documents))
        |WHERE n > 0""".stripMargin))

  /** Per-doc integer token stats shared by quality scoring and the
    * per-source quality gate: n tokens, du distinct, ds stopwords, ncl
    * chars, plus `source`. Zero-token docs are filtered (ANSI mode would
    * throw DIVIDE_BY_ZERO downstream; the oracles filter identically).
    */
  private def qualityStats(s: org.apache.spark.sql.SparkSession, d: String) =
    qualityStatsOf(Tables.documents(s, d))

  /** Frame-level twin over (doc_id, source, text) — same seam rationale as
    * [[langIdOf]]. */
  private[graft] def qualityStatsOf(docs: org.apache.spark.sql.DataFrame) =
    docs
      .select(col("doc_id"), col("source"),
        filter_exprs(split(col("text"), " ")).as("t"),
        length(col("text")).cast("long").as("ncl"))
      .withColumn("n", size(col("t")).cast("long"))
      .filter(col("n") > 0)
      .withColumn("du", size(array_distinct(col("t"))).cast("long"))
      .withColumn("ds", size(filter(col("t"),
        w => w === "the" || w === "a" || w === "of")).cast("long"))

  /** The per-doc quality projection of [[textQualityScore]] over an
    * arbitrary (doc_id, source, text) frame. */
  private[graft] def qualityScoreOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    qualityStatsOf(docs)
      .select(
        col("doc_id"),
        col("n").as("n_tokens"),
        expr("(ncl - n + 1) * 10000 div n").as("mean_word_len_e4"),
        expr("ds * 10000 div n").as("stopword_ratio_e4"),
        expr("du * 10000 div n").as("unique_ratio_e4"),
        qualityMilli.as("quality_milli"))

  /** The combined bounded score over a [[qualityStats]] frame. Integer
    * arithmetic (floor division) end to end: round(double, k) is NOT
    * cross-engine safe even on the identical IEEE double — Spark rounds
    * the shortest decimal representation HALF_UP while DuckDB
    * scales+nearbyints, so e.g. 57/800 rounds to 0.0713 in Spark and
    * 0.0712 in DuckDB. Scaled integers (x·10⁴ via div) are bit-identical.
    */
  private[graft] def qualityMilli: org.apache.spark.sql.Column =
    expr("du * 500 div n") + expr("(n - ds) * 300 div n") +
      least(expr("(ncl - n + 1) * 200 div (8 * n)"), lit(200L))

  /** Quality scoring: mean word length, stopword ratio, uniqueness ratio —
    * the standard cheap filters of a pretraining-data pipeline, combined into
    * one bounded score.
    */
  val textQualityScore = GQuery(
    "text_quality_score",
    (s, d) => qualityScoreOf(Tables.documents(s, d)),
    oracle = Some(
      """SELECT doc_id, n AS n_tokens,
        |       (ncl - n + 1) * 10000 // n AS mean_word_len_e4,
        |       ds * 10000 // n AS stopword_ratio_e4,
        |       du * 10000 // n AS unique_ratio_e4,
        |       (du * 500 // n) + ((n - ds) * 300 // n) +
        |         least((ncl - n + 1) * 200 // (8 * n), 200) AS quality_milli
        |FROM (SELECT doc_id,
        |             CAST(len(t) AS BIGINT) AS n,
        |             CAST(len(list_distinct(t)) AS BIGINT) AS du,
        |             CAST(len(list_filter(t, w -> w IN ('the','a','of'))) AS BIGINT) AS ds,
        |             CAST(length(text) AS BIGINT) AS ncl
        |      FROM (SELECT doc_id, text,
        |                   list_filter(string_split(text, ' '), w -> w <> '') AS t
        |            FROM documents))
        |WHERE n > 0""".stripMargin))

  /** Sources whose mean [[qualityMilli]] falls below this are dropped whole.
    * 640 sits mid-spread at every testbed sf (source means span ~615–670),
    * so both branches — kept and dropped sources — are exercised.
    */
  final val SourceMeanMin = 640L

  /** Domain-level quality gate: drop every document from a source whose
    * MEAN quality score is below [[SourceMeanMin]] — the source/domain-level
    * filtering stage of a pretraining pipeline (block-listing a domain, not
    * a document: a low-quality domain's good pages are usually scraper
    * artifacts).
    *
    * Scale shape: the per-source means are a map-side-combinable aggregate
    * over the quality frame; the gate joins the surviving means back on
    * `source`. The mean side is corpus-DERIVED — its cardinality is the
    * domain count, which grows with the corpus — so the join is written
    * plain and Catalyst picks broadcast vs co-keyed from its size estimate
    * (at testbed scale it broadcasts; at 100 TB the aggregate's statistics
    * exceed the threshold and the join runs co-keyed on `source`). A
    * mega-domain under the co-keyed plan is NOT rescued by AQE — the
    * mean side is aggregate-fed, the shape AqeSkewSpec's discovery case
    * pins as unsplittable — which is why the salted twin
    * [[qualitySourceFilterSalted]] exists: it is the shape to ship when
    * one domain dominates the corpus.
    */
  private val SourceGateOracle =
      s"""WITH q AS (
        |  SELECT doc_id, source,
        |         (du * 500 // n) + ((n - ds) * 300 // n) +
        |           least((ncl - n + 1) * 200 // (8 * n), 200) AS quality_milli
        |  FROM (SELECT doc_id, source,
        |               CAST(len(t) AS BIGINT) AS n,
        |               CAST(len(list_distinct(t)) AS BIGINT) AS du,
        |               CAST(len(list_filter(t, w -> w IN ('the','a','of'))) AS BIGINT) AS ds,
        |               CAST(length(text) AS BIGINT) AS ncl
        |        FROM (SELECT doc_id, source, text,
        |                     list_filter(string_split(text, ' '), w -> w <> '') AS t
        |              FROM documents))
        |  WHERE n > 0),
        |m AS (SELECT source,
        |             CAST(sum(quality_milli) AS BIGINT) // count(*) AS src_mean_milli
        |      FROM q GROUP BY 1)
        |SELECT q.doc_id, q.source, q.quality_milli, m.src_mean_milli
        |FROM q JOIN m ON q.source = m.source
        |WHERE m.src_mean_milli >= $SourceMeanMin""".stripMargin
  // shared verbatim by the salted twin: identical semantics, different plan

  val qualitySourceFilter = GQuery(
    "quality_source_filter",
    (s, d) => sourceGatePlain(s, d),
    oracle = Some(SourceGateOracle),
    bench = true)

  private def sourceGateFrames(s: org.apache.spark.sql.SparkSession, d: String) = {
    val q = qualityStats(s, d)
      .select(col("doc_id"), col("source"), qualityMilli.as("quality_milli"))
    val srcMean = q.groupBy("source")
      .agg(expr("sum(quality_milli) div count(1)").as("src_mean_milli"))
      .filter(col("src_mean_milli") >= SourceMeanMin)
    (q, srcMean)
  }

  private def sourceGatePlain(s: org.apache.spark.sql.SparkSession, d: String) = {
    val (q, srcMean) = sourceGateFrames(s, d)
    q.join(srcMean, "source")
      .select(col("doc_id"), col("source"), col("quality_milli"),
        col("src_mean_milli"))
  }

  /** Salt fan-out of the skew-proof gate join. */
  final val SourceGateSalt = 16

  /** The mega-domain-proof twin of [[qualitySourceFilter]]: the doc side
    * salts its join key with `doc_id mod 16`, the per-source means
    * replicate across the 16 salts, and the SHUFFLE_HASH hint pins the
    * co-keyed path (the overlap-join lesson: a hand-salted join must not
    * silently broadcast, or the salt is dead weight). A domain owning
    * half the corpus now spreads over 16 reducers instead of one — the
    * shape AQE cannot produce for this join (aggregate-fed build side,
    * AqeSkewSpec discovery). Same oracle text as the plain gate: the
    * driver proves the two plans row-identical.
    */
  val qualitySourceFilterSalted = GQuery(
    "quality_source_filter_salted",
    (s, d) => {
      val (q, srcMean) = sourceGateFrames(s, d)
      val salted = q.withColumn("salt",
        pmod(col("doc_id"), lit(SourceGateSalt)).cast("int"))
      val meanX = srcMean.withColumn("salt",
        explode(sequence(lit(0), lit(SourceGateSalt - 1))))
      salted.join(meanX.hint("shuffle_hash"), Seq("source", "salt"))
        .select(col("doc_id"), col("source"), col("quality_milli"),
          col("src_mean_milli"))
    },
    oracle = Some(SourceGateOracle),
    bench = true)

  /** The BPE merge table — a FIXED, ordered tokenizer artifact, exactly
    * as production token counting works (the tokenizer ships with the
    * pipeline; it is not relearned per corpus). Ordered: merge k can pair
    * symbols produced by merges < k (t+h → th, th+e → the), which is what
    * makes application order-sensitive and the cross-engine replay a real
    * check. Small by design — the point is exact iterative application,
    * the artifact pattern of the Bloom filter literal.
    */
  final val BpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "in" -> "g", "e" -> "r",
    "a" -> "n", "o" -> "r", "s" -> "t", "d" -> "a", "da" -> "t",
    "dat" -> "a", "a" -> "t", "r" -> "o", "ro" -> "w", "l" -> "e",
    "a" -> "r", "c" -> "h", "q" -> "u", "u" -> "e", "j" -> "o",
    "jo" -> "in", "w" -> "in", "win" -> "d", "o" -> "w")

  /** One greedy left-to-right BPE merge pass per table entry, as a chain
    * of plain `replace` calls — identical SQL in Spark and DuckDB, fully
    * codegen-friendly (no UDF, no per-row interpretation). Encoding: each
    * symbol is wrapped in single spaces and concatenated, so adjacent
    * symbols are separated by a DOUBLE space ("the" → " t  h  e ") and the
    * merge (a,b) is `replace(s, ' a  b ', ' ab ')`: a match must sit on
    * exact symbol boundaries (a symbol that merely STARTS with b cannot
    * match — its closing space is in the wrong place), and left-to-right
    * non-overlapping replacement is precisely greedy BPE pair application
    * ("aaaa" + (a,a) → "aa aa", the overlap case, works because each
    * match consumes its own trailing wrapper only). Symbol count =
    * wrapper spaces / 2. Words cannot contain the space separator by
    * construction of the whitespace split.
    */
  private def bpeChain(base: String): String =
    BpeMerges.foldLeft(base) { case (acc, (a, b)) =>
      s"replace($acc, ' $a  $b ', ' $a$b ')"
    }

  /** Exact BPE token counting — [[BpeMerges]] applied iteratively,
    * row-locally, to every word; the count a sequence-packing planner can
    * trust (the regex estimate below systematically over/under-counts
    * merged words). The oracle replays the SAME merge chain in DuckDB —
    * order, greediness, and boundary behavior are all hash-checked.
    */
  /** The per-doc exact-BPE token count as a SQL expression over `textCol`
    * — shared by text_bpe_exact and the BPE-keyed packing planner.
    */
  private[operators] def bpeCountSql(textCol: String): String = {
    // (?s): Java's '.' skips line terminators (\r, U+0085, U+2028/29)
    // that RE2's '.' matches — DOTALL makes both engines wrap EVERY
    // character, so a CRLF-contaminated word counts identically
    val sparkChain = bpeChain("regexp_replace(w, '(?s)(.)', ' $1 ')")
    s"""aggregate(
       |  transform(
       |    transform(filter(split($textCol, ' '), w -> w != ''),
       |              w -> $sparkChain),
       |    m -> (length(m) - length(replace(m, ' ', ''))) div 2),
       |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin
  }

  /** DuckDB twin of [[bpeCountSql]]. The coalesce maps an EMPTY token
    * list to 0 (list_sum of [] is NULL in DuckDB, while the Spark
    * aggregate's 0 initial value makes it 0) — but a NULL text must stay
    * NULL, like Spark's split/aggregate null propagation (the hostile
    * gate's null-text row diverged here before the CASE guard).
    */
  private[operators] def bpeCountDuck(textCol: String): String = {
    val duckChain = bpeChain("regexp_replace(w, '(?s)(.)', ' \\1 ', 'g')")
    s"""CASE WHEN $textCol IS NULL THEN NULL ELSE
       |CAST(coalesce(list_sum(list_transform(
       |  list_transform(list_filter(string_split($textCol, ' '),
       |                             w -> w <> ''),
       |                 w -> $duckChain),
       |  m -> (length(m) - length(replace(m, ' ', ''))) // 2)), 0)
       |AS BIGINT) END""".stripMargin
  }

  val textBpeExact = GQuery(
    "text_bpe_exact",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr(bpeCountSql("text")).as("n_bpe_tokens"),
          array_size(filter_exprs(split(col("text"), " ")))
            .cast("long").as("n_words")),
    // the SAME helper pack_sequences_bpe interpolates — a byte-for-byte
    // inline copy here once drifted a fix away from desynchronizing the
    // two oracles
    oracle = Some(
      s"""SELECT doc_id,
         |       ${bpeCountDuck("text")} AS n_bpe_tokens,
         |       CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
         |       AS BIGINT) AS n_words
         |FROM documents""".stripMargin))

  /** BPE-ish token counting: word pieces + punctuation via regex — the
    * pretraining "token budget" estimator (distinct from whitespace count).
    * [[textBpeExact]] is the exact-count twin; this stays as the cheap
    * single-pass estimator.
    */
  /** Frame-level BPE-ish piece count seam — same rationale as [[langIdOf]].
    * Whitespace spelled as an EXPLICIT class: Java's \s includes vertical
    * tab, RE2's does not — the shorthand silently means two different
    * character sets across the engines. The single-char branch is a
    * lookahead-plus-dot rather than the equivalent negated class
    * `[^a-zA-Z0-9 \t\n\x0B\f\r]`: on this Spark/JDK build a negated
    * character class in a codegen'd regex is ~10-20× slower per match
    * than the lookahead form on identical output (measured at 2M docs:
    * 10.3 s vs 1.1 s, same counts — see TextScaleSmoke's scaladoc), and
    * this operator runs on EVERY document of the corpus. `(?s)` makes
    * the dot match line terminators, so the matched set is exactly the
    * negated class's. The DuckDB oracle keeps the negated class (RE2 has
    * no lookahead and no such pathology); the oracle gate checks result
    * equality, not pattern text. */
  private[graft] def bpePiecesOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
      array_size(expr(
        "regexp_extract_all(text, '[a-zA-Z0-9]+|(?s)(?![a-zA-Z0-9 \\\\t\\\\n\\\\x0B\\\\f\\\\r]).', 0)"))
        .cast("long").as("n_pieces"),
      array_size(filter_exprs(split(col("text"), " "))).cast("long").as("n_words"))

  val textBpeTokenCount = GQuery(
    "text_bpe_token_count",
    (s, d) => bpePiecesOf(Tables.documents(s, d)),
    oracle = Some(
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9 \t\n\x0B\f\r]')) AS BIGINT) AS n_pieces,
        |       CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_words
        |FROM documents""".stripMargin))

  /** Document fingerprinting: base-131 rolling hash over the full text's
    * UTF-8 BYTES mod 2^31−1 — content-addressable id for exact-dup
    * detection at scale (constant memory, one compiled pass). The native
    * graft_polyhash is the SAME kernel the shingle family uses, and the
    * oracle replays its byte fold via [[DuckUtf8]] — the previous
    * code-point fold (Spark `ascii` HOF vs DuckDB `ascii`) was only
    * accidentally consistent on ASCII text and disagreed with every
    * other fingerprint in the repo on anything else.
    */
  /** Frame-level fingerprint seam — same rationale as [[langIdOf]]. */
  private[graft] def fingerprintOf(s: org.apache.spark.sql.SparkSession,
                                   docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(s)
    docs.select(col("doc_id"),
      expr("graft_polyhash(text)").as("fingerprint"),
      length(col("text")).cast("long").as("n_chars_actual"))
  }

  val textFingerprint = GQuery(
    "text_fingerprint",
    (s, d) => fingerprintOf(s, Tables.documents(s, d)),
    oracle = Some(
      s"""SELECT doc_id,
        |       ${DuckUtf8.polyFold("text", 131, 2147483647L)} AS fingerprint,
        |       CAST(length(text) AS BIGINT) AS n_chars_actual
        |FROM documents""".stripMargin))

  /** Text normalization: lowercase → strip non-alphanumerics → squeeze
    * whitespace — the canonical cleaning pass before dedup/tokenization.
    * (DuckDB regexp_replace needs the 'g' flag; Spark replaces all by
    * default.)
    */
  /** Frame-level normalization seam — same rationale as [[langIdOf]].
    * `keep` threads extra columns (source, lang) through the projection so
    * a pipeline composing normalize → gate → dedup never re-joins on
    * doc_id just to recover them ([[graft.tools.PipelineScaleSmoke]]). */
  private[graft] def normalizeOf(docs: org.apache.spark.sql.DataFrame,
                                 keep: Seq[String] = Nil)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id") +: keep.map(col) :+
        trim(regexp_replace(
          // lower() under the default UTF8_BINARY collation falls back
          // to JVM-default-locale casing the moment the string holds
          // ANY non-ASCII char (tr-TR then lowers 'I' to dotless 'ı' —
          // executor-locale-dependent output on a mixed fleet; `Audit mode`
          // catch). ICU-collated lower() cases by Unicode root rules —
          // bit-identical to root-locale lower() and to the DuckDB
          // oracle — and the re-collate back to UTF8_BINARY keeps the
          // output schema on the default collation.
          regexp_replace(
            collate(lower(collate(col("text"), "UNICODE")), "UTF8_BINARY"),
            // lookahead-plus-dot, NOT the equivalent negated class
            // `[^a-z0-9 ]`: a negated character class in a codegen'd
            // regexp_replace is ~20× slower per match on this Spark/JDK
            // build (22.0 s vs 1.2 s over 2M docs, byte-identical
            // output — see bpePiecesOf), and normalization runs on
            // every document. (?s) keeps line terminators in the dot's
            // match set so the removed set is exactly the class
            // complement. The RE2 oracle keeps the negated class.
            "(?s)(?![a-z0-9 ]).", ""),
          " +", " ")).as("norm"): _*)
      .withColumn("n_norm_chars", length(col("norm")).cast("long"))

  val textNormalize = GQuery(
    "text_normalize",
    (s, d) => normalizeOf(Tables.documents(s, d)),
    oracle = Some(
      """SELECT doc_id,
        |       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |            ' +', ' ', 'g')) AS norm,
        |       CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |            ' +', ' ', 'g'))) AS BIGINT) AS n_norm_chars
        |FROM documents""".stripMargin))

  /** Top-20 bigrams corpus-wide (deterministic tiebreak) — the n-gram
    * frequency profile used for corpus fingerprinting / contamination scans.
    */
  val textTopBigrams = GQuery(
    "text_top_bigrams",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(filter_exprs(split(col("text"), " ")).as("t"))
        .filter(size(col("t")) >= 2)
      toks
        .select(explode(transform(sequence(lit(1), size(col("t")) - 1),
          i => concat_ws(" ", element_at(col("t"), i),
            element_at(col("t"), i + 1)))).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("bigram"))
        .limit(20)
    },
    oracle = Some(
      """SELECT bigram, count(*) AS n FROM (
        |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1])) AS bigram
        |  FROM (SELECT list_filter(string_split(text, ' '), w -> w <> '') AS t
        |        FROM documents)
        |  WHERE len(t) >= 2)
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin))

  /** tf-idf top-terms per document — the classic salience/quality signal of
    * a training-data pipeline. Three shuffles, all key-bounded at 100 TB:
    * tf on (doc_id, word); df on word (map-side combined, ∝ vocabulary);
    * the scored join back on word. The final per-doc ranking window is
    * bounded by DOCUMENT length (a doc's distinct words), independent of
    * corpus size — unlike a per-query ANN window, it never sees more rows
    * than the doc itself contains, so no fused aggregate is needed.
    *
    * idf = ln((N+1)/(df+1)) (smoothed); score rounded at 4 decimals —
    * ln is transcendental, so the scaled-integer rule for terminating
    * decimals does not apply (see SURVEY §7, cross-engine float policy).
    */
  val textTfidfTopk = GQuery(
    "text_tfidf_topk",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      // shared (r19): tf feeds the df aggregate AND the scored join —
      // inline, Catalyst re-derives the token explode + (doc, word)
      // shuffle for each (two corpus scans, two tokenize passes)
      val tf = graft.Materialize.stageLazy(termFreq(tokenRows(s, d)))
      // corpus size as a broadcast 1-row aggregate — no driver-side action
      val n = broadcast(docs.agg(count(lit(1)).as("nd")))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(desc("score"), asc("word"))
      // df as COUNT OVER (PARTITION BY word) (r20): one word-keyed
      // exchange of the staged tf rows, replacing the groupBy-aggregate
      // joined back (which read the staged tf twice and paid the
      // aggregate-partials exchange on top of the join's). Skew
      // unchanged: a corpus-wide stopword concentrated its tf rows on
      // one co-keyed join partition before, one window partition now.
      tf.withColumn("df", count(lit(1)).over(Window.partitionBy("word")))
        .crossJoin(n)
        .withColumn("score",
          col("tf") * log((col("nd") + 1.0) / (col("df") + 1.0)))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("doc_id"), col("word"), col("tf"),
          round(col("score"), 4).as("tfidf"),
          col("rank").cast("long").as("rank"))
    },
    oracle = Some(
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, word, count(*) AS tf FROM tok
        |  WHERE word <> '' GROUP BY doc_id, word),
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        |n AS (SELECT count(*) AS nd FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.word, t.tf,
        |         t.tf * ln((n.nd + 1.0) / (d.df + 1.0)) AS score
        |  FROM tf t JOIN df d USING (word) CROSS JOIN n)
        |SELECT doc_id, word, tf, round(score, 4) AS tfidf,
        |       CAST(rank AS BIGINT) AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |             ORDER BY score DESC, word) AS rank
        |      FROM scored)
        |WHERE rank <= 5""".stripMargin))

  /** BM25 top-terms per document (k1=1.2, b=0.75) — the retrieval scorer a
    * decontamination pass runs between a training corpus and a benchmark
    * query set. Same shuffle structure as tf-idf plus one broadcast scalar
    * (average doc length); the per-doc ranking window stays bounded by doc
    * length. Constants are exact binary fractions (1.2 rounds identically
    * in both engines' parsers; 0.75 and 0.25 are exact), so the only
    * float divergence risk is ln(), same as tf-idf.
    */
  val textBm25Topk = GQuery(
    "text_bm25_topk",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      // shared tf (r19): feeds df, dlen AND the scored join — one token
      // explode + one (doc, word) shuffle instead of three
      val tf = graft.Materialize.stageLazy(termFreq(tokenRows(s, d)))
      // doc length from tf, not a second pass over the tokens: the count
      // of non-empty tokens is exactly sum(tf) per doc. This aggregate
      // now feeds ONLY the 1-row avgdl scalar (vocabulary-bounded
      // partials); the per-row dl rides the doc_id window below.
      val dlen = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
      // two 1-row scalar aggregates, broadcast together (no driver action);
      // Spark and DuckDB both sum integer lengths exactly before dividing,
      // so avgdl is the identical double in both engines
      val stats = broadcast(
        docs.agg(count(lit(1)).as("nd"))
          .crossJoin(dlen.agg(avg(col("dl")).as("avgdl"))))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(desc("score"), asc("word"))
      // df and dl as windows (r20, same rewrite as tf-idf): the word
      // exchange carries the tf rows once, and the dl window's doc_id
      // partitioning is exactly what the rank window needs — no further
      // exchange between them (two sorts, one doc_id shuffle).
      tf.withColumn("df", count(lit(1)).over(Window.partitionBy("word")))
        .withColumn("dl", sum(col("tf")).over(Window.partitionBy("doc_id")))
        .crossJoin(stats)
        .withColumn("idf", log((col("nd") + 1.0) / (col("df") + 1.0)))
        .withColumn("score",
          col("idf") * (col("tf") * 2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("doc_id"), col("word"), col("tf"),
          round(col("score"), 4).as("bm25"),
          col("rank").cast("long").as("rank"))
    },
    oracle = Some(
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |tok2 AS (SELECT doc_id, word FROM tok WHERE word <> ''),
        |tf AS (
        |  SELECT doc_id, word, count(*) AS tf FROM tok2
        |  GROUP BY doc_id, word),
        |dlen AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        |stats AS (
        |  SELECT (SELECT count(*) FROM documents) AS nd,
        |         (SELECT avg(dl) FROM dlen) AS avgdl),
        |scored AS (
        |  SELECT t.doc_id, t.word, t.tf,
        |         ln((s.nd + 1.0) / (d.df + 1.0)) * (t.tf * 2.2) /
        |           (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS score
        |  FROM tf t JOIN df d USING (word) JOIN dlen l USING (doc_id)
        |  CROSS JOIN stats s)
        |SELECT doc_id, word, tf, round(score, 4) AS bm25,
        |       CAST(rank AS BIGINT) AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |             ORDER BY score DESC, word) AS rank
        |      FROM scored)
        |WHERE rank <= 5""".stripMargin))

  /** Corpus-LM quality scoring — the CCNet/Wikipedia-LM perplexity filter
    * re-expressed with an integer-exact statistic: a document's score is
    * the mean floor(log2(corpus frequency)) of its bigrams. High mean =
    * the doc is made of very common bigrams (boilerplate/templated); low
    * mean = rare bigrams (novel, or gibberish) — exactly the two tails a
    * perplexity filter cuts, without a float log anywhere: floor(log2(n))
    * is `length(bin(n)) - 1`, bit-identical in both engines (the repo's
    * no-floating-log2 rule). Plan shape at 100 TB: the LM "model" is the
    * bigram-frequency table built by one map-side-combinable shuffle; the
    * scoring join is co-keyed on the bigram (the model table never
    * broadcasts by assumption — it scales with the corpus), then one
    * per-doc aggregation. Occurrences score individually (a doc repeating
    * a common bigram is MORE templated, so duplicates must count).
    *
    * Hot-bigram skew: "AQE splits it" turned out to be FALSE for this
    * shape — the model side's final aggregate fuses between its shuffle
    * stage and the join sort, and AQE's OptimizeSkewedJoin only matches
    * Sort-directly-over-ShuffleQueryStage on BOTH sides (an explicit
    * same-key repartition of the model table doesn't survive
    * EnsureRequirements either: the aggregate's partitioning already
    * satisfies it). AqeSkewSpec documents the discovery. The skew answer
    * is therefore STRUCTURAL, the repo's hot-key-separation pattern: a
    * bounded driver probe collects the ≤ [[HotBigramMax]] bigrams with
    * count > [[HotBigramDf]]; their probe rows score via a row-local map
    * literal and NEVER enter the bigram shuffle, while the (now
    * hot-free) tail joins co-keyed. Plan-only: either path computes the
    * identical (bigram, n) pairs, so the oracle is unchanged.
    */
  /** A bigram occurring more often than this is scored via the literal
    * map instead of the co-keyed join. Above the df-cap scale of the
    * dedup family on purpose: a hot JOIN partition only hurts once it
    * dwarfs its siblings.
    */
  final val HotBigramDf = 4096L

  /** Hard bound on the literal map (the keptSpans bound in miniature):
    * more hot keys than this leave the overflow in the shuffle join —
    * partial mitigation, never an unbounded driver artifact.
    */
  final val HotBigramMax = 64

  /** The full pipeline over ANY (doc_id, text) corpus — shared by the
    * registered query and the AQE skew evidence spec.
    */
  def bigramLogfreqOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val t = docs
      .select(col("doc_id"), filter_exprs(split(col("text"), " ")).as("t"))
      .filter(size(col("t")) >= 2)
    val bi = t.select(col("doc_id"),
      explode(transform(sequence(lit(1), size(col("t")) - 1),
        i => concat_ws(" ", element_at(col("t"), i),
          element_at(col("t"), i + 1)))).as("bigram"))
    // staged: the LM aggregate is consumed by the driver probe AND the
    // tail join — without staging, the full bigram shuffle recomputes
    // for each (the keptSpans probe-then-join shape, CorpusOps). `bi`
    // itself is deliberately NOT staged: it re-derives with a scan plus
    // row-local explode (no shuffle), cheaper than materializing a
    // corpus of exploded rows.
    // stage, NOT stageLazy (r19 measured): the first consumer is the
    // driver-side hot-key probe, an orderBy+limit collect whose partial
    // take-evaluation interacts pathologically with a lazy local
    // checkpoint (19 s vs 0.9 s at sf0.1) — the eager job is cheap here
    val lm = graft.Materialize.stage(
      bi.groupBy("bigram").agg(count(lit(1)).as("n")))
    val hot = lm.filter(col("n") > HotBigramDf)
      .orderBy(col("n").desc, col("bigram")).limit(HotBigramMax)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val scored =
      if (hot.isEmpty) bi.join(lm, Seq("bigram"))
        .select(col("doc_id"), col("n"))
      else {
        val hotKeys = hot.map(_._1).toSeq
        val hotScored = bi.filter(col("bigram").isInCollection(hotKeys))
          .select(col("doc_id"),
            element_at(typedLit(hot.toMap), col("bigram")).as("n"))
        val tail = bi.filter(!col("bigram").isInCollection(hotKeys))
          .join(lm, Seq("bigram"))
          .select(col("doc_id"), col("n"))
        hotScored.unionByName(tail)
      }
    scored
      .select(col("doc_id"),
        (length(bin(col("n"))) - 1).cast("long").as("r"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("r")).cast("long").as("sum_log2f"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_log2f"),
        expr("sum_log2f * 10000 div n_bigrams").as("avg_log2f_e4"))
  }

  val textBigramLogfreq = GQuery(
    "text_bigram_logfreq",
    (s, d) => bigramLogfreqOf(Tables.documents(s, d)),
    oracle = Some(
      """WITH blf_t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
        |  FROM documents),
        |blf_b AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1])) AS bigram
        |  FROM blf_t WHERE len(t) >= 2),
        |blf_lm AS (SELECT bigram, count(*) AS n FROM blf_b GROUP BY bigram),
        |blf_sc AS (
        |  SELECT b.doc_id, CAST(length(bin(d.n)) - 1 AS BIGINT) AS r
        |  FROM blf_b b JOIN blf_lm d USING (bigram))
        |SELECT doc_id, count(*) AS n_bigrams,
        |       CAST(sum(r) AS BIGINT) AS sum_log2f,
        |       CAST(sum(r) AS BIGINT) * 10000 // count(*) AS avg_log2f_e4
        |FROM blf_sc GROUP BY doc_id""".stripMargin))

  /** Per-document unigram (token-distribution) entropy — the standard
    * "repetitive/templated text" quality signal: H = ln(n) − Σ tf·ln(tf) / n
    * over the doc's term frequencies. Low entropy = a few tokens dominate
    * (boilerplate, keyword stuffing); filters often pair it with
    * `text_repetition`. Two shuffles, both doc-bounded keys ((doc_id, word)
    * then doc_id) with map-side combine — per-key state is capped by
    * document length, so the plan is skew-safe at corpus scale. Docs with
    * no tokens drop out in both engines (no tf rows).
    */
  /** The entropy aggregation over any (doc_id, text) frame — shared by the
    * registered query and the hand-computed spec cases.
    */
  private[graft] def unigramEntropy(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    termFreq(
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= ""))
      .groupBy("doc_id")
      // entropy at e6 via PER-ROW scaled integers: Σ tf·ln(tf) summed as
      // doubles is ORDER-dependent (partial aggregation vs DuckDB's
      // parallel sum can straddle a rounding boundary as the corpus
      // grows); scaling each term first makes the sum exact, leaving
      // only the static per-row ln() ulp class the tf-idf/BM25 policy
      // already accepts. Operands are non-negative (tf ≥ 1), so the
      // truncating div agrees with DuckDB's floor //.
      .agg(
        (expr("CAST(floor(ln(sum(tf)) * 1000000 + 0.5) AS BIGINT)") -
          expr("CAST(sum(CAST(floor(tf * ln(tf) * 1000000 + 0.5) AS BIGINT)) div sum(tf) AS BIGINT)"))
          .as("entropy_e6"),
        count(lit(1)).as("n_distinct_tokens"))

  val textUnigramEntropy = GQuery(
    "text_unigram_entropy",
    (s, d) => unigramEntropy(Tables.documents(s, d)),
    oracle = Some(
      """WITH ue_tf AS (
        |  SELECT doc_id, word, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |    FROM documents)
        |  WHERE word <> '' GROUP BY doc_id, word)
        |SELECT doc_id,
        |       CAST(floor(ln(CAST(sum(tf) AS BIGINT)) * 1000000 + 0.5) AS BIGINT)
        |         - CAST(CAST(sum(CAST(floor(tf * ln(tf) * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
        |                // CAST(sum(tf) AS BIGINT) AS BIGINT) AS entropy_e6,
        |       count(*) AS n_distinct_tokens
        |FROM ue_tf GROUP BY doc_id""".stripMargin))

  /** Posting-list cap for [[textInvertedIndex]]: real engines truncate or
    * skip-list stop-word postings; here the first-K doc ids stand in. */
  final val PostingCap = 8

  /** Q:text_inverted_index — the search-engine build step: per term, its
    * document frequency and the first-[[PostingCap]] posting doc ids
    * (ascending, comma-joined). The scale hazard is the stop-word term: a
    * collect_list/sort/slice materializes the FULL posting list (millions
    * of ids for "the" at 100 TB) on one reducer before truncating. Here
    * the truncation is the aggregate itself: graft_topk keeps a bounded
    * K-element heap per term (score = ~doc_id ⇒ K smallest ids), merges
    * heaps map-side, and ships only K entries per term across the
    * shuffle — the same bounded-state pattern as the scoreboard top-k.
    * The df count rides the same aggregate; the preceding (doc, word)
    * distinct is the posting dedup every indexer does.
    */
  def invertedIndex(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    graft.functions.TopKAggregate.ensureRegistered(docs.sparkSession)
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .distinct()
      .groupBy("word")
      .agg(
        count(lit(1)).as("df"),
        // ~doc_id, not -doc_id: order-reversing on ALL longs with no
        // ANSI overflow at Long.MinValue (see GraphOps.keptItemUsers)
        expr(s"graft_topk(~doc_id, CAST(doc_id AS STRING), $PostingCap)")
          .as("top"))
      .select(col("word"), col("df"),
        array_join(expr("transform(top, t -> t.key)"), ",").as("postings"))
  }

  val textInvertedIndex = GQuery(
    "text_inverted_index",
    (s, d) => invertedIndex(Tables.documents(s, d)),
    oracle = Some(
      s"""WITH dw AS (SELECT DISTINCT doc_id, word FROM (
        |              SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |              FROM documents)
        |            WHERE word <> ''),
        |rk AS (SELECT doc_id, word,
        |              row_number() OVER (PARTITION BY word ORDER BY doc_id) AS rn
        |       FROM dw)
        |SELECT word, count(*) AS df,
        |       string_agg(CASE WHEN rn <= $PostingCap
        |                       THEN CAST(doc_id AS VARCHAR) END, ','
        |                  ORDER BY rn) AS postings
        |FROM rk GROUP BY word""".stripMargin),
    bench = true)

  val queries: Seq[GQuery] = Seq(
    aggWordCount, textTokenCount, textLangId, textQualityScore,
    textBpeTokenCount, textBpeExact, textFingerprint, textNormalize,
    textTopBigrams, textTfidfTopk, textBm25Topk, textBigramLogfreq,
    textUnigramEntropy, qualitySourceFilter, qualitySourceFilterSalted,
    textInvertedIndex)
}
