package graft.operators

import graft.{GQuery, Materialize, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines (builder-prompt extension set):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  * Every variant is oracle-backed: token hashing uses explicit integer
  * arithmetic (polynomial base-131 hash mod 2^31−1) instead of engine hash
  * functions, so Spark and DuckDB compute bit-identical signatures.
  *
  * Scale notes (100 TB):
  *  - shingle hashing, minhash signatures, and simhash bit votes are all
  *    ROW-LOCAL projections (per-doc folds over the hashed-shingle array) —
  *    zero shuffle before pair generation;
  *  - LSH banding turns all-pairs O(n²) into a self-join on (band,
  *    signature) — the only shuffles are band keys and candidate pairs;
  *  - verification intersects candidate hashed-shingle arrays only — the
  *    full corpus never joins;
  *  - the all-pairs variants (ngram_jaccard, simhash pairs, embedding pairs)
  *    exist as correctness baselines for the LSH path and are excluded from
  *    the headline bench set.
  */
object DedupOps {

  val P = 2147483647L // 2^31 − 1
  val NumHashes = 16
  val BandSize = 4
  val NumBands = NumHashes / BandSize
  // Coefficient-structure audit (round 13, after the sign-LSH plane fix):
  // these a_j are linear in j — the same generation pattern whose lattice
  // correlation broke the hyperplanes at scale (SimilarityOps.planeLit).
  // Measured here, the hazard is bounded and harmless: over 100k random
  // docs the linear coefficients produce ~10 spurious 4-minhash band
  // collisions where fully random coefficients produce 0 (the min over
  // ~dozens of shingle hashes destroys most affine structure, and the
  // band domain is P⁴, not 2^r) — extra CANDIDATES only, killed by the
  // exact-Jaccard verification stage; recall can only gain. Left linear
  // deliberately: the coefficients are mirrored verbatim in every minhash
  // oracle CTE, and a ~1e-4/doc false-candidate rate does not buy the
  // churn of re-deriving 10+ oracles.
  val HashA: Seq[Long] = (0 until NumHashes).map(j => ((2L * j + 1) * 2654435761L) % P)
  val HashB: Seq[Long] = (0 until NumHashes).map(j => (j * 40503L + 7) % P)
  val SimhashBits = 64
  val SimhashMaxDist = 3
  private val MixA = graft.functions.VectorExpressions.SimhashSignature.MixA
  private val MixB = graft.functions.VectorExpressions.SimhashSignature.MixB
  private val M64 = "18446744073709551616" // 2^64
  val CosineThreshold = 0.4

  /** The embeddings table's declared vector width — part of the table
    * contract, like a column type. [[normalizedVecs]] gates on it (and
    * every vec oracle CTE carries the matching `len(embedding) = 64`):
    * cosine is only defined within one space. */
  val EmbeddingDim = 64

  /** Stop-shingle document-frequency cap for the n-gram Jaccard path: a
    * shingle occurring in more than this many documents is boilerplate, not
    * a similarity signal, and contributes df² rows to the pair join — the
    * Σdf² term that kills the shingle-join at scale. Both the Spark query
    * and its oracle compute Jaccard over the capped shingle universe.
    *
    * Universe caveat: dedup_minhash_lsh verifies candidates over FULL
    * hashed-shingle sets, so its recall is not directly comparable against
    * this capped baseline on boilerplate-heavy corpora — a doc pair whose
    * overlap is mostly stop-shingles scores higher under minhash than here.
    * When using the n-gram query as a recall reference, apply the same cap
    * to [[hashedShinglesOf]] (df-join before the array_agg) or compare only
    * on corpora where df(shingle) ≤ ShingleDfCap holds for the shingles of
    * interest (true of the driver testbed — see DedupSpec's recall check).
    */
  val ShingleDfCap = 64L

  /** Bucket-cardinality cap for the LSH candidate self-joins — the
    * [[ShingleDfCap]] idea applied one layer up, to band-bucket membership.
    * A per-(band, signature) self-join emits n²/2 candidate pairs for a
    * bucket of n docs into a single reducer; on a boilerplate-heavy corpus
    * (templated pages, near-empty docs, clustered embeddings) one hot
    * bucket at 100 TB is the classic LSH scale-killer. Buckets with more
    * than this many members are dropped BEFORE pair generation (their key
    * is no longer a similarity signal — it's the corpus's boilerplate
    * mode), which bounds every per-key join at cap²/2 candidates.
    *
    * Recall tradeoff, documented: pairs whose ONLY agreeing bucket is hot
    * are missed. For minhash that mostly means large exact-duplicate
    * classes (identical docs share all 4 band signatures) — those are the
    * exact-dedup stage's job, which precedes near-dup in
    * [[pipelineCorpusClean]]; for embeddings it means a near-dup pair
    * inside a ≥cap-sized degenerate cluster. Both oracles mirror the cap
    * (same HAVING ≤ cap membership filter), so capped results stay
    * hash-checked. Value-neutral on the driver testbed (max observed
    * bucket: 20 minhash / 120 embedding at sf0.1 — under the cap), so the
    * guard only engages on pathological corpora. Cap at 2^8 = the df-cap
    * analog: 256² / 2 = 32k pairs per hot key is one reducer's normal work.
    */
  final val LshBucketCap = 256L

  /** Drop rows whose (keys…) group exceeds [[LshBucketCap]] members. The
    * hot-key count is one map-side-combinable aggregate (over the staged
    * signature frame at every call site, so the probe re-walks a
    * checkpoint, not the corpus), and the result is GATED driver-side:
    * the overwhelmingly common case — no hot bucket at all — is decided
    * by a metadata-sized `isEmpty` (limit-1 over the aggregate) and the
    * candidate self-join then runs on `rows` UNMODIFIED, the exact pre-cap
    * plan with zero extra operators. Only when a hot key exists does the
    * broadcast left-anti join enter the plan (the hot-key set is tiny by
    * construction: every survivor has > cap members, so ≤ n/cap keys).
    * Both branches are the same relation — a left-anti against an empty
    * set is the identity — so the gate is a plan choice, not a semantics
    * fork, same pattern as [[CorpusOps.keptSpans]]. This recovers the
    * round-8 regression where every capped query paid the anti-join even
    * on corpora with no hot bucket.
    */
  private def capBuckets(rows: DataFrame, keys: Seq[String]): DataFrame = {
    val hot = rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > LshBucketCap)
      .select(keys.map(col): _*)
    if (hot.isEmpty) rows
    else rows.join(broadcast(hot), keys, "left_anti")
  }

  /** Full-length base-131 rolling hash of a token/shingle — the DuckDB
    * fold bit-identical to the native graft_polyhash
    * (graft.functions.VectorExpressions.PolyHash), folding UTF-8 BYTES
    * like the kernel does (see [[DuckUtf8]] — a code-point fold would
    * diverge on the first non-ASCII character).
    */
  private[operators] def tkDuck(c: String): String = tkDuckB(c, 131)

  /** [[tkDuck]] with a selectable base — the substring family keys
    * windows on TWO independent rolling hashes (131 and 137).
    */
  private[operators] def tkDuckB(c: String, base: Int): String =
    DuckUtf8.polyFold(c, base, P)

  /** doc_id → exploded distinct 3-gram shingles (one row per shingle) —
    * used by the exact baseline (dedup_ngram_jaccard). NOT materialized
    * here: the consumer decides (the ngram query checkpoints AFTER
    * df-capping; recomputing this native-generator scan is cheap). The
    * LSH/simhash paths use the row-local [[hashedShinglesOf]] arrays
    * instead.
    */
  private def shingleRows(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(s)
    // the testbed stores documents as one parquet row-group → one input
    // split; spread the shingle generation across the cluster. The native
    // generator emits DISTINCT shingles per doc (compiled byte-level pass,
    // dedup inside the generator), so no distinct() aggregate follows.
    Tables.documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .selectExpr("doc_id", "graft_shingle_rows(text)")
  }

  /** Memoized STAGED df-capped shingle frame per (applicationId, dataset
    * dir, dataset fingerprint). Three queries (dedup_ngram_jaccard,
    * decontam_ngram_exact, decontam_bloom) walk the identical intermediate
    * — documents → distinct 3-gram shingles → df ≤ [[ShingleDfCap]] — and
    * each used to rebuild and re-checkpoint it on every execution. Like the
    * IVF model and the Bloom words, the capped shingle corpus is an index
    * artifact of the DATASET, not of any one query: build it once per
    * (app, dataset), serve the staged handle thereafter. The
    * [[graft.DatasetFingerprint]] key invalidates on in-place rewrites;
    * superseded entries for the same (app, dir) are evicted on insert, and
    * eviction drops the only reference so the ContextCleaner reclaims the
    * checkpoint blocks. Locking/eviction policy lives in
    * [[graft.DatasetMemo]] (build outside the lock — a cold build is a
    * Spark job and must not serialize unrelated queries).
    *
    * Known tradeoff (accepted): without [[graft.Materialize.SharedDirConfKey]]
    * the frame is a localCheckpoint, and losing an executor loses its
    * blocks and leaves the memoized handle broken for the application's
    * lifetime — irrelevant in a single-JVM local session. With the key
    * set, `stageShared` writes reliable checkpoint files, which executor
    * loss does not invalidate.
    */
  private val cappedShingleFrames = new graft.DatasetMemo[DataFrame](
    Some(graft.ArtifactStore.frame("capped_shingles")))

  private def cappedShingles(s: SparkSession, d: String): DataFrame =
    cappedShingleFrames.get(s, d, "documents.parquet") {
      val shAll = shingleRows(s, d)
      val keepSh = shAll.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") <= ShingleDfCap)
        .select("sh")
      // checkpoint AFTER capping: the capped set feeds several consumers
      // (pair-join sides, benchmark/corpus splits, sizes), so the df-cap
      // join materializes once (the uncached shAll scan evaluates twice
      // — once for keepSh, once here — which is cheap for the native
      // generator)
      Materialize.stageShared(shAll.join(keepSh, Seq("sh")))
    }

  /** Shared oracle CTE: tokens → distinct shingles → integer shingle keys. */
  private val ShingleCte =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
       |  FROM documents),
       |shingle AS (
       |  SELECT DISTINCT doc_id,
       |         unnest(list_transform(generate_series(1, len(t) - 2),
       |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
       |  FROM toks),
       |keyed AS (
       |  SELECT doc_id, sh, ${tkDuck("sh")} AS tk FROM shingle)""".stripMargin
  // (no shared `sizes` CTE: every consumer needs ITS OWN size grain —
  // tksizes counts hash-distinct shingles, csizes counts df-capped ones —
  // and a shared string-shingle count would silently differ from both
  // whenever two shingles collide under the 31-bit polyhash)

  /** Exact dedup: hash-groupBy on the full text; first doc_id per group
    * survives (row_number, deterministic). Output: per-source kept/dropped.
    */
  /** Exact-dup rank WITHOUT shuffling document bodies: the window
    * partitions on an 18-byte digest (two independent xxhash64 views +
    * byte length) instead of the full text, so kilobyte documents never
    * cross the exact-dedup shuffle — only the digest and `keep` columns
    * do. Two texts collide only if BOTH 64-bit hashes AND the length
    * agree while the texts differ: ≈ 2⁻¹²⁸·n² over a corpus, zero at any
    * real scale (an ADVERSARIAL corpus could attack the non-crypto
    * xxhash64; that threat model swaps in a crypto digest, same shape).
    * The oracle keeps the text-equality definition — identical results
    * absent such a collision.
    */
  private[graft] def exactDupRank(docs: DataFrame, keep: Seq[String]): DataFrame = {
    val w = Window.partitionBy("h1", "h2", "len").orderBy("doc_id")
    docs.select(col("doc_id") +: keep.map(col) :+
        xxhash64(col("text"), lit(1)).as("h1") :+
        xxhash64(col("text"), lit(2)).as("h2") :+
        length(col("text")).as("len"): _*)
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id") +: keep.map(col) :+ col("rn"): _*)
  }

  val dedupExact = GQuery(
    "dedup_exact",
    (s, d) => {
      exactDupRank(Tables.documents(s, d), Seq("source"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
    },
    oracle = Some(
      """SELECT source, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM (SELECT source,
        |             row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |      FROM documents)
        |GROUP BY source""".stripMargin))

  /** Per-doc minhash signature computed ROW-LOCALLY: mh_j = min over the
    * doc's distinct shingles of h_j(polyhash(shingle)). A per-doc minimum
    * needs no explode and no shuffle — the signature stage is a pure
    * projection; only banding and verification join. (The previous encoding
    * exploded 500k shingle rows through a 16-min hash aggregate.)
    */
  /** (doc_id, text) → distinct hashed-shingle array — row-local, works on
    * batch AND streaming DataFrames (the streaming LSH detector reuses it).
    */
  def hashedShinglesOf(docs: DataFrame): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(docs.sparkSession)
    // one native codegen call replaces the split/filter/transform HOF chain
    // (interpreted per-element lambdas); a doc with <3 tokens hashes to an
    // empty array, so the size filter keeps the row set identical
    docs
      .select(col("doc_id"), expr("graft_shingle_hashes(text)").as("tks"))
      .filter(size(col("tks")) > 0)
  }

  private def hashedShingleArrays(s: SparkSession, d: String): DataFrame =
    hashedShinglesOf(
      Tables.documents(s, d).repartition(s.sparkContext.defaultParallelism))

  private val hashedShingleFrames = new graft.DatasetMemo[DataFrame](
    Some(graft.ArtifactStore.frame("hashed_shingles")))

  /** Memoized STAGED full hashed-shingle corpus per dataset — the third
    * index artifact to join the [[cappedShingles]] / [[bloomWordsFor]]
    * pattern: minhash_pairs, decontam_minhash, dedup_clusters and the
    * corpus-clean pipeline all walk this identical documents →
    * hashed-shingle-array frame, and each used to rebuild and
    * re-checkpoint it on every execution. Same
    * [[graft.DatasetFingerprint]] invalidation, same
    * localCheckpoint-loss tradeoff note as [[cappedShingles]]. */
  private[operators] def stagedHashedShingles(s: SparkSession, d: String): DataFrame =
    hashedShingleFrames.get(s, d, "documents.parquet") {
      graft.Materialize.stageShared(hashedShingleArrays(s, d))
    }

  /** doc_id + tks → doc_id, mh0..mh{15}: row-local minhash signature. */
  def rowLocalSignatures(tks: DataFrame): DataFrame = {
    val mhCols = (0 until NumHashes).map(j =>
      array_min(transform(col("tks"),
        t => (t * HashA(j) + HashB(j)) % P)).as(s"mh$j"))
    tks.select(col("doc_id") +: mhCols: _*)
  }

  /** doc_id + mh columns → (doc_id, band_key) rows; band_key = "b:sig". */
  def bandKeys(sig: DataFrame): DataFrame = {
    val bandCols = (0 until NumBands).map { b =>
      concat(lit(s"$b:"),
        concat_ws("-", (0 until BandSize).map(r => col(s"mh${b * BandSize + r}")): _*))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("band_key"))
  }

  /** MinHash signatures (16 permutations) + banded LSH (4 bands × 4) +
    * exact-Jaccard verification of candidates only — the scale path for
    * near-dup detection. Finds the corpus's 25 planted near-dup pairs.
    */
  /** Verified near-dup pairs (doc_a < doc_b, Jaccard ≥ 0.5): row-local
    * signatures → banded self-join → candidates-only array-intersect
    * verification. Shared by dedup_minhash_lsh and the corpus-clean
    * pipeline. Integer jaccard: threshold (ni·2 ≥ union ⟺ j ≥ 0.5) and the
    * e4 score are exact integer arithmetic — round(double) is not
    * cross-engine-stable on small-denominator ratios.
    */
  /** doc_id, band, sig — one row per (doc, band) from a mh0..mh15
    * signature frame. Shared by the self-join (minhashPairs) and the
    * cross-corpus (decontamMinhash) banding joins.
    */
  private def bandedSignatures(sig: DataFrame): DataFrame = {
    val bandCols = (0 until NumBands).map(b =>
      concat_ws("-", (0 until BandSize).map(r => col(s"mh${b * BandSize + r}")): _*))
    sig.select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band", "sig")))
  }

  def minhashPairs(s: SparkSession, d: String): DataFrame =
    minhashPairsStaged(stagedHashedShingles(s, d))

  /** Same pipeline over ANY (doc_id, text) corpus — used by the
    * synthetic-corpus scale smoke and cap specs (no dataset dir to key a
    * memo on, so this path stages fresh per call).
    */
  def minhashPairsOf(docs: DataFrame): DataFrame =
    minhashPairsStaged(graft.Materialize.stageLazy(hashedShinglesOf(docs)))

  /** The banding + verification pipeline over a pre-STAGED hashed-shingle
    * corpus (one materialization feeds signatures AND verification).
    */
  private def minhashPairsStaged(tks: DataFrame): DataFrame = {
    // hot (band, sig) buckets dropped before the self-join — see
    // [[LshBucketCap]] for the quadratic hazard and the recall tradeoff
    val bands =
      capBuckets(bandedSignatures(rowLocalSignatures(tks)), Seq("band", "sig"))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // verification on hashed-shingle sets: candidates only, array ops —
    // the exploded shingle join never materializes
    cand
      .join(tks.select(col("doc_id").as("doc_a"), col("tks").as("ta")), Seq("doc_a"))
      .join(tks.select(col("doc_id").as("doc_b"), col("tks").as("tb")), Seq("doc_b"))
      .withColumn("ni", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("uni",
        (size(col("ta")) + size(col("tb"))).cast("long") - col("ni"))
      .filter(col("ni") * 2 >= col("uni"))
      .select(col("doc_a"), col("doc_b"),
        expr("ni * 10000 div uni").as("jaccard_e4"))
  }

  /** DuckDB twin of [[minhashPairs]]: CTE chain ending in
    * `pairs(doc_a, doc_b, jaccard_e4)`.
    */
  private lazy val MinhashPairsCte: String = {
    val mins = (0 until NumHashes)
      .map(j => s"min((tk * ${HashA(j)} + ${HashB(j)}) % $P) AS mh$j")
      .mkString(", ")
    val bandExprs = (0 until NumBands)
      .map(b => (0 until BandSize).map(r => s"mh${b * BandSize + r}")
        .mkString(" || '-' || "))
      .mkString("[", ", ", "]")
    s"""$ShingleCte,
       |tkset AS (SELECT DISTINCT doc_id, tk FROM keyed),
       |tksizes AS (SELECT doc_id, count(*) AS n FROM tkset GROUP BY doc_id),
       |sig AS (SELECT doc_id, $mins FROM tkset GROUP BY doc_id),
       |bands_all AS (
       |  SELECT doc_id, b.band, b.sig FROM sig,
       |  LATERAL (SELECT unnest(generate_series(0, ${NumBands - 1})) AS band,
       |                  unnest($bandExprs) AS sig) b),
       |bands AS (
       |  SELECT ba.doc_id, ba.band, ba.sig FROM bands_all ba
       |  JOIN (SELECT band, sig FROM bands_all GROUP BY band, sig
       |        HAVING count(*) <= $LshBucketCap) k USING (band, sig)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS ni
       |  FROM cand c JOIN tkset sa ON sa.doc_id = c.doc_a
       |              JOIN tkset sb ON sb.doc_id = c.doc_b AND sb.tk = sa.tk
       |  GROUP BY c.doc_a, c.doc_b),
       |pairs AS (
       |  SELECT i.doc_a, i.doc_b,
       |         ni * 10000 // (za.n + zb.n - ni) AS jaccard_e4
       |  FROM inter i JOIN tksizes za ON za.doc_id = i.doc_a
       |               JOIN tksizes zb ON zb.doc_id = i.doc_b
       |  WHERE ni * 2 >= za.n + zb.n - ni)""".stripMargin
  }

  val dedupMinhashLsh = GQuery(
    "dedup_minhash_lsh",
    (s, d) => minhashPairs(s, d),
    oracle = Some(
      s"""$MinhashPairsCte
         |SELECT doc_a, doc_b, jaccard_e4 FROM pairs""".stripMargin),
    bench = true)

  /** Exact n-gram Jaccard over the df-capped shingle universe (the LSH
    * baseline): the shingle-join trick — pairs materialize only for docs
    * sharing ≥1 shingle, so the complexity is Σ_shingle df(shingle)² — with
    * stop-shingles (df > [[ShingleDfCap]]) dropped BEFORE the pair join,
    * which bounds every df term and keeps the join skew-free at scale. The
    * df filter is one map-side-combinable aggregate on the same key the
    * pair join shuffles on.
    */
  val dedupNgramJaccard = GQuery(
    "dedup_ngram_jaccard",
    (s, d) => {
      val sh = cappedShingles(s, d)
      val pairs = sh.select(col("doc_id").as("doc_a"), col("sh"))
        .join(sh.select(col("doc_id").as("doc_b"), col("sh")), Seq("sh"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("ni"))
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      pairs
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
        .withColumn("uni", col("na") + col("nb") - col("ni"))
        .filter(col("ni") * 2 >= col("uni"))
        .select(col("doc_a"), col("doc_b"),
          expr("ni * 10000 div uni").as("jaccard_e4"))
    },
    oracle = Some(
      s"""$ShingleCte,
         |capped AS (
         |  SELECT s.doc_id, s.sh FROM shingle s
         |  JOIN (SELECT sh FROM shingle GROUP BY sh
         |        HAVING count(*) <= $ShingleDfCap) k USING (sh)),
         |csizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
         |inter AS (
         |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS ni
         |  FROM capped sa JOIN capped sb
         |    ON sa.sh = sb.sh AND sa.doc_id < sb.doc_id
         |  GROUP BY sa.doc_id, sb.doc_id)
         |SELECT i.doc_a, i.doc_b,
         |       ni * 10000 // (za.n + zb.n - ni) AS jaccard_e4
         |FROM inter i JOIN csizes za ON za.doc_id = i.doc_a
         |             JOIN csizes zb ON zb.doc_id = i.doc_b
         |WHERE ni * 2 >= za.n + zb.n - ni""".stripMargin))

  /** 64-bit SimHash over shingle keys: per-bit majority vote, then
    * Hamming-ball banding instead of an all-pairs scan. The signature is
    * split into 4 non-overlapping 16-bit bands; by pigeonhole, any pair at
    * Hamming distance ≤ 3 differs in at most 3 bands and so agrees exactly
    * on ≥ 1 band — a self-join on (band, band_value) finds every qualifying
    * pair, and `bit_count` verifies candidates. No cartesian anywhere: the
    * only shuffles are band keys and the candidate set.
    *
    * 4×16-bit bands give 4·65536 distinct join keys, which keeps per-key
    * bucket cardinality bounded against RANDOM collisions at corpus scale
    * (the earlier 32-bit form's 4·256 keys collide quadratically as n
    * grows — the signature width is the scale knob, and 64 is the 100 TB
    * default). Width does NOT bound identical-signature clusters — n
    * byte-identical boilerplate docs share every band value no matter how
    * wide the signature — so the [[LshBucketCap]] hot-bucket drop applies
    * here exactly as on the minhash/embedding paths, mirrored in the
    * oracle (whose pair join is banded for that reason: an all-pairs SQL
    * twin could not express the cap). The sign bit is an ordinary
    * signature bit: comparisons go through xor/bit_count, never numeric
    * order.
    */
  val dedupSimhash = GQuery(
    "dedup_simhash",
    (s, d) => {
      // fully row-local: each doc's 64-bit signature is ONE native codegen
      // call over its hashed shingle array (graft_simhash — the HOF form
      // ran 64 interpreted aggregate() lambdas per doc); no explosion, no
      // shuffle before the pair join
      val tks = hashedShingleArrays(s, d)
      // 1 row/doc, read by both sides of the band self-join; staging is
      // safe here at any scale (the signature table is ~16 bytes/doc)
      val sig = graft.Materialize.stageLazy(
        tks.select(col("doc_id"), expr(s"graft_simhash(tks, $SimhashBits)").as("sig")))
      val nBands = SimhashMaxDist + 1           // ≥ maxDist+1 bands required
      val bandBits = SimhashBits / nBands
      val bandVals = array((0 until nBands).map(b =>
        expr(s"shiftright(sig, ${b * bandBits}) & ${(1L << bandBits) - 1}")): _*)
      val bands = capBuckets(
        sig.select(col("doc_id"), col("sig"),
          posexplode(bandVals).as(Seq("band", "bv"))),
        Seq("band", "bv"))
      bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("a.sig").as("sha"),
          col("b.doc_id").as("doc_b"), col("b.sig").as("shb"))
        .distinct() // a pair can agree on several bands
        .withColumn("dist", expr("CAST(bit_count(sha ^ shb) AS BIGINT)"))
        .filter(col("dist") <= SimhashMaxDist)
        .select(col("doc_a"), col("doc_b"), col("dist"))
    },
    oracle = Some(
      // mixed: the expression's xorshift-multiply finalizer in HUGEINT
      // mod-2^64 (A < 2^63 keeps each multiply inside INT128); the
      // signature is then assembled in HUGEINT (bit 63 overflows BIGINT
      // sum) and wrapped into the signed value Spark's long carries
      s"""$ShingleCte,
         |tkset AS (SELECT DISTINCT doc_id, tk FROM keyed),
         |mixed AS (
         |  SELECT doc_id, xor(z3, z3 >> 31) AS mk FROM (
         |    SELECT doc_id, (xor(z2, z2 >> 27) * $MixA::HUGEINT) % $M64::HUGEINT AS z3 FROM (
         |      SELECT doc_id, (xor(z1, z1 >> 30) * $MixA::HUGEINT) % $M64::HUGEINT AS z2 FROM (
         |        SELECT doc_id, (tk::HUGEINT + $MixB::HUGEINT) % $M64::HUGEINT AS z1
         |        FROM tkset) q1) q2) q3),
         |bits AS (
         |  SELECT doc_id, j,
         |         sum(CASE WHEN (mk >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
         |  FROM mixed, generate_series(0, ${SimhashBits - 1}) g(j)
         |  GROUP BY doc_id, j),
         |simhash AS (
         |  SELECT doc_id,
         |         CAST(CASE WHEN h >= 9223372036854775808 THEN h - 18446744073709551616
         |                   ELSE h END AS BIGINT) AS sig
         |  FROM (SELECT doc_id,
         |               sum(CASE WHEN s > 0 THEN 1::HUGEINT << j ELSE 0::HUGEINT END) AS h
         |        FROM bits GROUP BY doc_id)),
         |sh_bands AS (
         |  SELECT doc_id, sig, g.band,
         |         ((sig >> (g.band * ${SimhashBits / (SimhashMaxDist + 1)})) & ${(1L << (SimhashBits / (SimhashMaxDist + 1))) - 1}) AS bv
         |  FROM simhash,
         |       (SELECT unnest(generate_series(0, $SimhashMaxDist)) AS band) g),
         |sh_cb AS (
         |  SELECT sb.doc_id, sb.sig, sb.band, sb.bv FROM sh_bands sb
         |  JOIN (SELECT band, bv FROM sh_bands GROUP BY band, bv
         |        HAVING count(*) <= $LshBucketCap) k USING (band, bv))
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS dist
         |FROM sh_cb a JOIN sh_cb b
         |  ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= $SimhashMaxDist""".stripMargin),
    bench = true)

  /** Embedding near-dup: all-pairs cosine ≥ 0.4 over double-cast vectors.
    * Dot products use the native codegen DotProduct expression (sequential
    * primitive loop — bit-identical to the oracle's list_sum fold). The
    * LSH-bucketed scale path is in SimilarityOps.
    */
  val dedupEmbeddingCosine = GQuery(
    "dedup_embedding_cosine",
    (s, d) => {
      val e = normalizedVecs(s, d)
      e.as("a")
        .join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .withColumn("cos", cosExpr())
        .filter(col("cos") >= CosineThreshold)
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          round(col("cos"), 4).as("cosine"))
    },
    oracle = Some(
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
         |         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
         |  FROM embeddings
         |  WHERE len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL)) = 0
         |    AND NOT isnan(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
    AND list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) < CAST('Infinity' AS DOUBLE)
    AND list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) > 0)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       round(list_sum(list_transform(generate_series(1, len(a.v)),
         |             i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 4) AS cosine
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE list_sum(list_transform(generate_series(1, len(a.v)),
         |      i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) >= $CosineThreshold""".stripMargin))

  /** Benchmark decontamination: find corpus documents that are near-copies
    * of any document in a benchmark set (here: doc_id ≡ 0 mod 7 stands in
    * for the benchmark) — THE cross-corpus application of MinHash LSH in a
    * training-data pipeline. Identical banding to [[dedupMinhashLsh]], but
    * the join is benchmark-bands × corpus-bands instead of a self-join: at
    * 100 TB the benchmark side is tiny (thousands of docs), so its banded
    * signatures broadcast and the corpus streams once — no shuffle of the
    * corpus at all. Candidates verified by exact Jaccard ≥ 0.5 on the
    * hashed-shingle arrays.
    *
    * No [[LshBucketCap]] here, deliberately: the quadratic hazard is
    * specific to SELF-joins (hot bucket → n²/2 pairs on one reducer). This
    * broadcast hash join has no shuffle key to skew — each corpus row
    * probes the broadcast table and fans out at most to the benchmark's
    * multiplicity on that band key, which is bounded by the (small)
    * benchmark itself; capping corpus buckets would only cost decontam
    * recall on boilerplate docs, the docs most likely to be contaminated.
    */
  val decontamMinhash = GQuery(
    "decontam_minhash",
    (s, d) => {
      val tks = stagedHashedShingles(s, d)
      val bands = bandedSignatures(rowLocalSignatures(tks))
      val benchBands = broadcast(
        bands.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id").as("bench_doc"), col("band"), col("sig")))
      val cand = bands.filter(col("doc_id") % 7 =!= 0)
        .join(benchBands, Seq("band", "sig"))
        .select(col("bench_doc"), col("doc_id").as("corpus_doc"))
        .distinct()
      cand
        .join(tks.select(col("doc_id").as("bench_doc"), col("tks").as("ta")), Seq("bench_doc"))
        .join(tks.select(col("doc_id").as("corpus_doc"), col("tks").as("tb")), Seq("corpus_doc"))
        .withColumn("ni", size(array_intersect(col("ta"), col("tb"))).cast("long"))
        .withColumn("uni",
          (size(col("ta")) + size(col("tb"))).cast("long") - col("ni"))
        .filter(col("ni") * 2 >= col("uni"))
        .select(col("bench_doc"), col("corpus_doc"),
          expr("ni * 10000 div uni").as("jaccard_e4"))
    },
    oracle = Some {
      val mins = (0 until NumHashes)
        .map(j => s"min((tk * ${HashA(j)} + ${HashB(j)}) % $P) AS mh$j")
        .mkString(", ")
      val bandExprs = (0 until NumBands)
        .map(b => (0 until BandSize).map(r => s"mh${b * BandSize + r}")
          .mkString(" || '-' || "))
        .mkString("[", ", ", "]")
      s"""$ShingleCte,
         |tkset AS (SELECT DISTINCT doc_id, tk FROM keyed),
         |tksizes AS (SELECT doc_id, count(*) AS n FROM tkset GROUP BY doc_id),
         |sig AS (SELECT doc_id, $mins FROM tkset GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, b.band, b.sig FROM sig,
         |  LATERAL (SELECT unnest(generate_series(0, ${NumBands - 1})) AS band,
         |                  unnest($bandExprs) AS sig) b),
         |cand AS (
         |  SELECT DISTINCT q.doc_id AS bench_doc, c.doc_id AS corpus_doc
         |  FROM bands q JOIN bands c
         |    ON q.band = c.band AND q.sig = c.sig
         |   AND q.doc_id % 7 = 0 AND c.doc_id % 7 <> 0),
         |inter AS (
         |  SELECT c.bench_doc, c.corpus_doc, count(*) AS ni
         |  FROM cand c JOIN tkset sa ON sa.doc_id = c.bench_doc
         |              JOIN tkset sb ON sb.doc_id = c.corpus_doc AND sb.tk = sa.tk
         |  GROUP BY c.bench_doc, c.corpus_doc)
         |SELECT i.bench_doc, i.corpus_doc,
         |       ni * 10000 // (za.n + zb.n - ni) AS jaccard_e4
         |FROM inter i JOIN tksizes za ON za.doc_id = i.bench_doc
         |             JOIN tksizes zb ON zb.doc_id = i.corpus_doc
         |WHERE ni * 2 >= za.n + zb.n - ni""".stripMargin
    },
    bench = true)

  /** Exact n-gram collision decontamination (the GPT-3-appendix form of
    * benchmark decontam: a training doc is contaminated if it shares ANY
    * exact n-gram with the benchmark; production uses 13-grams, here n=3 —
    * the repo-wide shingle width — with the [[ShingleDfCap]] df cap
    * excluding boilerplate shingles that would mark everything).
    * Complement of [[decontamMinhash]]: that one finds near-COPIES of
    * benchmark docs; this one flags any verbatim n-gram overlap, however
    * local. Scale shape: the benchmark shingle set is tiny and broadcasts;
    * the corpus streams once (scan → df-cap semi-join → broadcast hash
    * join → per-doc count) — the corpus is never shuffled on a pair key,
    * and the df cap bounds per-shingle fan-out exactly as in
    * [[dedupNgramJaccard]].
    */
  val decontamNgramExact = GQuery(
    "decontam_ngram_exact",
    (s, d) => {
      val sh = cappedShingles(s, d)
      val benchSh = broadcast(
        sh.filter(col("doc_id") % 7 === 0).select("sh").distinct())
      val corpus = sh.filter(col("doc_id") % 7 =!= 0)
      // shingle rows are distinct per doc (generator dedups), so the join
      // hit count IS the distinct overlapping-shingle count
      val hits = corpus.join(benchSh, Seq("sh"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      val sizes = corpus.groupBy("doc_id").agg(count(lit(1)).as("n"))
      hits.join(sizes, Seq("doc_id"))
        .select(col("doc_id").as("corpus_doc"), col("n_hits"),
          expr("n_hits * 10000 div n").as("hit_ratio_e4"))
    },
    oracle = Some(
      s"""$ShingleCte,
         |capped AS (
         |  SELECT s.doc_id, s.sh FROM shingle s
         |  JOIN (SELECT sh FROM shingle GROUP BY sh
         |        HAVING count(*) <= $ShingleDfCap) k USING (sh)),
         |bench AS (SELECT DISTINCT sh FROM capped WHERE doc_id % 7 = 0),
         |corpus AS (SELECT doc_id, sh FROM capped WHERE doc_id % 7 <> 0),
         |hits AS (
         |  SELECT c.doc_id, count(*) AS n_hits
         |  FROM corpus c JOIN bench USING (sh) GROUP BY c.doc_id),
         |nsz AS (SELECT doc_id, count(*) AS n FROM corpus GROUP BY doc_id)
         |SELECT h.doc_id AS corpus_doc, h.n_hits,
         |       h.n_hits * 10000 // z.n AS hit_ratio_e4
         |FROM hits h JOIN nsz z ON z.doc_id = h.doc_id""".stripMargin),
    bench = true)

  /** decontam_bloom filter geometry: 2^21 bits / 4 hashes. With n bench
    * shingles the false-positive rate is (1 - e^{-4n/2^21})^4 — ≈ 2e-9 at
    * the sf0.01 bench set (~4k shingles), still < 1% at n = 250k; beyond
    * that production scales the bit count linearly (the words array is
    * m/64 longs — 2 MB at 2^27 bits, trivially broadcastable).
    */
  final val BloomBits = 1L << 21
  final val BloomK = 4

  /** Memoized packed Bloom words per (applicationId, dataset dir, dataset
    * fingerprint) — the decontamination filter is an INDEX ARTIFACT of the
    * benchmark set, like the IVF coarse quantizer ([[KMeansOps.lloyd]]):
    * built once per dataset, reused by every subsequent execution. Without
    * this the query paid a one-shuffle build job + a 2^15-long collect on
    * EVERY run — an index-build cost billed per query (the round-10 bench's
    * slowest entry at 6.4 s warm). Cached state is m/64 = 32k longs
    * (256 KB) per dataset; the [[graft.DatasetFingerprint]] key invalidates
    * on any in-place rewrite, and superseded fingerprints for the same
    * (app, dir) are evicted on insert so a long-lived application holds at
    * most one filter per dataset dir.
    */
  private val bloomWords = new graft.DatasetMemo[Array[Long]](
    Some(graft.ArtifactStore.longArray("bloom_words")))

  /** The packed filter for the benchmark shingles at `d`, building (and
    * memoizing) it from `benchRows` on first use. The build is a
    * distributed OR-fold: positions → (word, mask) → map-side-combinable
    * bit_or — the driver collects ≤ m/64 packed words, never the k·n raw
    * positions. Built from the UNdeduplicated bench rows: duplicate
    * shingles set the same bits, and skipping the distinct keeps the build
    * a single one-shuffle job. `kmPos` must be the same position
    * expression the probe uses (hash parity by construction). Locking +
    * eviction via [[graft.DatasetMemo]] (build outside the lock).
    */
  private def bloomWordsFor(
      s: SparkSession, d: String, benchRows: => DataFrame,
      kmPos: String): Array[Long] =
    bloomWords.get(s, d, "documents.parquet") {
      val words = new Array[Long]((BloomBits / 64).toInt)
      benchRows.withColumn("bh", xxhash64(col("sh")))
        .select(explode(expr(kmPos)).as("p"))
        .selectExpr("int(p div 64) AS w",
          "shiftleft(CAST(1 AS BIGINT), int(p % 64)) AS m")
        .groupBy("w").agg(expr("bit_or(m)").as("m"))
        .collect().foreach(r => words(r.getInt(0)) = r.getLong(1))
      words
    }

  /** Bloom-prefiltered exact decontamination — same semantics (and oracle)
    * as [[decontamNgramExact]], different physical path: the benchmark
    * shingle set is compressed to a [[BloomBits]]-bit Bloom filter carried
    * as ONE array<long> literal, and the corpus-side membership probe is
    * pure xxhash64 + shift/mask arithmetic (fully codegen'd — no UDF, no
    * broadcast hash relation on the probe). Survivors (true hits + a
    * vanishing FP tail) then hit the exact broadcast join, so the result is
    * exactly the exact query's. This is the shape that wins at 100 TB when
    * the bench set is too large for a cheap broadcast hash join but its
    * bloom is not: the full corpus scan touches only a constant, the
    * expensive join sees ~(hit-rate + FPP) of the corpus. The filter build
    * computes bit positions WITH THE SAME Spark expression the probe uses
    * (hash parity by construction), collects only the m/64 packed words —
    * driver-trivial because benchmark suites are orders smaller than the
    * corpus — and is MEMOIZED per dataset fingerprint ([[bloomWordsFor]]):
    * executions after the first skip the build job entirely.
    */
  val decontamBloom = GQuery(
    "decontam_bloom",
    (s, d) => {
      val sh = cappedShingles(s, d)
      val benchRows = sh.filter(col("doc_id") % 7 === 0).select("sh")
      // NOT staged: recomputing this distinct from the staged `sh` in the
      // verify join is cheaper than a checkpoint job of its own
      val benchSh = benchRows.distinct()
      // Kirsch-Mitzenmacher double hashing: ONE xxhash64 per shingle row
      // (hoisted into the `bh` projection so the lambda never re-hashes),
      // the k positions derived as h1 + i·h2 mod m — integer arithmetic
      // instead of k string hashes on the corpus-scan side. h2 is forced
      // odd so it is nonzero and cycles all of m (m a power of two).
      val kmPos = s"transform(sequence(0, ${BloomK - 1}), i -> " +
        s"pmod(pmod(bh, $BloomBits) + " +
        s"CAST(i AS BIGINT) * (1 + 2 * pmod(shiftright(bh, 21), " +
        s"$BloomBits)), $BloomBits))"
      // index artifact, not a per-query cost: built once per dataset and
      // served from [[bloomWords]] on every later execution
      val words = bloomWordsFor(s, d, benchRows, kmPos)
      // probe = every derived position's bit set; forall over the same
      // position expression the build used (hash parity by construction)
      val probe = s"forall($kmPos, p -> " +
        s"(shiftright(bf[int(p div 64)], int(p % 64)) & 1) = 1)"
      val corpus = sh.filter(col("doc_id") % 7 =!= 0)
      val cand = corpus
        .withColumn("bh", xxhash64(col("sh")))
        .withColumn("bf", typedLit(words.toSeq))
        .filter(expr(probe)).drop("bf", "bh")
      val hits = cand.join(broadcast(benchSh), Seq("sh"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      val sizes = corpus.groupBy("doc_id").agg(count(lit(1)).as("n"))
      hits.join(sizes, Seq("doc_id"))
        .select(col("doc_id").as("corpus_doc"), col("n_hits"),
          expr("n_hits * 10000 div n").as("hit_ratio_e4"))
    },
    oracle = Some(
      s"""$ShingleCte,
         |capped AS (
         |  SELECT s.doc_id, s.sh FROM shingle s
         |  JOIN (SELECT sh FROM shingle GROUP BY sh
         |        HAVING count(*) <= $ShingleDfCap) k USING (sh)),
         |bench AS (SELECT DISTINCT sh FROM capped WHERE doc_id % 7 = 0),
         |corpus AS (SELECT doc_id, sh FROM capped WHERE doc_id % 7 <> 0),
         |hits AS (
         |  SELECT c.doc_id, count(*) AS n_hits
         |  FROM corpus c JOIN bench USING (sh) GROUP BY c.doc_id),
         |nsz AS (SELECT doc_id, count(*) AS n FROM corpus GROUP BY doc_id)
         |SELECT h.doc_id AS corpus_doc, h.n_hits,
         |       h.n_hits * 10000 // z.n AS hit_ratio_e4
         |FROM hits h JOIN nsz z ON z.doc_id = h.doc_id""".stripMargin),
    bench = true)

  /** dedup_substring_windows geometry: 20-token sliding windows (the
    * Lee et al. "Deduplicating Training Data" exact-substring signal uses
    * 50-token matches; 20 fits the testbed's ~54-token docs), and every
    * doc_id ≡ 0 (mod 31) gets a 25-token boilerplate prefix planted on
    * BOTH engine and oracle sides — the testbed corpus contains no natural
    * 20-token verbatim repeats, so (as with pii_redact's planted contacts)
    * the detector mechanism, not the synthetic data, is what the oracle
    * checks.
    */
  final val SubstrWindow = 20
  final val SubstrPlantMod = 31L
  private val SubstrBoiler = (0 until 25).map(i => s"swb$i").mkString(" ")

  /** Exact-substring repeat detection — the third granularity of the
    * dedup family: whole-doc (dedup_exact), near-doc (minhash/simhash/
    * embedding), sub-doc span removal (dedup_span_boilerplate), and now
    * LONG VERBATIM RUNS anywhere in a doc (the Lee et al. exact-substring
    * signal): a sliding [[SubstrWindow]]-token window whose polyhash
    * occurs ≥ 2 times corpus-wide marks a repeated region; the per-doc
    * repeated-window fraction is the removal signal. Plan shape (r20):
    * window hashes are row-local (one graft_polyhash per window over the
    * joined tokens), and the corpus-wide frequency is a COUNT OVER
    * (PARTITION BY wh, wh2) window — ONE hash-keyed exchange of the
    * window rows, replacing r19's aggregate + co-keyed marking join,
    * which shuffled the same rows PLUS the frequency partials and
    * instantiated the scan+kernel subtree in both join branches (the
    * rolling-hash kernel ran twice per query; measured 15.3 → 2.5
    * process-CPU-s at sf0.1). Skew profile is unchanged — a hot
    * (wh, wh2) landed in one join partition before and lands in one
    * window partition now. Hash collisions (p = 2³¹−1)
    * can mark a false repeat; both engines share the hash, so the oracle
    * stays exact while production would re-verify marked regions
    * byte-wise (the candidates-then-verify pattern of the LSH family).
    */
  /** (doc_id, j, wh, wh2) rows — TWO independent rolling hashes (bases
    * 131 and 137, same 2³¹−1 modulus) of every [[SubstrWindow]]-token
    * sliding window with its 1-based start position j, boilerplate prefix
    * planted. Row-local via the rolling-hash kernel (`graft_window_hashes`
    * — O(chars) per base, no intermediate window strings; value-identical
    * to the polyhash-of-array_join form, ShingleHashesSpec cross-checks).
    *
    * Why TWO hashes: the repeat detector keys windows on the hash pair.
    * One 31-bit hash collides at the birthday rate — measured live by
    * SubstringScaleSmoke before this fix: 4.1M distinct windows produced
    * ~3.6k false-marked docs (n²/2p exactly), and at 100 TB window counts
    * a single 31-bit key would mark essentially everything repeated. The
    * (wh, wh2) pair is an effective 62-bit key (collision ~n²/2^63) while
    * keeping every per-hash component reproducible in DuckDB's BIGINT
    * arithmetic — the repo-wide polyhash stays 31-bit for minhash/simhash
    * SIGNATURES, where collisions only perturb similarity estimates; here
    * a collision IS a false positive, hence the wider key.
    *
    * A doc under [[SubstrWindow]] tokens hashes to an empty array and
    * drops out of the posexplode. Shared by the window-fraction query and
    * the maximal-run merge below.
    *
    * Single-split trade-off: nothing spreads the scan before the hashing,
    * so the CPU-bound window-hash kernel runs with the documents table's
    * scan parallelism. A multi-split input hashes on every core; a corpus
    * that lands in ONE scan split hashes on one core before the window
    * exchange. The removed up-front repartition avoided that but shuffled
    * the raw text once more on every input; a conditional spread for
    * few-split scans is the fix if that case matters.
    */
  private def substrWindowRows(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(s)
    Tables.documents(s, d)
      .select(col("doc_id"),
        when(col("doc_id") % SubstrPlantMod === 0,
          concat(lit(SubstrBoiler + " "), col("text")))
          .otherwise(col("text")).as("text2"))
      .select(col("doc_id"),
        expr(s"graft_window_hashes(text2, $SubstrWindow)").as("h1"),
        expr(s"graft_window_hashes(text2, $SubstrWindow, 137)").as("h2"))
      .select(col("doc_id"),
        posexplode(arrays_zip(col("h1"), col("h2"))).as(Seq("p", "z")))
      .select(col("doc_id"), (col("p") + 1).cast("long").as("j"),
        col("z.h1").as("wh"), col("z.h2").as("wh2"))
  }

  val dedupSubstringWindows = GQuery(
    "dedup_substring_windows",
    (s, d) => {
      val wins = substrWindowRows(s, d)
      val df = count(lit(1)).over(Window.partitionBy("wh", "wh2"))
      wins.select(col("doc_id"),
          when(df >= 2, lit(1L)).otherwise(lit(0L)).as("rep"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(col("rep")).cast("long").as("n_repeated"))
        .select(col("doc_id"), col("n_windows"), col("n_repeated"),
          expr("n_repeated * 10000 div n_windows").as("repeated_frac_e4"))
    },
    oracle = Some {
      val winExpr = s"array_to_string(t[j:j+${SubstrWindow - 1}], ' ')"
      s"""WITH sw_t AS (
         |  SELECT doc_id, list_filter(string_split(
         |           CASE WHEN doc_id % $SubstrPlantMod = 0
         |                THEN '$SubstrBoiler ' || text ELSE text END, ' '),
         |         w -> w <> '') AS t
         |  FROM documents),
         |sw_u AS (
         |  SELECT doc_id,
         |         unnest(list_transform(
         |           generate_series(1, len(t) - ${SubstrWindow - 1}),
         |           j -> {'wh': ${tkDuck(winExpr)},
         |                 'wh2': ${tkDuckB(winExpr, 137)}})) AS u
         |  FROM sw_t WHERE len(t) >= $SubstrWindow),
         |sw_w AS (SELECT doc_id, u.wh AS wh, u.wh2 AS wh2 FROM sw_u),
         |sw_df AS (SELECT wh, wh2, count(*) AS df FROM sw_w GROUP BY wh, wh2),
         |sw_j AS (
         |  SELECT w.doc_id, CASE WHEN d.df >= 2 THEN 1 ELSE 0 END AS rep
         |  FROM sw_w w JOIN sw_df d USING (wh, wh2))
         |SELECT doc_id, count(*) AS n_windows,
         |       CAST(sum(rep) AS BIGINT) AS n_repeated,
         |       CAST(sum(rep) AS BIGINT) * 10000 // count(*) AS repeated_frac_e4
         |FROM sw_j GROUP BY doc_id""".stripMargin
    })

  /** Maximal repeated runs — the statistic Lee et al. actually threshold:
    * adjacent repeated [[SubstrWindow]]-token windows merged into maximal
    * runs, so a 25-token verbatim region reports as ONE run of 25 tokens,
    * not 6 window hits. The merge is the island trick: repeated window
    * starts j within a doc get group key j − row_number() (constant
    * exactly on consecutive-j islands), then one groupBy per island. Plan
    * shape adds a single doc_id-partitioned window over the frequency
    * window of [[dedupSubstringWindows]] (same r20 COUNT OVER rewrite —
    * one hash-keyed exchange, kernel once); the island groupBy needs no
    * further shuffle (hash-partitioning on doc_id satisfies the
    * (doc_id, grp) clustering). Output: one row per maximal
    * run — run_tokens = run_windows + W − 1 because island windows are
    * consecutive by construction.
    */
  val dedupSubstringRuns = GQuery(
    "dedup_substring_runs",
    (s, d) => {
      val wins = substrWindowRows(s, d)
      val df = count(lit(1)).over(Window.partitionBy("wh", "wh2"))
      val rep = wins.select(col("doc_id"), col("j"), df.as("df"))
        .filter(col("df") >= 2).select("doc_id", "j")
      val w = Window.partitionBy("doc_id").orderBy("j")
      rep.withColumn("grp", col("j") - row_number().over(w))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min("j").as("run_start"),
          count(lit(1)).as("run_windows"))
        .select(col("doc_id"), col("run_start"), col("run_windows"),
          (col("run_windows") + (SubstrWindow - 1)).as("run_tokens"))
    },
    oracle = Some {
      val winExpr = s"array_to_string(t[j:j+${SubstrWindow - 1}], ' ')"
      s"""WITH sw_t AS (
         |  SELECT doc_id, list_filter(string_split(
         |           CASE WHEN doc_id % $SubstrPlantMod = 0
         |                THEN '$SubstrBoiler ' || text ELSE text END, ' '),
         |         w -> w <> '') AS t
         |  FROM documents),
         |sw_u AS (
         |  SELECT doc_id,
         |         unnest(list_transform(
         |           generate_series(1, len(t) - ${SubstrWindow - 1}),
         |           j -> {'j': j, 'wh': ${tkDuck(winExpr)},
         |                 'wh2': ${tkDuckB(winExpr, 137)}})) AS u
         |  FROM sw_t WHERE len(t) >= $SubstrWindow),
         |sw_w AS (SELECT doc_id, u.j AS j, u.wh AS wh, u.wh2 AS wh2 FROM sw_u),
         |sw_df AS (SELECT wh, wh2 FROM sw_w GROUP BY wh, wh2
         |          HAVING count(*) >= 2),
         |sw_rep AS (SELECT w.doc_id, w.j FROM sw_w w
         |           JOIN sw_df d USING (wh, wh2)),
         |sw_isl AS (
         |  SELECT doc_id, j,
         |         j - row_number() OVER (PARTITION BY doc_id ORDER BY j) AS grp
         |  FROM sw_rep)
         |SELECT doc_id, CAST(min(j) AS BIGINT) AS run_start,
         |       CAST(count(*) AS BIGINT) AS run_windows,
         |       CAST(count(*) + ${SubstrWindow - 1} AS BIGINT) AS run_tokens
         |FROM sw_isl GROUP BY doc_id, grp""".stripMargin
    })

  /** Quality floor for the corpus-clean pipeline (quality_milli scale;
    * corpus range at sf0.01 is 507..916, median 624 — 560 drops the
    * genuinely degenerate tail).
    */
  val QualityFloor = 560L

  /** The end-to-end corpus-cleaning pipeline — the composition story of
    * this whole extension set: exact dedup → quality floor → text near-dup
    * removal (minhash) → embedding near-dup removal (banded sign-LSH,
    * recall ≈ 0.97 — [[bandedEmbPairs]], doc_id = vec_id in the testbed),
    * each stage the operator implemented above, reported as per-(source,
    * outcome) counts with precedence exact_dup > low_quality > near_dup >
    * emb_near_dup > kept. Both near-dup rules are pair-based keep-lowest
    * (the higher id of any verified pair drops) — the deterministic
    * non-transitive form; full connected-component clustering is an
    * iterative graph job, deliberately out of single-query scope. Scale
    * shape: four loser sets, each produced by an already-scale-audited
    * subplan, unioned with a precedence rank into ONE min-rank aggregate
    * and left-joined to the corpus on doc_id once (r19 — formerly four
    * sequential corpus-keyed left joins).
    */
  val pipelineCorpusClean = GQuery(
    "pipeline_corpus_clean",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // digest-keyed exact stage (see exactDupRank): document bodies
      // never cross the dedup shuffle
      val exactLosers = exactDupRank(docs, Seq.empty)
        .filter(col("rn") > 1)
        .select(col("doc_id"), lit(0).as("pri"))
      val toks = docs.select(col("doc_id"),
        filter(split(col("text"), " "), t => t =!= "").as("t"),
        length(col("text")).cast("long").as("ncl"))
      val quality = toks
        .withColumn("n", size(col("t")).cast("long"))
        .withColumn("du", size(array_distinct(col("t"))).cast("long"))
        .withColumn("ds", size(filter(col("t"),
          t => t === "the" || t === "a" || t === "of")).cast("long"))
        // n=0 guard inside CASE keeps ANSI division happy on empty docs
        .withColumn("q", when(col("n") > 0,
          expr("du * 500 div n") + expr("(n - ds) * 300 div n") +
            least(expr("(ncl - n + 1) * 200 div (8 * n)"), lit(200L)))
          .otherwise(lit(0L)))
      val lowQ = quality.filter(col("q") < QualityFloor)
        .select(col("doc_id"), lit(1).as("pri"))
      // r19 (guide §2.3): the four loser sets carry a PRECEDENCE rank and
      // meet in ONE union → min-rank aggregate → ONE left join, replacing
      // four sequential corpus-keyed left joins; the near/emb distincts
      // fold into the same aggregate (a doc_b repeated across pairs just
      // contributes the same rank twice to the min). Outcome per doc is
      // identical: membership in set k ⟺ min-rank ≤ k, and the CASE
      // precedence below is exactly min-rank.
      val nearLosers = minhashPairs(s, d)
        .select(col("doc_b").as("doc_id"), lit(2).as("pri"))
      val embLosers = bandedEmbPairs(s, d)
        .select(col("vec_b").as("doc_id"), lit(3).as("pri"))
      val losers = exactLosers.union(lowQ).union(nearLosers).union(embLosers)
        .groupBy("doc_id").agg(min("pri").as("pri"))
      docs.select("doc_id", "source")
        .join(losers, Seq("doc_id"), "left")
        .withColumn("outcome",
          when(col("pri") === 0, "exact_dup")
            .when(col("pri") === 1, "low_quality")
            .when(col("pri") === 2, "near_dup")
            .when(col("pri") === 3, "emb_near_dup")
            .otherwise("kept"))
        .groupBy("source", "outcome")
        .agg(count(lit(1)).as("n"))
    },
    oracle = Some(
      s"""$MinhashPairsCte,
         |exact_losers AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
         |    FROM documents) WHERE rn > 1),
         |qtab AS (
         |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n,
         |         CAST(len(list_distinct(t)) AS BIGINT) AS du,
         |         CAST(len(list_filter(t, w -> w IN ('the','a','of'))) AS BIGINT) AS ds,
         |         CAST(length(text) AS BIGINT) AS ncl
         |  FROM (SELECT doc_id, text,
         |               list_filter(string_split(text, ' '), w -> w <> '') AS t
         |        FROM documents)),
         |low_q AS (
         |  SELECT doc_id FROM qtab
         |  WHERE (CASE WHEN n > 0
         |              THEN (du * 500 // n) + ((n - ds) * 300 // n) +
         |                   least((ncl - n + 1) * 200 // (8 * n), 200)
         |              ELSE 0 END) < $QualityFloor),
         |near_losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
         |${bandedPairsCtes("eb_")},
         |emb_losers AS (SELECT DISTINCT vb AS doc_id FROM eb_pairs)
         |SELECT d.source,
         |       CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
         |            WHEN q.doc_id IS NOT NULL THEN 'low_quality'
         |            WHEN nl.doc_id IS NOT NULL THEN 'near_dup'
         |            WHEN el.doc_id IS NOT NULL THEN 'emb_near_dup'
         |            ELSE 'kept' END AS outcome,
         |       count(*) AS n
         |FROM documents d
         |LEFT JOIN exact_losers e ON d.doc_id = e.doc_id
         |LEFT JOIN low_q q ON d.doc_id = q.doc_id
         |LEFT JOIN near_losers nl ON d.doc_id = nl.doc_id
         |LEFT JOIN emb_losers el ON d.doc_id = el.doc_id
         |GROUP BY d.source, outcome""".stripMargin),
    bench = true)

  /** Connected components over an undirected (doc_a, doc_b) pair set via
    * alternating large-star/small-star edge rewriting. Output: (doc_id, rep)
    * for every endpoint, rep = component minimum.
    *
    * large-star: connect every strictly-larger neighbor of u to
    * m = min(Γ(u) ∪ {u}); small-star: point u and its ≤ neighbors at m.
    * Alternating the two converges in O(log n) rounds on any diameter
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the round count does not track the longest chain the way plain
    * min-label propagation does. The driver loop holds no data — each
    * round is shuffle joins + min-aggregates with Materialize.stage
    * truncating the iterative lineage. Convergence detection is two-tier:
    * the per-round signal is a (count, xor-of-xxhash64) digest of the new
    * edge set — ONE map-side-combinable aggregate over the staged frame,
    * no extra shuffle — and only the round whose digest matches the
    * previous one pays for the exact symmetric-difference check that
    * actually declares convergence. Equal sets always have equal digests,
    * so the cheap signal never skips a real fixpoint; a digest collision
    * on unequal sets (≈2⁻⁶⁴) just fails the exact check and the loop
    * continues — a false "converged" would be WRONG data, not slow data,
    * so the exact check stays load-bearing. Net: 2 set-difference shuffle
    * jobs per round (the round-7 shape) become one 1-row aggregate per
    * round plus one set-difference at the fixpoint.
    *
    * Optimization-round shape (r19, guide §2.3/§2.4 — measured 54→~33
    * scheduled jobs on graph_components at bench scale, and one fewer
    * full-edge-set shuffle per round at any scale):
    *  - large-star emits its rewrite WITHOUT a dedicating distinct: the
    *    duplicates it can produce (several smaller neighbors sharing one
    *    component-min) are bounded by 2·|E| rows and die in small-star's
    *    closing distinct, so the removed exchange shuffled O(|E|) rows
    *    per round for nothing;
    *  - the exact fixpoint check is ONE-directional (next ⊆ prev): it
    *    only runs once digests — which carry the cardinality — already
    *    match, and two equal-size distinct sets with one containment are
    *    equal;
    *  - labels come straight OFF the fixpoint: converged edges are
    *    exactly {(v, root) : v ≠ root}, so (doc_id, rep) = edge rows
    *    plus one (root, root) row per distinct root — the input pair
    *    set is never rescanned and the former nodes-side distinct +
    *    left join (two more shuffles of every node) are gone. This
    *    relies on the documented precondition that pairs are proper
    *    (doc_a ≠ doc_b — all callers canonicalize a < b; a self-pair
    *    would previously have surfaced as its own singleton component,
    *    now it is dropped by a row-local guard at entry, so a node with
    *    ONLY self-pairs is absent from the labeling — no caller, oracle
    *    or property generator produces one).
    *
    * StarRewriteProperties checks this differentially against plain
    * min-label propagation on arbitrary random graphs.
    */
  /** Public seam over [[starComponents]] for scale tooling
    * (tools/ComponentsScaleSmoke): (doc_a, doc_b) pairs → (doc_id, rep). */
  def componentsFromPairs(pairs: DataFrame): DataFrame = starComponents(pairs)

  private[operators] def starComponents(pairsIn: DataFrame): DataFrame = {
    // r20 (guide §2.4): both star halves attach the per-src neighborhood
    // minimum with MIN OVER (PARTITION BY src) instead of a groupBy-
    // aggregate joined back — the window needs ONE exchange of the edge
    // rows where the agg+join shape paid two (aggregate partials + the
    // full rows for the co-keyed join), so a star round drops from ~5
    // exchanges to 3. Clustering (and therefore skew) is unchanged: a
    // hot star center put its whole edge partition on one task in the
    // join form too. No closing distinct on large-star (r19; dups — a
    // few smaller neighbors sharing one component-min — die in
    // small-star's distinct). Re-adjudicated r20 after the r19 bench
    // flagged dedup_clusters: a same-day ProfileJobs A/B (3 warm samples
    // each) read distinct-restored at 5.6 s median wall / +2 jobs vs
    // 4.0 s without, and r18-code on the same day at 6.4 s / 44 jobs —
    // the flagged regression was machine-day contention, not this edit.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst"), col("src"))).toDF("src", "dst")
      sym
        .withColumn("m", least(
          min(col("dst")).over(Window.partitionBy("src")), col("src")))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      // input is child→parent (src > dst by large-star construction);
      // the (src → m) root rows repeat once per edge of src and die in
      // the closing distinct, same as large-star's duplicates
      val wm = e.withColumn("m", min(col("dst")).over(Window.partitionBy("src")))
      wm.select(col("dst").as("src"), col("m").as("dst"))
        .union(wm.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    def digest(e: DataFrame): (Long, Long) = {
      // bit_xor, not sum: a 64-bit hash sum overflows Long (ANSI error);
      // xor is order-independent and overflow-free, and both frames are
      // DISTINCT edge sets compared together with their cardinality, so
      // xor's multiset blindness ({a,a,b} vs {b}) cannot arise
      val r = e.agg(count(lit(1)).as("n"),
        expr("bit_xor(xxhash64(src, dst))").as("h")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // one-directional: called only when digests (count included) already
    // match, and two equal-cardinality distinct sets with a ⊆ b are equal
    def sameEdgeSet(a: DataFrame, b: DataFrame): Boolean =
      a.except(b).isEmpty

    var edges = graft.Materialize.stageLazy(
      pairsIn.select(least(col("doc_a"), col("doc_b")).as("dst"),
        greatest(col("doc_a"), col("doc_b")).as("src"))
        .filter(col("src") =!= col("dst")) // proper-pair guard (scaladoc)
        .select(col("src"), col("dst")).distinct())
    var dig = digest(edges)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 20) {
      val next = graft.Materialize.stageLazy(smallStar(largeStar(edges)))
      val nextDig = digest(next)
      // exact set equality checked ONLY when the cheap digest matches —
      // see the convergence paragraph in the scaladoc above
      converged = nextDig == dig && sameEdgeSet(next, edges)
      edges = next
      dig = nextDig
      rounds += 1
    }
    require(converged,
      s"starComponents: not converged after $rounds star rounds — " +
        "raise the bound (log2 of component count should far undercut it)")
    // fixpoint edges are exactly (doc → component-min) stars: every
    // non-root appears once as src, every root once per child as dst —
    // so the labeling is the edge rows plus one (root, root) row per
    // distinct root, straight off the staged fixpoint (the input pair
    // set is never rescanned; see scaladoc)
    edges.select(col("src").as("doc_id"), col("dst").as("rep"))
      .union(edges.select(col("dst"), col("dst")).distinct())
  }

  /** Connected-component labels over the symmetric `edges` CTE WITHOUT
    * recursion: unrolled MIN-LABEL PROPAGATION. Each round joins the
    * previous label table against the self-loop-augmented edges and takes
    * the per-node min, so lab_k(u) = the smallest node id within k hops
    * of u — the component representative once k reaches every node's
    * distance to its component's min-id node. Plain CTEs, so the
    * assembled oracle runs on engines that reject distinct-UNION
    * recursive CTEs (Spark 4.1, UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE) as
    * well as DuckDB. The two rejected alternatives, both measured:
    * recursive UNION ALL genuinely NON-TERMINATES (symmetric edges make
    * every node cyclic, so the step re-derives walks forever), and
    * unrolled path-DOUBLING — each level referencing the previous TWICE —
    * is exponential in Spark's analyzer because CTE references inline
    * (depth 9 over an 8-row VALUES base spent 565 s before touching
    * data). Label propagation references each level ONCE, keeping the
    * inlined plan linear: 12 rounds over the minhash pair chain run in
    * ~11 s through spark.sql at parity scale.
    *
    * Round count: every level is one hop, so `rounds` must cover the
    * largest node→representative distance. Measured on all three gate
    * corpora (sf0.01 / sf0.001 / hostile, all three pair graphs): the
    * worst case is 3 — these are dense co-occurrence/near-dup clusters,
    * not chains — so 12 is a 4× margin, and ClosureDepthSpec trips
    * loudly if a future testdata generation deepens any of them past
    * HALF this margin. Final CTE: `comp_labels(u, lbl)`.
    */
  private[graft] val LabelPropRounds = 12

  private[graft] def labelPropCtes(rounds: Int = LabelPropRounds): String = {
    val steps = (1 to rounds).map { k =>
      s"""lab$k AS (SELECT e2.dst AS u, min(l.lbl) AS lbl
         |          FROM lab${k - 1} l JOIN edges2 e2 ON l.u = e2.src
         |          GROUP BY e2.dst)""".stripMargin
    }
    (Seq(
      // self-loops make each round "extend by 0 or 1 hops", so a node's
      // own label always survives the join (no COALESCE/outer join
      // needed). MATERIALIZED: DuckDB would otherwise inline the whole
      // upstream pair-generation chain into every round's reference — a
      // measured 50x on the minhash oracle; DuckSqlDialect strips the
      // hint for Spark, which reuses exchanges on its own.
      "edges2 AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT src, src FROM edges)",
      "lab0 AS (SELECT src AS u, src AS lbl FROM edges GROUP BY src)") ++ steps)
      .mkString(",\n") +
      s",\ncomp_labels AS (SELECT u, lbl FROM lab$rounds)"
  }

  /** Near-dup CLUSTERING: connected components over the verified minhash
    * pair graph — the transitive form the pair-based pipeline rule
    * deliberately avoids. The component labeling is [[starComponents]]
    * (large-star/small-star; at 100 TB this loop IS the scale path).
    * Output: (doc_id, rep, csize) for every doc in some near-dup pair.
    */
  val dedupClusters = GQuery(
    "dedup_clusters",
    (s, d) => {
      val labels = starComponents(minhashPairs(s, d).select("doc_a", "doc_b"))
      val sizes = labels.groupBy("rep").agg(count(lit(1)).as("csize"))
      labels.join(sizes, Seq("rep")).select("doc_id", "rep", "csize")
    },
    oracle = Some(
      s"""$MinhashPairsCte,
         |edges AS MATERIALIZED (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |${labelPropCtes()},
         |comp AS (SELECT u AS doc_id, lbl AS rep FROM comp_labels),
         |repsizes AS (SELECT rep, count(*) AS csize FROM comp GROUP BY rep)
         |SELECT c.doc_id, c.rep, s.csize
         |FROM comp c JOIN repsizes s ON c.rep = s.rep""".stripMargin))

  /** The scale path for embedding near-dup: sign-LSH bucketing (8 fixed
    * integer hyperplanes, shared with SimilarityOps.annLshBucket) turns the
    * all-pairs scan into a per-bucket self-join — shuffle keys are bucket
    * ids, signatures are row-local, candidates verified by exact cosine.
    * Recall < 1 by design (a near-dup pair split across buckets is missed);
    * [[dedupEmbeddingCosine]] remains the exact baseline. Hot buckets
    * (≥ [[LshBucketCap]] members — a degenerate embedding cluster) drop
    * before the self-join, as on every banded path.
    */
  val dedupEmbeddingLsh = GQuery(
    "dedup_embedding_lsh",
    (s, d) => {
      // staged: both sides of the self-join consume the bucketed frame, and
      // at scale the signature pass over the corpus must not run twice
      val e = capBuckets(
        Materialize.stageLazy(SimilarityOps.withBucket(normalizedVecs(s, d))),
        Seq("bucket"))
      e.as("a")
        .join(e.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("cos", cosExpr())
        .filter(col("cos") >= CosineThreshold)
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          col("a.bucket").as("bucket"), round(col("cos"), 4).as("cosine"))
    },
    oracle = Some(
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
         |         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
         |  FROM embeddings
         |  WHERE len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL)) = 0
         |    AND NOT isnan(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
    AND list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) < CAST('Infinity' AS DOUBLE)
    AND list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) > 0),
         |wb AS (SELECT vec_id, v, nrm, ${SimilarityOps.bucketDuck} AS bucket FROM e),
         |wc AS (
         |  SELECT wb.vec_id, wb.v, wb.nrm, wb.bucket FROM wb
         |  JOIN (SELECT bucket FROM wb GROUP BY bucket
         |        HAVING count(*) <= $LshBucketCap) k USING (bucket))
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket AS bucket,
         |       round(list_sum(list_transform(generate_series(1, len(a.v)),
         |             i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 4) AS cosine
         |FROM wc a JOIN wc b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE list_sum(list_transform(generate_series(1, len(a.v)),
         |      i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) >= $CosineThreshold""".stripMargin),
    bench = true,
    // single-band 8-plane sign-LSH has recall < 1 BY DESIGN: at sf0.001
    // the corpus's qualifying cosine pairs (dedup_embedding_cosine finds
    // them) happen not to collide in the one 8-bit bucket — the banded
    // sibling recovers them. 2 rows at the sf0.01 driver gate, where the
    // non-vacuity contract is enforced.
    smokeMinRows = Some(0L))

  /** Banded-LSH geometry: 4 bands × 8 planes (planes 0..31 of the shared
    * hyperplane family). Declared BEFORE [[dedupEmbeddingLshBanded]]:
    * GQuery.oracle is a strict Option built during object init, so any
    * constant it interpolates must already be initialized (vals below a
    * reference read as 0 mid-init — this shipped a malformed oracle once;
    * OracleSanitySpec now guards the whole registry).
    */
  final val LshBands = 4
  final val LshBandPlanes = 8

  /** Banded sign-LSH near-dup — the recall-recovery variant of
    * [[dedupEmbeddingLsh]]. Single-band LSH misses any near-dup pair whose
    * vectors split on even ONE of the 8 planes (recall ≈ (1−θ/π)⁸ — about
    * 0.59 at cosine 0.98); the standard fix is OR-ing B independent bands:
    * recall = 1−(1−(1−θ/π)^r)^B ≈ 0.97 at B=4, r=8, cosine 0.98
    * (EmbeddingLshSmoke measures both against planted pairs). Shape: each
    * row computes B row-local band buckets, explodes to (band, bucket)
    * keys, self-joins per key, exact-cosine verifies, and UNION-dedups
    * pairs found by multiple bands. The explode multiplies shuffle volume
    * by B — the classic LSH recall-for-bandwidth trade; at 100 TB pick B
    * and r so each band's bucket count tracks corpus size (candidates per
    * bucket stay O(bucket²)).
    */
  val dedupEmbeddingLshBanded = GQuery(
    "dedup_embedding_lsh_banded",
    (s, d) => bandedEmbPairs(s, d),
    oracle = Some(
      s"""WITH ${bandedPairsCtes("eb_")}
         |SELECT va AS vec_a, vb AS vec_b, cosine FROM eb_pairs""".stripMargin),
    bench = true)

  /** Connected components over the banded embedding near-dup pair graph —
    * the embedding analog of [[dedupClusters]]: [[bandedEmbPairs]] supplies
    * the verified edges, [[starComponents]] (large-star/small-star, O(log n)
    * rounds, one action per round) labels them. At 100 TB this is THE
    * canonical semantic-dedup composition: banded recall ≈ 0.97 pair
    * generation, then transitive closure so a near-dup CHAIN collapses to
    * one representative instead of pairwise keep-lowest.
    */
  val dedupEmbeddingClusters = GQuery(
    "dedup_embedding_clusters",
    (s, d) => {
      val labels = starComponents(bandedEmbPairs(s, d)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      val sizes = labels.groupBy("rep").agg(count(lit(1)).as("csize"))
      labels.join(sizes, Seq("rep"))
        .select(col("doc_id").as("vec_id"), col("rep"), col("csize"))
    },
    oracle = Some(
      s"""WITH ${bandedPairsCtes("eb_")},
         |edges AS MATERIALIZED (
         |  SELECT va AS src, vb AS dst FROM eb_pairs
         |  UNION SELECT vb, va FROM eb_pairs),
         |${labelPropCtes()},
         |comp AS (SELECT u AS vec_id, lbl AS rep FROM comp_labels),
         |repsizes AS (SELECT rep, count(*) AS csize FROM comp GROUP BY rep)
         |SELECT c.vec_id, c.rep, s.csize
         |FROM comp c JOIN repsizes s ON c.rep = s.rep""".stripMargin),
    bench = true)

  /** Distinct verified banded-LSH near-dup pairs (vec_a < vec_b, rounded
    * cosine ≥ [[CosineThreshold]]) — the shared pair source for the banded
    * query and the corpus-clean pipeline's embedding stage. Shape: one
    * staged B×r-plane signature pass, explode to (band, bucket) keys,
    * [[LshBucketCap]] hot-bucket drop, per-key self-join, exact-cosine
    * verify, UNION-dedup across bands.
    */
  private val bandBucketFrames = new graft.DatasetMemo[DataFrame](
    Some(graft.ArtifactStore.frame("band_buckets")))

  /** Memoized staged exploded (vec_id, v, nrm, band, bucket) rows — the
    * B×r-plane sign-LSH signature pass over the embeddings corpus, built
    * once per dataset and shared by [[bandedEmbPairs]],
    * [[decontamEmbedding]] and the clustering/corpus-clean paths (each
    * used to re-run the signature pass per execution, and the two call
    * sites duplicated this construction line-for-line — a geometry
    * change now has exactly one home). The explode is row-local on the
    * staged handle.
    */
  private[operators] def explodedBandBuckets(s: SparkSession, d: String): DataFrame =
    bandBucketFrames.get(s, d, "embeddings.parquet") {
      val (bands, r) = (LshBands, LshBandPlanes)
      val bucketed = (0 until bands).foldLeft(normalizedVecs(s, d)) {
        (df, b) => SimilarityOps.withBandBucket(df, b, r, s"b$b")
      }
      Materialize.stageShared(bucketed)
        .select(col("vec_id"), col("v"), col("nrm"),
          explode(array((0 until bands).map(b =>
            struct(lit(b).as("band"), col(s"b$b").as("bucket"))): _*)).as("bb"))
        .select(col("vec_id"), col("v"), col("nrm"),
          col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    }

  private[graft] def bandedEmbPairs(s: SparkSession, d: String): DataFrame = {
    val exploded = explodedBandBuckets(s, d)
    // hot (band, bucket) keys dropped before the self-join — see
    // [[LshBucketCap]]: a degenerate embedding cluster (all-zero vectors,
    // template pages embedded identically) lands one bucket, and n²/2
    // candidate pairs on one reducer is the LSH scale-killer
    val keyed = capBuckets(exploded, Seq("band", "bucket"))
    keyed.as("a")
      .join(keyed.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", cosExpr())
      .filter(col("cos") >= CosineThreshold)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(col("cos"), 4).as("cosine"))
      .distinct()
  }

  /** Semantic benchmark decontamination — the embedding-space member of
    * the decontam family (minhash / exact n-gram / bloom are all lexical):
    * drop corpus docs whose EMBEDDING sits within [[CosineThreshold]] of
    * any benchmark doc, catching paraphrased contamination that shares no
    * n-grams with the benchmark. Shape mirrors [[decontamMinhash]] in
    * embedding space: both corpora get the banded sign-LSH buckets of
    * [[bandedEmbPairs]] (B=4 × r=8 planes, banded recall ≈ 0.97 —
    * EmbeddingLshSmoke), the BENCHMARK's (band, bucket) rows broadcast
    * (the bench side is thousands of rows at any corpus scale), corpus
    * rows probe the broadcast table — the corpus never shuffles — and
    * candidates verify with the exact cosine carried inline (vectors ride
    * the bucket rows, so no verification re-join). Bench-side buckets
    * deliberately uncapped, same reasoning as decontamMinhash: the
    * fan-out is bounded by the benchmark itself, and capping would cost
    * recall exactly on the boilerplate-shaped docs most likely to be
    * contaminated.
    *
    * BENCHMARK DERIVATION (round 16 — the non-vacuity re-arm): the bench
    * side is a PARAPHRASE STAND-IN derived in-query, not a disjoint id
    * slice. Rounds 13-15 used `vec_id % 7 = 0` as the benchmark and the
    * complement as the corpus; the r13 testdata regeneration left no
    * cross-slice pair above [[CosineThreshold]], so the query matched the
    * oracle 0 = 0 — a row in the hard gate that could never fail. Now the
    * benchmark is every `vec_id % 7 = 3` corpus vector with its LAST
    * coordinate zeroed, re-normalized, and re-bucketed: a deterministic
    * near-paraphrase (cosine to its source = ‖v₀..₆₂‖/‖v‖ ≈ 0.99) whose
    * source REMAINS in the corpus, so true semantic contamination exists
    * at every testbed sf (73 pairs at sf0.01, 305 at sf0.1 — and the LSH
    * genuinely decides: at sf0.1 five planted sources land in no shared
    * band and are correctly missed). [[GQuery.minRows]] = 1 makes the
    * vacuity regression loud if a future generation defeats this too.
    */
  val decontamEmbedding = GQuery(
    "decontam_embedding",
    (s, d) => {
      // benchmark: perturbed copies of the % 7 = 3 corpus slice — zero the
      // last coordinate BEFORE re-normalization and re-bucketing, exactly
      // as the oracle does (term-for-term identical float sums)
      val benchVecs = normalizedVecs(s, d)
        .filter(col("vec_id") % 7 === 3)
        .withColumn("v",
          expr("transform(v, (x, i) -> IF(i = 63, CAST(0 AS DOUBLE), x))"))
        .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
        .filter(col("nrm") > 0)
      val benchBucketed = (0 until LshBands).foldLeft(benchVecs) {
        (df, b) => SimilarityOps.withBandBucket(df, b, LshBandPlanes, s"b$b")
      }
      val benchSide = broadcast(benchBucketed
        .select(col("vec_id").as("bench_vec"), col("v").as("bv"),
          col("nrm").as("bnrm"),
          explode(array((0 until LshBands).map(b =>
            struct(lit(b).as("band"), col(s"b$b").as("bucket"))): _*)).as("bb"))
        .select(col("bench_vec"), col("bv"), col("bnrm"),
          col("bb.band").as("band"), col("bb.bucket").as("bucket")))
      explodedBandBuckets(s, d).filter(col("vec_id") % 7 =!= 0)
        .join(benchSide, Seq("band", "bucket"))
        .withColumn("cos",
          expr("graft_dot(v, bv)") / (col("nrm") * col("bnrm")))
        .filter(col("cos") >= CosineThreshold)
        .select(col("bench_vec"), col("vec_id").as("corpus_vec"),
          round(col("cos"), 4).as("cosine"))
        .distinct()
    },
    oracle = Some {
      val bandCols = (0 until LshBands)
        .map(b => s"${SimilarityOps.bandBucketDuck(b, LshBandPlanes)} AS b$b")
        .mkString(",\n         ")
      val bandIdx = (0 until LshBands).mkString("[", ", ", "]")
      val bandRefs = (0 until LshBands).map(b => s"b$b").mkString("[", ", ", "]")
      s"""WITH de_e AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
         |         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
         |  FROM embeddings
         |  WHERE len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL)) = 0
         |    AND NOT isnan(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
    AND list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) < CAST('Infinity' AS DOUBLE)
    AND list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) > 0),
         |de_wb AS (SELECT vec_id, v, nrm, $bandCols FROM de_e),
         |de_bb AS (
         |  SELECT vec_id, u.band, u.bucket FROM de_wb,
         |  LATERAL (SELECT unnest($bandIdx) AS band,
         |                  unnest($bandRefs) AS bucket) u),
         |de_p0 AS (
         |  SELECT vec_id AS bench_vec,
         |         list_transform(generate_series(1, 64),
         |           i -> CASE WHEN i = 64 THEN 0::DOUBLE ELSE v[i] END) AS v
         |  FROM de_e WHERE vec_id % 7 = 3),
         |de_p AS (
         |  SELECT bench_vec, v,
         |         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
         |  FROM de_p0),
         |de_pwb AS (SELECT bench_vec, v, nrm, $bandCols FROM de_p WHERE nrm > 0),
         |de_pbb AS (
         |  SELECT bench_vec, u.band, u.bucket FROM de_pwb,
         |  LATERAL (SELECT unnest($bandIdx) AS band,
         |                  unnest($bandRefs) AS bucket) u),
         |de_cand AS (
         |  SELECT DISTINCT q.bench_vec, c.vec_id AS corpus_vec
         |  FROM de_pbb q JOIN de_bb c
         |    ON q.band = c.band AND q.bucket = c.bucket
         |  WHERE c.vec_id % 7 <> 0)
         |SELECT c.bench_vec, c.corpus_vec,
         |       round(list_sum(list_transform(generate_series(1, len(a.v)),
         |             i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 4) AS cosine
         |FROM de_cand c JOIN de_wb a ON a.vec_id = c.corpus_vec
         |               JOIN de_pwb b ON b.bench_vec = c.bench_vec
         |WHERE list_sum(list_transform(generate_series(1, len(a.v)),
         |      i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) >= $CosineThreshold""".stripMargin
    },
    bench = true)

  /** DuckDB twin of [[bandedEmbPairs]] as a `p`-prefixed CTE chain ending
    * in `${p}pairs(va, vb, cosine)` — prefixing keeps the names disjoint
    * from [[MinhashPairsCte]]'s when both compose into one oracle. Only
    * compile-time-constant vals ([[LshBands]]/[[LshBandPlanes]], inlined
    * literals) may be interpolated here: this is called from eager
    * `oracle = Some{...}` blocks that run mid-object-init.
    */
  private def bandedPairsCtes(p: String): String = {
    val bandCols = (0 until LshBands)
      .map(b => s"${SimilarityOps.bandBucketDuck(b, LshBandPlanes)} AS b$b")
      .mkString(",\n         ")
    val bandIdx = (0 until LshBands).mkString("[", ", ", "]")
    val bandRefs = (0 until LshBands).map(b => s"b$b").mkString("[", ", ", "]")
    s"""${p}e AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
       |         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
       |  FROM embeddings
       |  WHERE len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL)) = 0
       |    AND NOT isnan(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
    AND list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) < CAST('Infinity' AS DOUBLE)
    AND list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) > 0),
       |${p}wb AS (SELECT vec_id, v, nrm, $bandCols FROM ${p}e),
       |${p}bb AS (
       |  SELECT vec_id, u.band, u.bucket FROM ${p}wb,
       |  LATERAL (SELECT unnest($bandIdx) AS band,
       |                  unnest($bandRefs) AS bucket) u),
       |${p}cb AS (
       |  SELECT bb.vec_id, bb.band, bb.bucket FROM ${p}bb bb
       |  JOIN (SELECT band, bucket FROM ${p}bb GROUP BY band, bucket
       |        HAVING count(*) <= $LshBucketCap) k USING (band, bucket)),
       |${p}cand AS (
       |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |  FROM ${p}cb a JOIN ${p}cb b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |${p}pairs AS (
       |  SELECT c.va, c.vb,
       |         round(list_sum(list_transform(generate_series(1, len(a.v)),
       |               i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 4) AS cosine
       |  FROM ${p}cand c JOIN ${p}wb a ON a.vec_id = c.va
       |                  JOIN ${p}wb b ON b.vec_id = c.vb
       |  WHERE list_sum(list_transform(generate_series(1, len(a.v)),
       |        i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) >= $CosineThreshold)""".stripMargin
  }

  /** vec_id, label, v (double array), nrm — the single normalization used
    * by BOTH the dedup and ANN cosine paths (SimilarityOps). Norms and dot
    * products use the native codegen DotProduct expression (primitive loop,
    * same left-to-right summation as the oracle's list_sum).
    */
  private[operators] def normalizedVecs(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(s)
    Tables.embeddings(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(
        col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
      // degenerate embeddings are EXCLUDED, identically on both engines
      // (every vec oracle CTE carries the matching WHERE): a zero vector
      // makes cosine 0/0 — NULL in Spark (row silently dropped from
      // top-k) but nan/inf in DuckDB (sorts FIRST under cos DESC) — and
      // a null ELEMENT null-poisons graft_dot while DuckDB's list_sum
      // skips nulls; either case was a cross-engine divergence, not a
      // result. nrm > 0 drops zero vectors; null elements null-poison
      // nrm itself, so the same predicate drops them too. The dimension
      // gate keeps only vectors of the table's declared width: a
      // wrong-length row (partial write, re-ingest of an older model's
      // vectors) has no cosine against this space, and left in, the
      // mismatched dot diverges by engine (the kernel walks the shorter
      // array where DuckDB's 1..len(a) subscripts null-pad the longer).
      // NOT a redundant spelling: BOTH engines evaluate NaN > 0 as TRUE
      // (the NaN-sorts-greatest total order extends to comparisons), so
      // a NaN-element vector sails through a bare nrm > 0 and crashes
      // the quantizer/Lloyd kernels downstream — the isnan and Infinity
      // guards do the real excluding (hostile vec_id 40 pins this).
      .filter(size(col("v")) === EmbeddingDim &&
        !isnan(col("nrm")) && col("nrm") < lit(Double.PositiveInfinity) &&
        col("nrm") > 0)
  }

  /** cosine between aliased sides a/b of a self-join on [[normalizedVecs]]. */
  private[operators] def cosExpr(): Column =
    expr("graft_dot(a.v, b.v)") / (col("a.nrm") * col("b.nrm"))

  val queries: Seq[GQuery] = Seq(
    dedupExact, dedupMinhashLsh, dedupNgramJaccard, dedupSimhash,
    dedupEmbeddingCosine, dedupEmbeddingLsh, dedupEmbeddingLshBanded,
    dedupEmbeddingClusters, decontamMinhash, decontamNgramExact,
    decontamBloom, decontamEmbedding, pipelineCorpusClean, dedupClusters,
    dedupSubstringWindows, dedupSubstringRuns)
}
