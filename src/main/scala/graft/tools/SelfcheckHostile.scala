package graft.tools

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession

/** The standing hostile-corpus gate (round 12; promoted from round 11's
  * one-off probes, which found three latent bug families the ASCII/clean
  * testbed could never show: UTF-8-bytes-vs-code-points in the text
  * oracles, Java-vs-RE2 control-character regex semantics, and
  * degenerate-embedding NULL/nan divergence). This tool writes a FULL
  * testbed directory whose `documents` and `embeddings` tables are
  * purpose-built hostile — non-ASCII scripts (German/French/Chinese),
  * astral-plane code points (surrogate pairs), control characters
  * (CR/VT/NEL/LS/TAB), empty and single-token texts, exact and near
  * duplicates, long repetitive spans, PII shapes, NULL text and NULL
  * lang/source rows, zero-norm / null-element / whole-vector-NULL /
  * near-duplicate / tiny-norm / large-magnitude vectors — and (round 12)
  * an `events` table carrying the source rows plus a hostile tail
  * (null/malformed/regex-vs-JSON-ambiguous props, null/empty/non-ASCII
  * event types, null/negative/Long.MaxValue user ids, null/epoch/
  * pre-epoch/far-future timestamps, identical-timestamp runs, null/−0.0/
  * extreme values) — and (round 13) hostile tails on ALL SEVEN TPC-H
  * tables, the two broadcast dimensions included: NULL and duplicate
  * primary keys, dangling/NULL FKs, NaN/−0.0/huge money, off-domain and
  * metacharacter strings, name twins of every filter literal — so the
  * ENTIRE query registry runs against it through the ordinary gate:
  *
  *   sbt "runMain graft.tools.SelfcheckHostile /tmp/graft_hostile/data"
  *   sbt "runMain graft.Verify /tmp/graft_hostile/data /tmp/graft_hostile/out"
  *   python3 scripts/selfcheck.py /tmp/graft_hostile/data /tmp/graft_hostile/out
  *
  * Expected: every registered query PASSES (N/N). Any FAIL is an engine/oracle divergence the
  * standard corpus masks — exactly the class of bug this gate exists to
  * catch each round.
  */
object SelfcheckHostile {

  /** Source testbed whose non-document tables are copied verbatim. */
  val SourceDir = "/root/testdata/sf0.001"

  /** No tables are copied verbatim any more: since the round-13
    * continuation even the two tiny lookup dimensions carry hostile
    * tails — a broadcast dimension with a duplicate or NULL join key is
    * a DIFFERENT failure surface (row multiplication through every
    * downstream join, NULL group keys in n_name GROUP BYs) than a fact
    * row with a dangling FK, and only the dimension side can exercise it. */
  private val CopiedTables = Seq.empty[String]

  // ---- hostile documents ---------------------------------------------------

  final case class Doc(doc_id: Long, text: String, lang: String,
                       source: String, n_chars: Long)

  private def doc(id: Long, text: String, lang: String, source: String): Doc =
    // n_chars = CODE POINTS (both engines' length()), not UTF-16 units —
    // the astral rows exist precisely to catch a utf16-units writer
    Doc(id, text, lang, source, text.codePointCount(0, text.length).toLong)

  private[tools] def hostileDocs: Seq[Doc] = {
    val ascii1 = "the quick brown fox jumps over the lazy dog near the river bank"
    val ascii2 = "pack my box with five dozen liquor jugs before the long winter"
    val spam = Seq.fill(80)("spam").mkString(" ")
    val repeatRun = "abc abc abc " * 30
    Seq(
      doc(0, ascii1, "en", "src0"),
      doc(1, ascii1, "en", "src1"), // exact dup of 0, different source
      doc(2, ascii1 + " today", "en", "src2"), // near dup of 0
      doc(3, ascii2, "en", "src3"),
      doc(4, "Größenwahn überall: die Bäume blühen früh — ein schönes Gefühl für März",
        "de", "src4"),
      doc(5, "l'été dernier, à Noël, ça coûtait déjà très cher près de chez François",
        "fr", "src5"),
      doc(6, "数据处理引擎需要正确处理多字节字符 否则散列就会发散 这是一个测试文档",
        "zh", "src6"),
      doc(7, "mixed ascii with émojis 😀😀 and music 𝄞 plus math 𝒜𝒷𝒸 inside one line",
        "en", "src7"),
      doc(8, "line one\r\nline two\u000Bvertical\u0085nel\u2028ls\tend", "en", "src8"),
      doc(9, "", "en", "src9"), // empty text
      doc(10, "single", "en", "src0"),
      doc(11, spam, "en", "src1"), // maximal repetition
      doc(12, repeatRun.trim, "en", "src2"), // periodic run for substring ops
      doc(13, "contact john.doe@example.com or call 555-123-4567 for details now",
        "en", "src3"),
      doc(14, "Üppige ölige Äpfel — ähnlich übel wie ößige Prüfung Straße",
        "de", "src4"),
      doc(15, ascii2, "en", "src5"), // exact dup of 3
      doc(16, ascii2.replace("winter", "summer"), "en", "src6"), // near dup of 3
      doc(17, "ça va? ÇA VA! Casing across accents: É é È è Ü ü ß", "fr", "src7"),
      doc(18, "𠀀𠀁𠀂 astral-only CJK extension block text 𠀃𠀄", "zh", "src8"),
      doc(19, "tabs\tand\tmore\ttabs\tbetween\tevery\tword\there", "en", "src9"),
      doc(20, "a b c d e f g h i j k l m n o p q r s t u v w x y z", "en", "src0"),
      doc(21, "'quotes' \"double\" `back` and $dollar %percent &amp; <tag>", "en", "src1"),
      doc(22, ("z" * 300) + " " + ("y" * 200), "en", "src2"), // giant tokens
      doc(23, "Der schnelle braune Fuchs springt über den faulen Hund am Fluss",
        "de", "src3"),
      doc(24, "le renard brun rapide saute par dessus le chien paresseux du fleuve",
        "fr", "src4"),
      doc(25, ascii1.split(" ").reverse.mkString(" "), "en", "src5"), // anagram doc
      // null rows (standing since round 12): the null-text probe found
      // three divergence families the non-null corpus masked — multimodal
      // ingest NPE'd on a null payload, and the fingerprint/BPE oracles
      // folded NULL to 0 where the native kernels null-propagate
      Doc(26, null, "en", "src6", 0L), // null text
      Doc(27, "null lang and source", null, null, 20L), // null lang+source
      // case-mapping probes: code points whose lower() disagrees between
      // naive per-char folds and full Unicode case mapping (Turkish
      // dotted İ lowers to i+combining-dot in Java, ẞ to ß, final sigma
      // stays ς, the ﬁ ligature has no single-char lower)
      doc(28, "İstanbul ve ısparta: DİYARBAKIR IĞDIR kayık", "tr", "src7"),
      doc(29, "GROẞE STRAẞE und die ﬁnale Σίσυφος ΟΔΥΣΣΕΥΣ ς σ", "de", "src8"),
      // ~8 KB document (an order of magnitude above every other row):
      // stresses the per-doc loops without blowing up the GATE itself —
      // a 100 KB probe ran the ENGINE in normal time (1m50s for all 182)
      // but the oracle side's DuckUtf8 byte-expansion folds took >10 min,
      // so the standing row stays at the largest size the DuckDB replay
      // handles in seconds (per-doc asymptotics beyond this are covered
      // by the scale smokes with planted exactness, not the oracle gate)
      doc(30, {
        val rnd = new scala.util.Random(42)
        val words = Array("alpha", "beta", "gamma", "delta", "epsilon",
          "zeta", "eta", "theta", "iota", "kappa", "la\u00efc", "m\u00fcde")
        Seq.fill(1300)(words(rnd.nextInt(words.length))).mkString(" ")
      }, "en", "src9")
    )
  }

  // ---- hostile embeddings --------------------------------------------------

  final case class Vec(vec_id: Long, embedding: Array[java.lang.Float], label: Int)

  private def mk(id: Long, f: Int => Float, label: Int): Vec =
    Vec(id, Array.tabulate(64)(j => java.lang.Float.valueOf(f(j))), label)

  private[tools] def hostileVecs: Seq[Vec] = {
    def base(i: Long)(j: Int): Float =
      (((i * 31 + j * 7) % 13).toInt - 6) / 3.0f
    val normals = (0L until 30L).map(i => mk(i, base(i), (i % 10).toInt))
    val nullElem = {
      val a = Array.tabulate(64)(j => java.lang.Float.valueOf(base(31L)(j)))
      a(17) = null // one null element: excluded identically by both engines
      Vec(31L, a, 1)
    }
    normals ++ Seq(
      mk(30L, _ => 0.0f, 0), // zero norm: excluded from cosine everywhere
      nullElem,
      mk(32L, base(32L), 2),
      mk(33L, j => base(32L)(j) * 1.0001f, 3), // near-dup of 32 (cos ≈ 1)
      mk(34L, j => -base(32L)(j), 4), // opposite of 32 (cos = −1)
      mk(35L, _ => 1e-8f, 5), // tiny but nonzero norm
      // large magnitude, but inside the IVF quantizer's documented
      // exactness domain (|x| ≲ 15: the composite argmin must stay under
      // 2^53 in doubles — see KMeansOps object doc). Probing BEYOND it
      // is what established the bound: ±10³ flips a double-vs-integer
      // argmin, ±10⁶ overflows BIGINT with an ANSI CAST_OVERFLOW throw.
      mk(36L, j => if (j % 2 == 0) 10f else -10f, 6),
      Vec(37L, null, 7), // whole-vector NULL: excluded like zero-norm rows
      // wrong-length and empty vectors, standing: re-ingest/corruption
      // shapes — excluded by the declared-dimension gate on both engines
      // (a 32-dim row once crashed the Lloyd iteration and shifted three
      // ANN row sets: the kernel walks the shorter array where DuckDB
      // null-pads the longer)
      Vec(38L, Array.tabulate(32)(j => java.lang.Float.valueOf(base(38L)(j))), 8),
      Vec(39L, Array.empty[java.lang.Float], 9),
      // one NaN element: nrm becomes NaN — which BOTH engines evaluate
      // as > 0 (NaN-sorts-greatest extends to comparisons), so this row
      // sailed past the old bare nrm > 0 filter and crashed the
      // quantizer/Lloyd kernels; the explicit isnan guard in
      // normalizedVecs (and its oracle twin) is what excludes it
      Vec(40L, {
        val a = Array.tabulate(64)(j => java.lang.Float.valueOf(base(40L)(j)))
        a(5) = java.lang.Float.valueOf(Float.NaN); a
      }, 0)
    )
  }

  // ---- hostile events ------------------------------------------------------

  /** One events row; boxed field types so any column can be NULL. */
  final case class Ev(event_id: java.lang.Long, ts: java.sql.Timestamp,
                      user_id: java.lang.Long, event_type: String,
                      value: java.lang.Double, props: String)

  private def t(iso: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(iso))

  /** Appended to the source events (ids 2000+, far above the source's
    * 0..999): every field takes a turn being null, malformed, extreme, or
    * ambiguous — the shapes a 100 TB production log is guaranteed to
    * contain. Most rows are normal except for ONE hostile field, so they
    * flow deep into the per-room/per-user pipelines instead of dying at
    * the first projection.
    */
  private[tools] def hostileEventRows: Seq[Ev] = {
    def ts(off: Int) = t(f"2024-01-20T00:00:${off}%02dZ")
    val tdup = t("2024-01-21T12:00:00Z")
    Seq(
      // --- props: missing / malformed / mismatched payloads
      Ev(2000L, ts(0), 3L, "error", 10.0, null), // null props
      Ev(2001L, ts(1), 3L, "error", 10.0, "{}"), // no k key
      Ev(2002L, ts(2), 4L, "error", 10.0, "{\"j\": 5}"), // wrong key
      // no space after the colon: JSON parsers extract 95, the generator-
      // shaped regex '"k": (\d+)' does not — k > 90 so any json-vs-regex
      // disagreement between a query and its oracle becomes visible
      Ev(2003L, ts(3), 5L, "error", 10.0, "{\"k\":95}"),
      Ev(2004L, ts(4), 6L, "error", 10.0,
        "{\"k\": 999999999999999999999}"), // digits overflow BIGINT
      // invalid JSON that still MATCHES the regex: json path → NULL,
      // regex path → 96
      Ev(2005L, ts(5), 7L, "purchase", 10.0, "not json \"k\": 96 {{{"),
      Ev(2006L, ts(6), 8L, "error", 10.0, ""), // empty props
      // --- event_type: null / empty / case / non-ASCII
      Ev(2007L, ts(7), 9L, null, 10.0, "{\"k\": 3}"),
      Ev(2008L, ts(8), 10L, "", 5.0, "{\"k\": 4}"),
      Ev(2009L, ts(9), 11L, "ERROR", 5.0, "{\"k\": 5}"),
      Ev(2010L, ts(10), 12L, "café-購入", 5.0, "{\"k\": 6}"),
      // --- user_id: null / negative / extreme
      Ev(2011L, ts(11), null, "error", 5.0, "{\"k\": 7}"),
      Ev(2012L, ts(12), -5L, "error", 5.0, "{\"k\": 8}"),
      Ev(2013L, ts(13), Long.MaxValue, "error", 5.0, "{\"k\": 9}"),
      // --- ts: null / epoch / pre-epoch fractional / far future
      Ev(2014L, null, 13L, "error", 5.0, "{\"k\": 10}"),
      Ev(2015L, t("1970-01-01T00:00:00Z"), 14L, "signup", 5.0, "{\"k\": 11}"),
      Ev(2016L, t("1969-12-31T23:59:59.500Z"), 15L, "signup", 5.0, "{\"k\": 12}"),
      Ev(2017L, t("2260-01-01T00:00:00Z"), 16L, "signup", 5.0, "{\"k\": 13}"),
      // --- identical ts, one user: any per-user window ordered by ts
      // alone is nondeterministic here (a real log ALWAYS has collisions)
      Ev(2018L, tdup, 17L, "click", 1.0, "{\"k\": 14}"),
      Ev(2019L, tdup, 17L, "click", 2.0, "{\"k\": 14}"),
      Ev(2020L, tdup, 17L, "click", 3.0, "{\"k\": 14}"),
      // --- value: null / negative zero / huge / negative / rounding edge
      Ev(2021L, ts(21), 18L, "purchase", null, "{\"k\": 15}"),
      Ev(2022L, ts(22), 19L, "purchase", -0.0, "{\"k\": 16}"),
      // large but inside the documented money domain (AnalyticsOps
      // trendMoments: |value| ≲ 10¹¹ keeps the x·y moment in BIGINT for
      // the testbed's ts span; probing 10¹⁵ is what established that
      // bound — Σxy overflows long while DuckDB silently widens to
      // HUGEINT, the same double-vs-integer domain story as the IVF ±10³
      // probe)
      Ev(2023L, ts(23), 20L, "purchase", 1.0e9, "{\"k\": 17}"),
      Ev(2024L, ts(24), 21L, "purchase", -123.456, "{\"k\": 18}"),
      Ev(2025L, ts(25), 22L, "purchase", 0.005, "{\"k\": 19}"),
      // non-finite doubles (standing): one NaN once crashed 6 Spark
      // queries with ANSI overflow and 8 DuckDB oracles with conversion
      // errors — ValueE2 is TRY_CAST-tolerant since, with dq_value_domain
      // as the paired monitor
      Ev(2026L, ts(26), 23L, "purchase", Double.NaN, "{\"k\": 20}"),
      Ev(2027L, ts(27), 24L, "purchase", Double.PositiveInfinity, "{\"k\": 21}"),
      // an exact duplicate delivery (at-least-once replay shape): same
      // event_id, same everything — batch queries must count it twice
      // IDENTICALLY on both engines (streaming dedup is the dedicated
      // exactly-once operator; the batch surface does not silently dedup)
      Ev(2028L, ts(28), 25L, "click", 7.5, "{\"k\": 22}"),
      Ev(2028L, ts(28), 25L, "click", 7.5, "{\"k\": 22}"),
      // typed-payload shapes: a quoted k (JSON string, regex no-match), a
      // negative k (JSON −3; the \d+ regex sees only "3"), a float k
      // (JSON "8.5" TRY_CASTs to NULL on both engines; the regex stops at
      // the dot and reads 8) — each family must track ITS OWN parse rule
      // and its oracle twin, not the other family's
      Ev(2029L, ts(29), 26L, "error", 2.0, "{\"k\": \"87\"}"),
      Ev(2030L, ts(30), 27L, "error", 2.0, "{\"k\": -3}"),
      Ev(2031L, ts(31), 28L, "error", 2.0, "{\"k\": 8.5}")
    )
  }

  // ---- hostile TPC-H tails (round 13) --------------------------------------
  //
  // The round-12 gate copied the seven TPC-H tables verbatim, so the 21
  // TPC-H classics, the dq family, and the analytics family had never seen
  // a NULL key, a NaN price, or a duplicate primary key. These tails follow
  // the events-tail recipe: ids far above the source range (9000+), most
  // rows normal except ONE hostile field, enough referential structure
  // (orders → hostile customers, lineitems → hostile orders and REAL
  // part/supp keys) that the rows flow deep into the join pipelines
  // instead of dying at the first scan.

  final case class Cust(c_custkey: java.lang.Long, c_name: String,
                        c_nationkey: java.lang.Integer,
                        c_acctbal: java.lang.Double, c_mktsegment: String)

  private[tools] def hostileCustomerRows: Seq[Cust] = Seq(
    Cust(9000L, null, 3, 100.25, "BUILDING"), // null name
    Cust(9001L, "Customer#Ünïçødé 数据", 4, 212.75, "AUTOMOBILE"), // non-ASCII
    Cust(9002L, "", 5, 303.5, "MACHINERY"), // empty name
    Cust(9003L, "Customer#000009003", null, 404.25, "HOUSEHOLD"), // null FK
    Cust(9004L, "Customer#000009004", 999, 505.5, "FURNITURE"), // dangling FK
    Cust(9005L, "Customer#000009005", 6, null, "BUILDING"), // null acctbal
    Cust(9006L, "Customer#000009006", 7, -999.99, "AUTOMOBILE"),
    Cust(9007L, "Customer#000009007", 8, -0.0, "MACHINERY"), // negative zero
    // duplicate primary key: same custkey, DIFFERENT balances — any
    // single-row-per-key assumption in a join or dq audit shows here
    Cust(9008L, "Customer#000009008", 9, 111.5, "HOUSEHOLD"),
    Cust(9008L, "Customer#000009008", 9, 222.5, "HOUSEHOLD"),
    Cust(null, "Customer#null-key", 10, 100.5, "FURNITURE"), // NULL pk
    Cust(9010L, "Customer#000009010", 11, Double.NaN, "BUILDING"), // NaN bal
    Cust(9011L, "Customer#000009011", 12, 98765432.1, "AUTOMOBILE"), // huge
    // LIKE/regex metacharacters in the name + null segment
    Cust(9012L, "O'Brien \"100%\" C_stomer", 13, 60.5, null))

  final case class Ord(o_orderkey: java.lang.Long, o_custkey: java.lang.Long,
                       o_orderstatus: String, o_totalprice: java.lang.Double,
                       o_orderdate: java.sql.Timestamp, o_orderpriority: String)

  private[tools] def hostileOrderRows: Seq[Ord] = {
    def d(iso: String) = t(iso + "T00:00:00Z")
    Seq(
      // orders against HOSTILE customers so both sides of the hostile FK
      // edge are populated (9000 has orders; 9005..9012 stay order-less
      // for the q13/q22 anti-join paths)
      Ord(9000L, 9000L, "F", 1234.56, d("1996-03-15"), "1-URGENT"),
      Ord(9001L, 9001L, "O", 2345.67, d("1997-06-20"), "2-HIGH"),
      Ord(9002L, 9008L, "F", 3456.78, d("1998-01-10"), "3-MEDIUM"), // dup-PK cust
      Ord(9003L, null, "F", 4567.89, d("1996-08-05"), "4-NOT SPECIFIED"), // null FK
      Ord(9004L, 8888L, "O", 5678.9, d("1997-11-30"), "5-LOW"), // dangling FK
      Ord(9005L, 55L, null, 6789.25, d("1996-05-17"), "1-URGENT"), // null status
      Ord(9006L, 56L, "", 7890.5, d("1997-02-23"), "2-HIGH"), // empty status
      Ord(9007L, 57L, "X", 8901.75, d("1998-04-12"), "3-MEDIUM"), // off-domain
      Ord(9008L, 58L, "F", null, d("1996-09-09"), "4-NOT SPECIFIED"), // null price
      Ord(9009L, 59L, "O", Double.NaN, d("1997-12-25"), "5-LOW"), // NaN price
      Ord(9010L, 60L, "F", -0.0, d("1996-01-02"), "1-URGENT"), // negative zero
      Ord(9011L, 61L, "O", 987654321.09, d("1997-07-04"), "2-HIGH"), // huge
      Ord(9012L, 62L, "F", 9012.25, null, "3-MEDIUM"), // null date
      Ord(9013L, 63L, "O", 9013.5, t("1969-12-31T23:59:59.500Z"),
        "4-NOT SPECIFIED"), // pre-epoch fractional
      Ord(9014L, 64L, "F", 9014.75, d("2260-01-01"), "5-LOW"), // far future
      Ord(9015L, 65L, "O", 9015.25, d("1996-10-18"), null), // null priority
      Ord(9016L, 66L, "F", 9016.5, d("1997-03-08"), "9-MAÑANA"), // non-ASCII
      // duplicate primary key with different payloads
      Ord(9017L, 67L, "O", 1000.25, d("1996-12-01"), "1-URGENT"),
      Ord(9017L, 67L, "F", 2000.75, d("1996-12-02"), "2-HIGH"),
      Ord(null, 68L, "O", 3000.5, d("1997-05-21"), "3-MEDIUM")) // NULL pk
  }

  final case class Li(l_orderkey: java.lang.Long, l_partkey: java.lang.Long,
                      l_suppkey: java.lang.Long,
                      l_linenumber: java.lang.Integer,
                      l_quantity: java.lang.Double,
                      l_extendedprice: java.lang.Double,
                      l_discount: java.lang.Double, l_tax: java.lang.Double,
                      l_returnflag: String, l_linestatus: String,
                      l_shipdate: java.sql.Timestamp)

  private[tools] def hostileLineitemRows: Seq[Li] = {
    def d(iso: String) = t(iso + "T00:00:00Z")
    // baseline: a normal-looking line against a hostile order, real
    // part/supp keys, then one field at a time goes wrong
    def li(ok: java.lang.Long, ln: Int, qty: java.lang.Double,
           price: java.lang.Double, disc: java.lang.Double,
           tax: java.lang.Double, rf: String, ls: String,
           ship: java.sql.Timestamp): Li =
      Li(ok, (if (ok == null) 101L else ok % 200L): java.lang.Long,
        (if (ok == null) 3L else ok % 10L): java.lang.Long,
        ln, qty, price, disc, tax, rf, ls, ship)
    Seq(
      li(9000L, 1, 20.0, 30000.25, 0.05, 0.02, "N", "O", d("1996-04-01")),
      li(9000L, 2, null, 31000.5, 0.05, 0.02, "N", "O", d("1996-04-02")), // null qty
      li(9001L, 1, 0.0, 32000.75, 0.05, 0.02, "A", "F", d("1997-07-01")), // zero qty
      li(9001L, 2, -5.0, 33000.25, 0.05, 0.02, "R", "F", d("1997-07-02")), // negative
      li(9002L, 1, 1.0e6, 34000.5, 0.05, 0.02, "N", "O", d("1998-02-01")), // huge qty
      li(9003L, 1, 21.0, null, 0.05, 0.02, "A", "F", d("1996-09-01")), // null price
      li(9004L, 1, 22.0, Double.NaN, 0.05, 0.02, "N", "O", d("1997-12-01")), // NaN
      li(9005L, 1, 23.0, -0.0, 0.05, 0.02, "R", "F", d("1996-06-01")), // neg zero
      li(9006L, 1, 24.0, -500.25, 0.05, 0.02, "A", "F", d("1997-03-01")), // negative
      li(9007L, 1, 25.0, 36000.75, null, 0.02, "N", "O", d("1998-05-01")), // null disc
      li(9008L, 1, 26.0, 37000.25, 1.0, 0.02, "A", "F", d("1996-10-01")), // 100% disc
      li(9009L, 1, 27.0, 38000.5, -0.05, null, "R", "F", d("1998-01-01")), // neg disc + null tax
      li(9010L, 1, 28.0, 39000.75, 0.05, 0.02, null, "O", d("1996-02-01")), // null flag
      li(9011L, 1, 29.0, 40000.25, 0.05, 0.02, "", "", d("1997-08-01")), // empty flag+status
      li(9012L, 1, 30.0, 41000.5, 0.05, 0.02, "n", "o", d("1996-11-01")), // lowercase
      li(9013L, 1, 31.0, 42000.75, 0.05, 0.02, "Ñ", "Ø", d("1998-03-01")), // non-ASCII
      li(9014L, 1, 32.0, 43000.25, 0.05, 0.02, "N", "O", null), // null shipdate
      li(9015L, 1, 33.0, 44000.5, 0.05, 0.02, "A", "F",
        t("1969-12-31T23:59:59.500Z")), // pre-epoch fractional
      li(9016L, 1, 34.0, 45000.75, 0.05, 0.02, "N", "O", d("2260-01-01")), // far future
      // dangling part/supp FKs on an otherwise-normal line
      Li(9017L, 999999L, 888L, 1, 35.0, 46000.25, 0.05, 0.02, "A", "F",
        d("1996-07-15")),
      // duplicate (orderkey, linenumber) primary key, different payloads
      li(9017L, 2, 36.0, 1000.5, 0.01, 0.01, "N", "O", d("1996-07-16")),
      li(9017L, 2, 37.0, 2000.75, 0.02, 0.02, "N", "O", d("1996-07-17")),
      li(null, 1, 38.0, 47000.5, 0.05, 0.02, "R", "F", d("1997-01-20")), // NULL pk
      // a line attached to a REAL order (201 exists in the source): the
      // hostile tail must also perturb existing join groups, not only
      // its own id space
      Li(201L, 101L, 9L, 99, 39.0, 48000.25, 0.05, 0.02, "N", "O",
        d("1997-11-01")),
      // lines referencing the HOSTILE part/supplier tails: the dup-PK
      // part (9013) and dup-PK supplier (9009) must flow into the
      // q9-style product-profit join paths, where a one-row-per-key
      // assumption would double revenue
      Li(9000L, 9013L, 9009L, 3, 40.0, 49000.5, 0.05, 0.02, "N", "O",
        d("1996-04-03")),
      Li(9001L, 9010L, 9006L, 3, 41.0, 50000.75, 0.05, 0.02, "A", "F",
        d("1997-07-03"))) // NaN-price part, NaN-balance supplier
  }

  final case class Prt(p_partkey: java.lang.Long, p_name: String,
                       p_brand: String, p_type: String,
                       p_size: java.lang.Integer,
                       p_retailprice: java.lang.Double)

  private[tools] def hostilePartRows: Seq[Prt] = Seq(
    Prt(9000L, null, "Brand#90", "ECONOMY", 10, 900.25), // null name
    Prt(9001L, "", "Brand#91", "STANDARD", 11, 901.5), // empty name
    Prt(9002L, "pärt#Ünïcode 零件", "Brand#92", "ECONOMY", 12, 902.75),
    Prt(9003L, "part#9003", null, "PROMO", 13, 903.25), // null brand
    Prt(9004L, "part#9004", "Brand#94", null, 14, 904.5), // null type
    Prt(9005L, "part#9005", "Brand#95", "economy", 15, 905.75), // lowercase
    Prt(9006L, "part#9006", "Brand#96", "ECONOMY%_", 16, 906.25), // meta
    Prt(9007L, "part#9007", "Brand#97", "ECONOMY", null, 907.5), // null size
    Prt(9008L, "part#9008", "Brand#98", "STANDARD", -5, 908.75), // negative
    Prt(9009L, "part#9009", "Brand#99", "ECONOMY", 17, null), // null price
    Prt(9010L, "part#9010", "Brand#90", "PROMO", 18, Double.NaN), // NaN
    Prt(9011L, "part#9011", "Brand#91", "ECONOMY", 19, -0.0), // neg zero
    Prt(9012L, "part#9012", "Brand#92", "STANDARD", 20, 87654321.09), // huge
    // duplicate primary key, different payloads
    Prt(9013L, "part#9013-a", "Brand#93", "ECONOMY", 21, 913.25),
    Prt(9013L, "part#9013-b", "Brand#93", "PROMO", 22, 913.5),
    Prt(null, "part#null-key", "Brand#94", "ECONOMY", 23, 914.75)) // NULL pk

  final case class Sup(s_suppkey: java.lang.Long, s_name: String,
                       s_nationkey: java.lang.Integer,
                       s_acctbal: java.lang.Double)

  private[tools] def hostileSupplierRows: Seq[Sup] = Seq(
    Sup(9000L, null, 3, 100.25), // null name
    Sup(9001L, "", 4, 101.5), // empty name
    Sup(9002L, "Süpplier#Ünïcode 供应", 5, 102.75),
    Sup(9003L, "Supplier#9003", null, 103.25), // null FK
    Sup(9004L, "Supplier#9004", 999, 104.5), // dangling FK
    Sup(9005L, "Supplier#9005", 6, null), // null balance
    Sup(9006L, "Supplier#9006", 7, Double.NaN), // NaN balance
    Sup(9007L, "Supplier#9007", 8, -0.0), // negative zero
    Sup(9008L, "Supplier#9008", 9, -999.99),
    // duplicate primary key, different balances
    Sup(9009L, "Supplier#9009", 10, 109.25),
    Sup(9009L, "Supplier#9009", 10, 209.75),
    Sup(null, "Supplier#null-key", 11, 110.5)) // NULL pk

  final case class Nat(n_nationkey: java.lang.Integer, n_name: String,
                       n_regionkey: java.lang.Integer)

  /** Hostile nation tail (round-13 continuation). The dimension is
    * broadcast into every q5/q7/q8/q9/q10-family join, so hostility HERE
    * multiplies or voids fact rows downstream: a duplicate of real key 3
    * doubles every customer/supplier row keyed 3 through every join that
    * assumed one-row-per-key; a NULL key must match nothing; name twins
    * of the q7/q8 IN-list literals (same name new key, lowercase, LIKE
    * metacharacters) probe every name-filter's exact semantics. */
  private[tools] def hostileNationRows: Seq[Nat] = Seq(
    Nat(90, null, 0), // null name → a NULL group key in n_name GROUP BYs
    Nat(91, "", 1), // empty name
    Nat(92, "Nación Ünïcode 国家", 2), // non-ASCII
    Nat(93, "NATION_93%_", 3), // LIKE/regex metacharacters
    Nat(94, "nation_1", 4), // lowercase twin of a filtered literal
    Nat(95, "NATION_3", 0), // name-twin of a q7/q8 IN-list nation, new key
    Nat(96, "NATION_96", null), // NULL region FK
    Nat(97, "NATION_97", 99), // dangling region FK
    Nat(98, "NATION_98", 94), // points at the name-twin AMERICA region
    // duplicate PK of REAL key 3, different name and region: every
    // customer/supplier row keyed 3 now joins two nation rows
    Nat(3, "NATION_3_DUP", 2),
    Nat(null, "NATION_NULL_KEY", 0)) // NULL pk

  final case class Reg(r_regionkey: java.lang.Integer, r_name: String)

  /** Hostile region tail: the top of every geography join chain. The
    * exact-duplicate EUROPE row doubles the whole q2 min-cost branch
    * (both engines must double identically); the ASIA-keyed row with a
    * DIFFERENT name multiplies pre-filter but must vanish at the
    * r_name='ASIA' filter; name twins probe filter semantics. */
  private[tools] def hostileRegionRows: Seq[Reg] = Seq(
    Reg(90, null), // null name
    Reg(91, ""), // empty name
    Reg(92, "EUROPE%_"), // metachar twin of q2's filter literal
    Reg(93, "asia"), // lowercase twin of q5's literal
    Reg(94, "AMERICA"), // name-twin of q8's literal under a new key
    Reg(2, "ASIA_DUP"), // dup PK of the q5-filtered key, different name
    Reg(3, "EUROPE"), // EXACT duplicate row of the q2-filtered region
    Reg(null, "REGION_NULL_KEY")) // NULL pk

  // ---- writing -------------------------------------------------------------

  /** Write `df` as ONE plain parquet FILE at `target` (DuckDB's view
    * registration reads a file path, not a Spark part-file directory). */
  private def writeSingleFile(spark: SparkSession,
                              df: org.apache.spark.sql.DataFrame,
                              target: Path): Unit = {
    val tmp = target.getParent.resolve(target.getFileName.toString + ".staging")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(p =>
      p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(".parquet")).findFirst().get()
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    // drop the staging dir remnants
    Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
  }

  def writeDataset(spark: SparkSession, dataDir: String): Unit = {
    import spark.implicits._
    val dir = Paths.get(dataDir)
    Files.createDirectories(dir)
    for (t <- CopiedTables)
      Files.copy(Paths.get(SourceDir, s"$t.parquet"),
        dir.resolve(s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // customer/orders/lineitem = source rows plus hostile tails — the 21
    // TPC-H classics, the dq audits, and the analytics family run over
    // NULL keys, NaN prices, duplicate PKs, and off-domain strings
    def withTail(table: String, tail: org.apache.spark.sql.DataFrame): Unit = {
      val src = spark.read.parquet(s"$SourceDir/$table.parquet")
      writeSingleFile(spark,
        src.unionByName(tail.select(src.columns.map(c =>
          org.apache.spark.sql.functions.col(c)
            .cast(src.schema(c).dataType).as(c)): _*)),
        dir.resolve(s"$table.parquet"))
    }
    withTail("customer", hostileCustomerRows.toDF())
    withTail("orders", hostileOrderRows.toDF())
    withTail("lineitem", hostileLineitemRows.toDF())
    withTail("part", hostilePartRows.toDF())
    withTail("supplier", hostileSupplierRows.toDF())
    withTail("nation", hostileNationRows.toDF())
    withTail("region", hostileRegionRows.toDF())
    // events = source rows (ts normalized to µs by Tables.events) plus the
    // hostile tail — the whole event/game/analytics family runs over them
    writeSingleFile(spark,
      graft.Tables.events(spark, SourceDir)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .unionByName(hostileEventRows.toDF()
          .select("event_id", "ts", "user_id", "event_type", "value", "props")),
      dir.resolve("events.parquet"))
    writeSingleFile(spark, hostileDocs.toDF(),
      dir.resolve("documents.parquet"))
    writeSingleFile(spark,
      hostileVecs.toDF("vec_id", "embedding", "label")
        .selectExpr("vec_id", "CAST(embedding AS array<float>) AS embedding",
          "CAST(label AS int) AS label"),
      dir.resolve("embeddings.parquet"))
  }

  // ---- real-decoder hostile pass (round 13) --------------------------------
  //
  // The registry's multimodal queries keep the deterministic FakeDecoder
  // oracle (testbed payloads are text bytes), so the hostile gate never
  // exercised the PRODUCTION decoder seam. This pass runs extractMeta with
  // `spark.graft.multimodal.decoder=real` semantics over planted REAL
  // payloads (JDK-encoder-produced images, a WAVE-writer WAV) and planted
  // HOSTILE payloads (truncated PNG, text-bytes-as-PNG, the 0xFFFFFFF8
  // chunk-size WAV that used to hang the RIFF walk, an empty payload, a
  // video mime) — good rows must decode exact, and every bad row must fail
  // as a TYPED error naming its doc_id, through the full Spark job path.

  private def imageBytes(fmt: String, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h)
      img.setRGB(x, y, (x * 31 + y * 7) & 0xffffff)
    val out = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, fmt, out), s"no $fmt writer")
    out.toByteArray
  }

  private def wavBytes(sampleRate: Int, channels: Int, frames: Int): Array[Byte] = {
    import javax.sound.sampled._
    val fmtA = new AudioFormat(sampleRate.toFloat, 16, channels, true, false)
    val raw = Array.tabulate(frames * channels * 2)(i => (i * 13).toByte)
    val in = new AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmtA, frames.toLong)
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(in, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** RIFF/WAVE whose first chunk declares size 0xFFFFFFF8 — the hostile
    * uint32 that, narrowed to Int, made the chunk walk advance by zero
    * forever. The fixed walk must REJECT it (overrun check), not hang. */
  private def hostileWavBytes: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(12 + 8 + 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("ASCII")).putInt(0).put("WAVE".getBytes("ASCII"))
    bb.put("junk".getBytes("ASCII")).putInt(0xFFFFFFF8)
    bb.put(Array.fill[Byte](16)(7))
    bb.array()
  }

  /** Minimal spec-conformant MJPEG AVI around the JDK's own JPEG encoder
    * output (the round-18 real-pixel true-video leg): RIFF('AVI '
    * LIST(hdrl avih strl) LIST(movi 00dc…)). */
  private def aviBytes(nFrames: Int, w: Int, h: Int): Array[Byte] = {
    def le(v: Int) = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array()
    def a(s: String) = s.getBytes("ASCII")
    def chunk(id: String, body: Array[Byte]) =
      a(id) ++ le(body.length) ++ body ++
        (if (body.length % 2 == 1) Array[Byte](0) else Array.empty[Byte])
    def list(typ: String, parts: Array[Byte]*) =
      chunk("LIST", a(typ) ++ parts.flatten.toArray)
    val avih = chunk("avih", le(40000) ++ le(0) ++ le(0) ++ le(0) ++
      le(nFrames) ++ le(0) ++ le(1) ++ le(0) ++ le(w) ++ le(h) ++
      Array.fill[Byte](16)(0))
    val strl = list("strl",
      chunk("strh", a("vids") ++ a("MJPG") ++ Array.fill[Byte](48)(0)),
      chunk("strf", le(40) ++ le(w) ++ le(h) ++ Array.fill[Byte](28)(0)))
    val frames = (0 until nFrames).map { i =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h)
        img.setRGB(x, y, Seq(0xff0000, 0x00ff00, 0x0000ff)(i % 3))
      val out = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, "jpg", out), "no jpg writer")
      chunk("00dc", out.toByteArray)
    }
    val body = a("AVI ") ++ list("hdrl", avih, strl) ++ list("movi", frames: _*)
    a("RIFF") ++ le(body.length) ++ body
  }

  /** RIFF/'AVI ' whose first LIST declares size 0xFFFFFFF8 — the same
    * hostile uint32 class as [[hostileWavBytes]], against the AVI walk. */
  private def hostileAviBytes: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(12 + 8 + 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("ASCII")).putInt(0).put("AVI ".getBytes("ASCII"))
    bb.put("LIST".getBytes("ASCII")).putInt(0xFFFFFFF8)
    bb.put(Array.fill[Byte](16)(7))
    bb.array()
  }

  def realDecoderPass(spark: SparkSession): Unit = {
    import spark.implicits._
    import graft.operators.MultimodalOps
    import graft.operators.MultimodalOps.{MediaRow, RealDecoder}

    val good = Seq(
      MediaRow(1L, "image/png", imageBytes("png", 37, 21)),
      MediaRow(2L, "image/jpeg", imageBytes("jpg", 64, 48)),
      MediaRow(3L, "image/gif", imageBytes("gif", 9, 5)),
      MediaRow(4L, "image/bmp", imageBytes("bmp", 12, 7)),
      // mislabeled: PNG bytes under a JPEG mime — sniffing must win
      MediaRow(5L, "image/jpeg", imageBytes("png", 5, 9)),
      MediaRow(6L, "audio/wav", wavBytes(16000, 1, 777)),
      // true video with real pixels: MJPEG-in-AVI (round 18)
      MediaRow(7L, "video/x-msvideo", aviBytes(2, 16, 12)))
    val got = MultimodalOps.extractMeta(good.toDS(), RealDecoder)
      .collect().map(m => m.doc_id -> ((m.width, m.height, m.n_frames))).toMap
    val want = Map(
      1L -> ((37L, 21L, 1L)), 2L -> ((64L, 48L, 1L)), 3L -> ((9L, 5L, 1L)),
      4L -> ((12L, 7L, 1L)), 5L -> ((5L, 9L, 1L)), 6L -> ((16000L, 1L, 777L)),
      7L -> ((16L, 12L, 2L)))
    require(got == want, s"real-decoder good rows diverged: $got")
    // and the AVI's sampled frame decodes to REAL pixels through the full
    // executor path (every=30 over 2 frames ⇒ frame 0 only)
    val aviFrames = MultimodalOps.extractFrames(
      good.filter(_.doc_id == 7L).toDS(), every = 30).collect()
    require(aviFrames.length == 1 && aviFrames.head.frame_idx == 0L &&
      aviFrames.head.width == 16L && aviFrames.head.height == 12L &&
      aviFrames.head.delay_cs == 4L,
      s"avi frame extraction diverged: ${aviFrames.toSeq}")
    val reDecoded = RealDecoder.aviFrameImages(
      good.find(_.doc_id == 7L).get.payload, Seq(0)).head._2
    require(RealDecoder.argbCrc(reDecoded) == aviFrames.head.pixel_crc,
      "avi frame pixel CRC diverged from an independent re-decode")

    val bad = Seq(
      MediaRow(101L, "image/png", imageBytes("png", 8, 8).take(10)), // truncated
      MediaRow(102L, "image/png", "not an image at all".getBytes("UTF-8")),
      MediaRow(103L, "audio/wav", hostileWavBytes), // ex-infinite-loop chunk
      MediaRow(104L, "image/png", Array.emptyByteArray),
      MediaRow(105L, "video/mp4", imageBytes("png", 4, 4)), // unsupported family
      MediaRow(106L, "video/x-msvideo", hostileAviBytes)) // uint32 overrun LIST
    for (row <- bad) {
      val failure =
        try {
          MultimodalOps.extractMeta(Seq(row).toDS(), RealDecoder).collect()
          None
        } catch { case e: Throwable =>
          // Spark wraps the task failure; the TYPED message must survive
          Some(Iterator.iterate[Throwable](e)(_.getCause)
            .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
            .mkString(" <- "))
        }
      require(failure.isDefined,
        s"hostile payload doc_id=${row.doc_id} decoded instead of failing")
      require(failure.get.contains(s"doc_id=${row.doc_id}"),
        s"failure for doc_id=${row.doc_id} not typed per doc: ${failure.get.take(300)}")
      println(s"[hostile] real-decoder doc_id=${row.doc_id} failed typed: " +
        failure.get.replaceAll("\\s+", " ").take(140))
    }
    println(s"[hostile] real-decoder pass: ${good.size} real payloads exact, " +
      s"${bad.size} hostile payloads failed typed per doc_id")
  }

  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/tmp/graft_hostile/data")
    // fixed geometry: the written testbed must not move with the host
    val spark = graft.Session.local(workers = 4, logLevel = "ERROR")
    writeDataset(spark, dataDir)
    realDecoderPass(spark)
    println(s"[hostile] dataset written to $dataDir " +
      s"(${hostileDocs.size} docs, ${hostileVecs.size} vectors); next:")
    println(s"[hostile]   sbt 'runMain graft.Verify $dataDir <outDir>'")
    println(s"[hostile]   python3 scripts/selfcheck.py $dataDir <outDir>")
    spark.stop()
  }
}
