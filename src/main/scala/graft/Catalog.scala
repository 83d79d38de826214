package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** One named engine query: the Spark implementation plus (where SQL-expressible)
  * an equivalent ANSI-SQL oracle the driver runs in DuckDB over the same parquet
  * tables. Names referenced from SURVEY.md §2 (Q:`name` markers).
  *
  * @param name   stable query id (key in SparkEntry.queries)
  * @param run    (session, sfDir) => result DataFrame. Column names MUST match
  *               the oracle's aliases exactly (driver compare is by-name).
  * @param oracle DuckDB-compatible SQL over tables named region/nation/customer/
  *               supplier/part/orders/lineitem/events/documents/embeddings.
  *               None => driver records a weaker rows-only check.
  * @param bench  member of the headline benchmark set run by graft.Bench.
  * @param minRows NON-VACUITY manifest: the minimum row count this query
  *               must return on EVERY driver testbed sf (0.001 and up).
  *               The oracle gate hashes Spark against DuckDB, but a 0 = 0
  *               match proves nothing about the operator's logic — that
  *               exact failure class shipped once (`decontam_embedding`
  *               went silently 0-row for three rounds after a testdata
  *               regeneration removed its only qualifying pairs, and the
  *               hash gate stayed green). Enforced in RegistrySpec (every
  *               query, sf0.001) and by graft.Verify at the driver's sf
  *               (loud [verify] NONVACUITY lines + nonvacuity.json).
  *               Default 1 — every registered query is intended nonempty;
  *               a genuinely may-be-empty query must opt out with an
  *               explicit 0 and a comment saying why.
  */
final case class GQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    bench: Boolean = false,
    minRows: Long = 1L,
    smokeMinRows: Option[Long] = None) {

  /** The manifest floor that applies when verifying against `sfDir`.
    * `minRows` is the DRIVER-GATE contract (sf0.01 and up, where
    * CORRECTNESS runs — the hash gate this manifest exists to protect);
    * a query whose result is legitimately empty at the sf0.001 smoke
    * tier (a fixed benchmark threshold no tiny corpus crosses, a
    * recall<1 sketch with no collisions among 500 rows) declares that
    * with an explicit `smokeMinRows = Some(0)` AND a justification
    * comment. The relaxed floor applies ONLY to an explicit allowlist
    * of tiny-corpus dirs — the sf0.001 smoke tier and the hostile gate
    * (whose tables derive from sf0.001-sized sources); every other dir,
    * including future sf1/sf10 tiers or renamed gate dirs, defaults to
    * the STRICT contract, so an unrecognized path can never silently
    * weaken the gate (the prior substring test on 'sf0.01'/'sf0.1' did
    * exactly that for unknown names, and also mis-fired on e.g.
    * 'sf0.15'). Matching is by PATH SEGMENT, not substring: the sf tier
    * must be a whole component ('.../sf0.001/...'), so a hypothetical
    * 'sf0.0015' dir stays strict; the hostile gate matches any segment
    * carrying 'hostile' (its dir is .../graft_hostile/data). */
  def minRowsAt(sfDir: String): Long = {
    val segments = sfDir.split('/').filter(_.nonEmpty)
    if (segments.contains("sf0.001") || segments.exists(_.contains("hostile")))
      smokeMinRows.getOrElse(minRows)
    else minRows
  }
}

/** Loaders for the driver testbed (TESTDATA.md). One parquet file per table.
  *
  * Every load reads with an explicit schema that [[schemaOf]] resolved
  * once. A parquet read given no schema infers one on each call, and
  * parquet inference is a Spark job plus its driver-side closure cleaning
  * and scheduling, 60–85 ms of wall per read at sf0.01 on a 4-core box:
  * at that scale it would be the first job of nearly every query, and a
  * three-table join would pay it three times. The resolver keys a
  * table's schema by
  *  - its path — the memo evicts per key directory, and a key per table
  *    keeps one dataset's ten tables from evicting each other;
  *  - its [[DatasetFingerprint]] — an in-place rewrite (`Audit layout`
  *    checks exactly that) re-resolves;
  *  - the session's explicitly set `spark.sql.parquet.*` and
  *    `spark.sql.legacy.parquet.*` values, which change what inference
  *    returns: [[events]]' `nanosAsLong` switch, `binaryAsString`,
  *    `Audit mode`'s row-reader axis.
  * It keeps [[DatasetMemo]]'s policy: resolve outside any lock (concurrent
  * first reads both infer, the first insert wins), and on insert evict the
  * superseded fingerprints of the same table and every entry of a stopped
  * application. A path whose walk finds no file (missing, empty, a URI
  * or a glob) is inferred on every call and never cached.
  */
object Tables {

  /** Opt-in task-retry fault injection (see `graft.tools.Audit retry`).
    * When this session conf is "true", every table load gains a
    * pass-through barrier whose task FAILS on its first attempt — so the
    * scan stage of every registry query executes under real Spark task
    * retry (requires a `local[N, maxFailures>1]` master). The audit proves
    * retries are invisible: on a 1000-executor cluster task attempts are
    * routine (preemption, spot loss, OOM-kills), and any answer that
    * depends on attempt-level side effects or per-attempt non-determinism
    * is wrong at scale in a way no single-attempt gate can see.
    *
    * Plan-shape side effect, deliberate and audit-only: the mapPartitions
    * barrier deserializes to objects right above the scan, so filter and
    * column pushdown into the parquet read are BLOCKED while the fault
    * conf is on — the faulted run executes full-width scans. Result
    * equality is unaffected (the barrier is a pass-through), but a
    * faulted-run plan diff or runtime/memory profile is NOT comparable to
    * the production plan; don't read one as a regression. */
  val RetryFaultKey = "spark.graft.test.retryFault"

  /** Companion fault point for POST-SHUFFLE stages: when "true",
    * [[graft.Materialize.stage]] inserts a [[retryFaultBarrier]] above the
    * frame it checkpoints, and `graft.tools.Audit retry` wraps every
    * query's RESULT frame the same way — so the final stage (downstream of
    * the query's last Exchange wherever one exists) fails attempt 0 and
    * re-executes its merge over the already-written shuffle partials. That
    * is the stage class where nondeterministic partial-aggregate merges
    * silently diverge, and the one the scan-side fault can never reach:
    * local mode cannot produce the fetch failures that retry interior
    * shuffle stages, but a task-level throw inside a post-shuffle stage
    * retries fine under `local[N, maxFailures>1]`. */
  val RetryFaultPostShuffleKey = "spark.graft.test.retryFaultPostShuffle"

  /** Pass-through barrier whose task throws on attempt 0 — the shared
    * mechanic behind both fault points. Generic so [[graft.Materialize]]
    * can wrap any staged Dataset; rows are forwarded untouched on the
    * retry attempt. */
  def retryFaultBarrier[T](ds: org.apache.spark.sql.Dataset[T])
      : org.apache.spark.sql.Dataset[T] =
    ds.mapPartitions { it =>
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0)
        throw new RuntimeException(
          s"graft-injected retry fault (stage=${tc.stageId()} " +
            s"partition=${tc.partitionId()} attempt=0)")
      it
    }(ds.encoder)

  private def injectRetryFault(df: DataFrame): DataFrame =
    retryFaultBarrier(df)

  private val schemas = new DatasetMemo[StructType]()

  /** The explicitly set session confs that parquet inference reads. */
  private def inferenceConfs(spark: SparkSession): String =
    spark.conf.getAll.toSeq
      .filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") ||
          k.startsWith("spark.sql.legacy.parquet.") }
      .sorted.mkString(",")

  /** The schema Spark infers for the parquet data at `path`, resolved once
    * per (path, fingerprint, inference confs). Also the stream seam's
    * footer probe ([[graft.streaming.EventStream.readEvents]]). */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType = {
    def infer = spark.read.parquet(path).schema
    DatasetFingerprint.ofFiles(path) match {
      case Some(fp) => schemas.at(spark, path, fp, inferenceConfs(spark))(_ => infer)
      case None     => infer
    }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(schemaOf(spark, path)).parquet(path)
    if (spark.conf.get(RetryFaultKey, "false") == "true") injectRetryFault(df)
    else df
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** The events table's `ts` physical type has varied across driver
    * testdata generations: nanosecond parquet timestamps (which Spark's
    * vectorized reader rejects — read as a nanos long via the legacy conf
    * and rebuild), or plain µs timestamps (NTZ under the modern writer).
    * Normalize BY INSPECTING the resolved schema so either generation
    * yields the same µs TimestampType column (session tz is pinned UTC, so
    * the NTZ→LTZ cast is value-preserving).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    normalizeTs(raw)
  }

  /** ts normalization shared with the streaming reader (same two physical
    * encodings arrive through readStream). */
  def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", nanosColToMicrosTs("ts"))
      case org.apache.spark.sql.types.TimestampType => raw
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case other =>
        // fail LOUDLY at the single choke point built to absorb encoding
        // changes — a silent cast would turn the next generation flip into
        // a hash-mismatch hunt across every events query
        throw new IllegalStateException(
          s"events.ts: unsupported physical type $other — " +
            "extend Tables.normalizeTs for this testdata generation")
    }

  /** Nanos-long column → µs TimestampType via INTEGER division: epoch nanos
    * (~1.7e18) exceed double's 53-bit mantissa, so `/ 1000` through double
    * can be off by a microsecond. Shared by batch and streaming readers.
    */
  def nanosColToMicrosTs(name: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(
      s"timestamp_micros(CAST($name div 1000 AS BIGINT))")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  val All: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every testbed table as a session temp view so users can query
    * the engine through `spark.sql(...)` directly (the oracle SQL's ANSI
    * subset runs unchanged — SqlParitySpec pins that). `events` goes through
    * [[events]] so the nanosecond-timestamp rebuild applies to the view too.
    */
  def registerViews(s: SparkSession, dir: String): Unit =
    All.foreach {
      case "events" => events(s, dir).createOrReplaceTempView("events")
      case t        => table(s, dir, t).createOrReplaceTempView(t)
    }
}
