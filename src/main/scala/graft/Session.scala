package graft

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** The one local-session recipe behind every graft main and the test
  * suite: `local[workers]` with as many shuffle partitions, UTC session
  * time, no UI, a generated-class cache that holds the whole registry
  * (the default 100 entries thrash across 180+ queries and re-pay Janino
  * compiles inside whichever query runs next), DSV2 key-grouped reads
  * (GameEventsSource aggregates shuffle-free), streaming checkpoints
  * written by [[streaming.LocalCheckpointFileManager]] (Spark's default
  * manager forks `readlink`/`chmod` per checkpoint file on a local path),
  * and graft's optimizer rules and graft_* native functions installed once
  * ([[functions.GraftExtensions]], so `join_range_bucketed`'s naive range
  * join gets its bucketed plan).
  *
  * Per-tool confs go through `conf` and win over the recipe. Tools whose
  * output or gate depends on a fixed worker count pass `workers`
  * explicitly; everything else follows `SPARK_GRAFT_CPUS`.
  */
object Session {

  /** Worker threads (and shuffle partitions) of a local session:
    * `SPARK_GRAFT_CPUS` when set, else the cores this process may run on.
    * Validated up front: the bench interpolates the count into its JSON
    * lines as a bare number, and its calibration pin is defined at an
    * explicit worker count, so '*' (local[*]) is rejected. */
  def workers: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors()
    case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(sys.error(
      s"SPARK_GRAFT_CPUS must be a positive integer worker count, got " +
        s"'$s' ('*'/local[*] is not benchable: the calibration pin is " +
        "defined at an explicit cpu count)"))
  }

  def local(workers: Int = Session.workers,
            conf: Map[String, String] = Map.empty,
            logLevel: String = "WARN"): SparkSession = {
    val builder = SparkSession.builder()
      .withExtensions(new functions.GraftExtensions)
      .master(s"local[$workers]")
      .config("spark.sql.shuffle.partitions", workers.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config(streaming.LocalCheckpointFileManager.ConfKey,
        classOf[streaming.LocalCheckpointFileManager].getName)
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    installFunctions(spark)
    spark
  }

  /** Register every graft_* native function in `spark`; a name the
    * session's registry already holds is left alone, so repeating this
    * (or any single `ensureRegistered`) replaces nothing. */
  def installFunctions(spark: SparkSession): Unit = {
    functions.VectorExpressions.ensureRegistered(spark)
    functions.TopKAggregate.ensureRegistered(spark)
    functions.CosineTopKAggregate.ensureRegistered(spark)
    functions.QuantileSketchAggregate.ensureRegistered(spark)
    functions.KmvSketchAggregate.ensureRegistered(spark)
    functions.FlameRayGenerator.ensureRegistered(spark)
  }

  /** Run `body` with `rule` excluded from `spark`'s optimizer, then restore
    * the exclusion list: the rule-free baseline a rewrite is compared with.
    * Plans are optimized lazily, so `body` must plan (and run) its frames
    * itself. */
  def withoutRule[T](spark: SparkSession, rule: Rule[LogicalPlan])(body: => T): T = {
    val key = SQLConf.OPTIMIZER_EXCLUDED_RULES.key
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, (prior.toSeq :+ rule.ruleName).mkString(","))
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Temp dirs [[shareCheckpoints]] created, deleted by [[stop]]. */
  private val createdDirs = new java.util.concurrent.ConcurrentLinkedQueue[File]

  /** Give memo-held frames reliable checkpoint files
    * ([[Materialize.SharedDirConfKey]]) so they survive [[releaseStaged]]:
    * a dataset memo hands its staged frame to LATER queries, and under
    * plain localCheckpoint staging that reuse throws
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND once the blocks are dropped.
    * Query-internal staging (star rounds, BFS/SSSP frontiers) keeps the
    * cheap localCheckpoint path. Reuses the SparkContext's checkpoint dir
    * when one is already set (Materialize refuses a conflicting one);
    * otherwise creates a temp dir that [[stop]] deletes. */
  def shareCheckpoints(spark: SparkSession): String = {
    val dir = spark.sparkContext.getCheckpointDir.getOrElse {
      val d = java.nio.file.Files.createTempDirectory("graft_ckpt").toFile
      createdDirs.add(d)
      d.getAbsolutePath
    }
    spark.conf.set(Materialize.SharedDirConfKey, dir)
    dir
  }

  /** Drop every block pinned by staging during the query that just
    * finished, so each query is self-contained: at larger SF the
    * accumulated pins would force storage eviction and GC churn that
    * bleeds into later timings. */
  def releaseStaged(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
  }

  /** Stop `spark` and delete the checkpoint dirs [[shareCheckpoints]]
    * created: they are session-scoped cache, not data. */
  def stop(spark: SparkSession): Unit = {
    spark.stop()
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete(): Unit
    }
    Iterator.continually(createdDirs.poll()).takeWhile(_ != null).foreach(rm)
  }
}
