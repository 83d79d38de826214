package graft

import org.apache.spark.sql.Dataset

/** One policy for staging intermediates that multiple consumers walk
  * (signature corpora, pair sets, iterative labels) instead of bare
  * checkpoint calls at every site. Two tiers:
  *
  *  - [[stage]] / [[stageLazy]]: `localCheckpoint()` — executor-storage
  *    pinned, for intermediates that live and die inside one query;
  *  - [[stageShared]]: intermediates that OUTLIVE the building query
  *    (dataset-memo artifacts). With [[SharedDirConfKey]] set they become
  *    reliable checkpoint files that survive a session-wide unpersist;
  *    unset, they stage like [[stage]].
  *
  * The plan shape is identical in both tiers; only the materialization
  * medium changes, which is why it sits behind one switch rather than
  * per-call-site caveats.
  */
object Materialize {

  /** Effective shuffle parallelism for an EXPLICIT-COUNT repartition that
    * spreads a CPU-bound kernel (the §2.5 AQE-starved-stage fix): under
    * AQE partition coalescing with `coalescePartitions.initialPartitionNum`
    * set, that override — not `spark.sql.shuffle.partitions` — is the
    * intended pre-coalesce parallelism; reading the base knob raw would
    * understate it. Spark reads the override only while AQE and its
    * coalescing are both on, so with either off the base knob is the
    * truth. One helper instead of three drifting `.toInt` call sites. */
  def shuffleParallelism(spark: org.apache.spark.sql.SparkSession): Int = {
    def on(key: String) = spark.conf.get(key).toBoolean
    val initial =
      if (on("spark.sql.adaptive.enabled") &&
          on("spark.sql.adaptive.coalescePartitions.enabled"))
        spark.conf
          .getOption("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
          .flatMap(_.toIntOption).filter(_ > 0)
      else None
    initial.getOrElse(spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  /** Reliable-checkpoint dir for SHARED intermediates (the dataset-memo
    * artifacts that outlive the query that built them). A session that
    * isolates queries by unpersisting all blocks between them
    * ([[Session.releaseStaged]]) sets this key: memo frames then survive
    * the release — recompute reads the checkpoint files — while
    * query-internal iteration frames (star rounds, BFS/SSSP frontiers)
    * keep the cheap localCheckpoint path instead of paying a disk write
    * per loop round. */
  val SharedDirConfKey = "spark.graft.checkpoint.sharedDir"

  /** Stage an intermediate that OUTLIVES the building query — a
    * dataset-memo artifact handed to later queries: a reliable checkpoint
    * under [[SharedDirConfKey]] when set, else [[stage]]. */
  def stageShared[T](df: Dataset[T]): Dataset[T] =
    df.sparkSession.conf.getOption(SharedDirConfKey).filter(_.nonEmpty) match {
      case Some(dir) => reliably(df, dir)
      case None      => stage(df)
    }

  def stage[T](df: Dataset[T]): Dataset[T] =
    withRetryBarrier(df).localCheckpoint()

  /** [[stage]] for a frame that a LATER action in the SAME query is
    * guaranteed to consume (an iterative round followed by its digest,
    * a staged edge frame walked by the final count): local checkpoint
    * with eager = false, so the final-stage materialization job merges
    * into that consumer's job instead of running as its own — one fewer
    * scheduled job per staged frame (AQE still materializes the frame's
    * internal exchange stages at call time; only the last stage defers).
    * Partial consumption is safe: LocalRDDCheckpointData completes any
    * missing partitions at first-job end. */
  def stageLazy[T](df: Dataset[T]): Dataset[T] =
    withRetryBarrier(df).localCheckpoint(eager = false)

  /** Audit-only fault point (`graft.tools.Audit retry`): staged intermediates
    * are computed by their own checkpoint job, so a barrier here makes that
    * job's final stage — post-shuffle wherever the staged frame shuffles —
    * fail attempt 0 and re-execute over the written partials. */
  private def withRetryBarrier[T](df: Dataset[T]): Dataset[T] =
    if (df.sparkSession.conf
          .get(Tables.RetryFaultPostShuffleKey, "false") == "true")
      Tables.retryFaultBarrier(df)
    else df

  private def reliably[T](df: Dataset[T], dir: String): Dataset[T] = {
    val spark = df.sparkSession
    spark.sparkContext.getCheckpointDir match {
      case None => spark.sparkContext.setCheckpointDir(dir)
      // setCheckpointDir appends a random UUID segment and may qualify
      // the scheme, so "already ours" = the configured path is a
      // path-component prefix of the effective one (scheme and trailing
      // slash stripped on both sides — a bare substring test would let
      // "/a" accept "file:/abc/<uuid>"). SparkContext's dir wins once
      // set; a silently-ignored config is worse than a loud one.
      case Some(existing) =>
        def norm(p: String) =
          p.replaceFirst("^file:", "").stripSuffix("/")
        val want = norm(dir)
        val have = norm(existing)
        if (have != want && !have.startsWith(want + "/"))
          throw new IllegalStateException(
            s"a graft checkpoint dir of $dir conflicts with the " +
              s"SparkContext checkpoint dir already set to $existing; " +
              "unset one of them")
    }
    withRetryBarrier(df).checkpoint()
  }
}
