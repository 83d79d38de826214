package graft

/** Fingerprint-keyed per-dataset memo for build-once index artifacts (the
  * decontamination Bloom words, the staged shingle frames, the IVF and PQ
  * Lloyd models). One home for the locking + eviction policy the call
  * sites used to copy by hand. An entry is keyed by (applicationId,
  * dataset dir, fingerprint, variant); the variant names one of several
  * artifacts legitimately live at once for the same data (the Lloyd models'
  * `-k<k>-d<dims><tag>` hyperparameters), and is "" everywhere else:
  *
  *  - the BUILD runs OUTSIDE the lock: it is typically a distributed
  *    Spark job, and holding the JVM monitor across it would serialize
  *    every unrelated query that touches any memo on the same object.
  *    Concurrent cold builds of the same key race benignly — both compute,
  *    the first insert wins, the loser's value is dropped (and for staged
  *    frames the dropped reference is reclaimed by the ContextCleaner);
  *  - eviction on insert drops (a) superseded fingerprints for the same
  *    dir, whatever their variant — an in-place dataset rewrite both
  *    invalidates (new fingerprint ⇒ cache miss) and garbage-collects (old
  *    entries removed) in one step, while other variants of the current
  *    fingerprint stay — and (b) every entry from a DIFFERENT
  *    applicationId: an artifact built by a stopped SparkSession is never
  *    reusable (staged frames pin blocks of a dead SparkContext), so
  *    keeping it would leak for the JVM's lifetime in any process that
  *    restarts sessions (test suites, long-lived drivers). A live
  *    application therefore holds at most one artifact per (dataset dir,
  *    variant), all its own;
  *  - an optional [[ArtifactStore.Persistence]] writes each built artifact
  *    through to parquet and serves a fingerprint-matching persisted copy
  *    to fresh sessions — the cross-restart story for builds that take
  *    hours at 100 TB (see [[ArtifactStore]]). Its artifact key is the
  *    fingerprint followed by the variant.
  *
  * A value that GROWS after its build (the Lloyd iteration prefix) is a
  * mutable holder: the memo hands every caller the same holder, and the
  * caller extends it under the holder's own lock.
  */
final class DatasetMemo[V](
    persistence: Option[ArtifactStore.Persistence[V]] = None) {

  private val entries =
    scala.collection.mutable.Map.empty[(String, String, String, String), V]

  /** The memoized artifact for `table` under `dir` (and `variant`),
    * building it on first use (or after an in-place rewrite changed the
    * fingerprint). With a [[ArtifactStore.Persistence]] attached AND the
    * store enabled (`spark.graft.artifacts.dir` set), a cold in-memory miss
    * first tries the persisted copy keyed by the same fingerprint — a
    * fresh session then pays one parquet read instead of the build — and a
    * genuine build is written through for the next session. */
  def get(spark: org.apache.spark.sql.SparkSession, dir: String,
          table: String, variant: String = "")(build: => V): V =
    keyed(spark, dir, table, variant)(_ => build)

  /** [[get]] whose build receives the artifact key (fingerprint ++
    * variant) — for a holder that persists its own later growth. */
  def keyed(spark: org.apache.spark.sql.SparkSession, dir: String,
            table: String, variant: String)(build: String => V): V =
    at(spark, dir, DatasetFingerprint.of(dir, table), variant)(build)

  /** [[keyed]] for a caller that has already walked the data and holds
    * its fingerprint: the same key, build and eviction, no second walk. */
  private[graft] def at(spark: org.apache.spark.sql.SparkSession,
                        dir: String, fingerprint: String, variant: String)(
                        build: String => V): V = {
    val app = spark.sparkContext.applicationId
    val key = (app, dir, fingerprint, variant)
    synchronized(entries.get(key)) match {
      case Some(v) => v
      case None =>
        // outside the lock — load and build may both run Spark jobs
        val artifactKey = fingerprint + variant
        val value = persistence
          .flatMap(p => ArtifactStore.load(spark, p, dir, artifactKey))
          .getOrElse {
            val built = build(artifactKey)
            persistence.foreach(p =>
              ArtifactStore.save(spark, p, dir, artifactKey, built))
            built
          }
        synchronized {
          entries.keys
            .filter(k => k._1 != app || (k._2 == dir && k._3 != fingerprint))
            .toSeq.foreach(entries.remove)
          entries.getOrElseUpdate(key, value)
        }
    }
  }
}
