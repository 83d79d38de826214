package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command-line arguments of one run. */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, data: File, work: File, digests: File, traceOut: File) {
  def runId: String = s"$workload-seed$seed"
}

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") == "1", new File(get("data")), new File(get("work")),
      new File(get("digests")), new File(get("trace-out")))
  }
}

/** One run's session, measurement state and bookkeeping. Every directory it
  * writes lives under `args.work`, which the caller deletes at exit. */
final class Harness(val args: Args) {
  val spans = new Spans(args.trace, args.runId)
  val probe: Option[Probe] = if (args.trace) Some(new Probe) else None
  var spark: SparkSession = _

  /** Worker threads and shuffle partitions: the cores this process may run
    * on (availableProcessors follows the CPU affinity mask). */
  val cpus: Int = Runtime.getRuntime.availableProcessors()

  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val detail = mutable.LinkedHashMap.empty[String, Any]

  def dir(name: String): File = {
    val d = new File(args.work, name)
    d.mkdirs()
    d
  }

  def master: String = s"local[$cpus]"

  /** A session confined to this run: its own Spark local dir, warehouse,
    * artifact store and shared checkpoint directory. */
  def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName(s"perfbench-${args.runId}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", dir("warehouse").getAbsolutePath)
      // the registry's generated classes all stay cached, as in graft.Bench
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.conf.set(graft.ArtifactStore.DirConfKey, dir("artifacts").getAbsolutePath)
    s.conf.set(graft.Materialize.SharedDirConfKey, dir("checkpoints").getAbsolutePath)
    s
  }

  /** The engine's session functions, registered the way graft.Bench does. */
  def registerFunctions(s: SparkSession): Unit = {
    graft.functions.VectorExpressions.ensureRegistered(s)
    graft.functions.TopKAggregate.ensureRegistered(s)
    graft.functions.CosineTopKAggregate.ensureRegistered(s)
    graft.functions.QuantileSketchAggregate.ensureRegistered(s)
    graft.functions.KmvSketchAggregate.ensureRegistered(s)
    graft.functions.FlameRayGenerator.ensureRegistered(s)
  }

  /** Set up `reps` times: session, function registration, `prepare`
    * (input copy or generation) and [[warmUp]]. The first set-up is timed
    * from JVM start; each later one stops the session, runs `unprepare` and
    * starts over. The last session stays open for the workload. setup_s is
    * the median; the first set-up is always the slowest. */
  def setup(reps: Int)(prepare: SparkSession => Unit)(unprepare: () => Unit)
      : Seq[Double] = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    (0 until reps).map { i =>
      val t0 = System.nanoTime()
      if (i > 0) { spark.stop(); unprepare() }
      spark = newSession()
      registerFunctions(spark)
      prepare(spark)
      warmUp(spark)
      val sec = (System.nanoTime() - t0) / 1e9
      if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 else sec
    }
  }

  /** The session's first jobs: a scan, an aggregation and a shuffle. The
    * JVM pays several seconds for its first Spark job whatever the job is;
    * without this the cold pass would charge it to its first query. */
  def warmUp(s: SparkSession): Unit =
    noop(s.range(0, 100000, 1, cpus).selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").sum("v"))

  def installProbe(): Unit = probe.foreach(_.install(spark))

  /** Seconds since JVM start at the end of each phase of the run, for the
    * run record: where a run's time goes. */
  val phaseEnds = mutable.LinkedHashMap.empty[String, Double]
  def phaseEnd(name: String): Unit = phaseEnds(name) =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Run `body`, counting it as one attempted operation; a throw counts as
    * a failure and yields None. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[perfbench] FAILED $what")
        e.printStackTrace()
        None
    }
  }

  def fail(what: String): Unit = {
    failures += what
    System.err.println(s"[perfbench] FAILED $what")
  }

  /** Materialise every output column without collecting it. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Drop the blocks a query pinned (as graft.Bench does between queries)
    * and return how many persistent RDDs there were. Memo frames staged
    * under the shared checkpoint directory survive: their files stay. */
  def release(): Int = {
    val pinned = spark.sparkContext.getPersistentRDDs.values.toSeq
    pinned.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    pinned.size
  }

  def cpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e9
      case _ => sys.error("process CPU time is not available on this JVM")
    }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Heap in use after full collections: what the run left reachable. */
  def liveHeapMb: Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  def stamp: Map[String, Any] = Map(
    "nproc" -> cpus,
    "master" -> master,
    "shuffle_partitions" -> cpus,
    "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "seed" -> args.seed,
    "seconds" -> args.seconds,
    "trace" -> args.trace,
    "spark" -> org.apache.spark.SPARK_VERSION,
    "java" -> System.getProperty("java.version"))

  def writeTrace(): Unit =
    if (args.trace) {
      args.traceOut.getParentFile.mkdirs()
      java.nio.file.Files.writeString(args.traceOut.toPath, spans.toJson)
    }
}

object Fs {
  def copyTree(from: File, to: File): Unit = {
    to.mkdirs()
    from.listFiles().sortBy(_.getName).foreach { f =>
      val dst = new File(to, f.getName)
      if (f.isDirectory) copyTree(f, dst)
      else java.nio.file.Files.copy(f.toPath, dst.toPath)
    }
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  def sizeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(sizeBytes).sum).getOrElse(0L)
    else f.length()
}
