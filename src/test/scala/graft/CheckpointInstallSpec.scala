package graft

import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.functions._

import graft.streaming.{EventStream, LocalCheckpointFileManager}

/** Every checkpoint write of graft's scoreboard takes the fork-free path:
  * the Session-built test session runs `killCounts` and `lastPerKey`
  * through `readEvents` for three micro-batches, and neither checkpoint
  * tree may hold a Hadoop checksum sidecar `.<name>.crc` (Spark's default
  * manager writes one beside every offset, commit, source-log and state
  * file). Spark's own state-file checksums, `<name>.crc` under
  * `spark.sql.streaming.checkpoint.fileChecksum.enabled`, are data written
  * through whichever manager is installed. Also pins both install
  * paths of the manager: `readEvents` sets it on a session that names
  * none, and leaves a session's own choice alone. */
class CheckpointInstallSpec extends SparkSuite {

  private val Key = LocalCheckpointFileManager.ConfKey
  private val Graft = classOf[LocalCheckpointFileManager].getName

  /** Three parquet files of events-shaped rows, ~25% of them kills. */
  private lazy val logDir: String = {
    val dir = Files.createTempDirectory("graft-ckinstall-log").resolve("events").toString
    def h(salt: Int) = abs(xxhash64(col("id"), lit(salt)))
    spark.range(0, 600, 1, 3).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(1767225600L) + col("id")).as("ts"),
      pmod(h(0), lit(50L)).as("user_id"),
      element_at(array(lit("error"), lit("click"), lit("view"), lit("error")),
        (pmod(h(1), lit(4L)) + 1).cast("int")).as("event_type"),
      (pmod(h(2), lit(1000L)) / 10.0).as("value"),
      concat(lit("{\"k\": "), pmod(h(3), lit(40L)), lit("}")).as("props"))
      .write.parquet(dir)
    dir
  }

  private def stream(): DataFrame = EventStream.readEvents(spark,
    EventStream.EventSourceConfig(format = "parquet", path = Some(logDir),
      options = Map("maxFilesPerTrigger" -> "1"),
      schema = Some(EventStream.EventsFileSchema)))

  private def files(root: NioPath): Seq[String] = {
    val all = Files.walk(root)
    try all.iterator().asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString).toSeq
    finally all.close()
  }

  private def sidecar(f: String): Boolean = {
    val name = f.split('/').last
    name.startsWith(".") && name.endsWith(".crc")
  }

  test("the Session-built scoreboard writes no .crc sidecar in either checkpoint tree") {
    assert(spark.conf.get(Key) === Graft)
    val root = Files.createTempDirectory("graft-ckinstall")
    val (kc, lc) = (root.resolve("kills"), root.resolve("last"))
    def sink(df: DataFrame, name: String, ck: NioPath) =
      df.writeStream.outputMode("update").format("memory").queryName(name)
        .option("checkpointLocation", ck.toString).start()
    val qs = Seq(
      sink(EventStream.killCounts(stream()), "ckinstall_kills", kc),
      sink(EventStream.lastPerKey(stream()).toDF(), "ckinstall_last", lc))
    try qs.foreach(_.processAllAvailable())
    finally qs.foreach(_.stop())
    assert(qs.map(_.lastProgress.batchId) === Seq(2L, 2L))
    Seq(kc, lc).foreach { ck =>
      val written = files(ck)
      // the trees are real: three offsets, three commits, state deltas
      Seq("offsets/2", "commits/2", "sources/0/2").foreach(f =>
        assert(written.contains(f), s"$ck lacks $f: $written"))
      assert(written.exists(_.endsWith(".delta")), s"$ck has no state file")
      assert(!written.exists(sidecar),
        s"$ck holds checksum sidecars, so a write bypassed graft's manager: " +
          written.filter(sidecar))
    }
    // the batch answer over the same three files
    val batch = spark.read.parquet(logDir)
    val streamed = spark.table("ckinstall_kills").groupBy("room", "killer")
      .agg(max("kills").as("kills"))
    assert(streamed.collect().toSet === EventStream.killCounts(batch).collect().toSet)
  }

  test("readEvents installs graft's manager on a session that names none") {
    val s = spark.newSession()
    s.conf.unset(Key)
    assert(s.conf.getOption(Key).isEmpty)
    EventStream.readEvents(s, EventStream.EventSourceConfig(format = "parquet",
      path = Some(logDir), schema = Some(EventStream.EventsFileSchema)))
    assert(s.conf.get(Key) === Graft)
  }

  test("readEvents leaves a session's own checkpoint manager as it is") {
    val s = spark.newSession()
    val sparks = classOf[FileContextBasedCheckpointFileManager].getName
    s.conf.set(Key, sparks)
    EventStream.readEvents(s, EventStream.EventSourceConfig(format = "parquet",
      path = Some(logDir), schema = Some(EventStream.EventsFileSchema)))
    assert(s.conf.get(Key) === sparks)
  }
}
