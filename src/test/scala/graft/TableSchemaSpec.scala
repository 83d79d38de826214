package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The table schema resolver behind [[Tables]]: a table's schema is
  * inferred once per (path, fingerprint, parquet inference confs), a
  * repeated read runs no Spark job, a rewrite or a conf flip re-resolves,
  * and superseded fingerprints are evicted.
  */
class TableSchemaSpec extends SparkSuite {

  /** The call-site names of the Spark jobs `f` starts on this thread. Job
    * events reach a listener asynchronously but in order, so a marker job
    * started after `f` closes the count: once its start arrives, every
    * job of `f` has been seen. */
  private def jobsOf(f: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"table-schema-spec-${java.util.UUID.randomUUID}"
    val names = new ConcurrentLinkedQueue[String]()
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) =>
            // the final stage carries the job's call site
            names.add(e.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name))
          case Some(g) if g == s"$group-marker" => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job never reported")
      names.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  private def inference(jobs: Seq[String]): Seq[String] =
    jobs.filter(_.startsWith("parquet at"))

  /** A scratch directory holding a copy of the smoke tables `names`. */
  private def scratchDataset(names: String*): String = {
    val d = Files.createTempDirectory("graft-schema-ds").toString
    names.foreach(t => Files.copy(Paths.get(smokeDir, s"$t.parquet"),
      Paths.get(d, s"$t.parquet")))
    d
  }

  test("the first read of a table runs a job; a second read runs none") {
    val d = scratchDataset("orders")
    assert(jobsOf(Tables.orders(spark, d)).nonEmpty)
    assert(jobsOf(Tables.orders(spark, d)) === Seq())
    // the explicit schema is the one inference gives
    assert(Tables.orders(spark, d).schema ===
      spark.read.parquet(s"$d/orders.parquet").schema)
  }

  test("a second execution of q3_shipping_priority and flame_cells infers nothing") {
    for (name <- Seq("q3_shipping_priority", "flame_cells")) {
      val q = SparkEntry.all.find(_.name == name).get
      q.run(spark, smokeDir).collect()
      val again = jobsOf(q.run(spark, smokeDir).collect())
      assert(again.nonEmpty, s"$name ran no job at all")
      assert(inference(again) === Seq(), s"$name inferred a schema again")
    }
  }

  test("rewriting events from µs timestamps to nanos longs re-resolves") {
    val d = Files.createTempDirectory("graft-schema-events").toString
    val path = s"$d/events.parquet"
    val source = Tables.events(spark, smokeDir)
    val micros = source.select(col("event_id"), col("ts")).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    source.write.parquet(path)
    assert(Tables.schemaOf(spark, path)("ts").dataType === TimestampType)
    assert(Tables.events(spark, d).schema("ts").dataType === TimestampType)
    // in place: same path, now the nanos-long generation of the column
    source.withColumn("ts", expr("unix_micros(ts) * 1000"))
      .write.mode("overwrite").parquet(path)
    assert(Tables.schemaOf(spark, path)("ts").dataType === LongType,
      "the rewrite was served the stale schema")
    val events = Tables.events(spark, d)
    assert(events.schema("ts").dataType === TimestampType)
    val got = events.select(col("event_id"), col("ts")).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    assert(got === micros)
  }

  test("flipping spark.sql.parquet.binaryAsString changes the resolved type") {
    // Spark stores its own schema in the footers it writes, and inference
    // prefers that schema to every conf, so write the file with parquet's
    // own writer: a bare BINARY column, as other writers leave it
    val d = Files.createTempDirectory("graft-schema-binary").toString
    val path = s"$d/blobs.parquet"
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message blobs { required binary b; }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    try writer.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("b", "graft"))
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    try {
      spark.conf.set(key, "false")
      assert(Tables.table(spark, d, "blobs").schema("b").dataType === BinaryType)
      spark.conf.set(key, "true")
      val asString = Tables.table(spark, d, "blobs")
      assert(asString.schema("b").dataType === StringType)
      assert(asString.collect().map(_.getString(0)).toSeq === Seq("graft"))
      spark.conf.set(key, "false")
      assert(Tables.table(spark, d, "blobs").schema("b").dataType === BinaryType)
    } finally spark.conf.unset(key)
  }

  test("8 concurrent first reads agree and throw nothing") {
    val d = scratchDataset("lineitem")
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val start = new CountDownLatch(1)
      val reads = (1 to 8).map(_ => Future {
        start.await()
        val df = Tables.lineitem(spark, d)
        (df.schema, df.count())
      })
      start.countDown()
      val got = Await.result(Future.sequence(reads), 5.minutes)
      assert(got.distinct.size === 1, got.distinct)
      assert(got.head._1 === spark.read.parquet(s"$d/lineitem.parquet").schema)
    } finally pool.shutdown()
  }

  test("a rewrite evicts the superseded fingerprint") {
    val d = scratchDataset("customer")
    val file = new java.io.File(d, "customer.parquet")
    val mtime = file.lastModified()
    assert(jobsOf(Tables.customer(spark, d)).nonEmpty)
    // an in-place rewrite, as the metadata fingerprint sees it
    assert(file.setLastModified(mtime + 60000))
    assert(jobsOf(Tables.customer(spark, d)).nonEmpty, "the rewrite was not re-resolved")
    assert(jobsOf(Tables.customer(spark, d)) === Seq())
    // the old metadata brings the old fingerprint back; its schema was
    // evicted when the rewrite's was inserted, so it resolves again
    assert(file.setLastModified(mtime))
    assert(jobsOf(Tables.customer(spark, d)).nonEmpty, "a superseded fingerprint was kept")
  }

  test("the stream seam resolves ts once per directory state; an empty directory is not cached") {
    val d = Files.createTempDirectory("graft-schema-stream").toFile
    val cfg = streaming.EventStream.EventSourceConfig(format = "parquet",
      path = Some(d.getAbsolutePath),
      schema = Some(streaming.EventStream.EventsFileSchema))
    // no file yet: the declared schema stands in, and is not cached, so
    // every start tries the footer again
    for (_ <- 1 to 2) {
      var stream: org.apache.spark.sql.DataFrame = null
      assert(inference(jobsOf {
        stream = streaming.EventStream.readEvents(spark, cfg)
      }).size === 1)
      assert(stream.schema("ts").dataType === TimestampType)
    }
    // the first file arrives: resolved from its footer, then from the cache
    Tables.events(spark, smokeDir).withColumn("ts", expr("unix_micros(ts) * 1000"))
      .write.mode("overwrite").parquet(d.getAbsolutePath)
    assert(inference(jobsOf(streaming.EventStream.readEvents(spark, cfg))).size === 1)
    assert(jobsOf(streaming.EventStream.readEvents(spark, cfg)) === Seq())
    assert(Tables.schemaOf(spark, d.getAbsolutePath)("ts").dataType === LongType)
  }
}
