package graft

import java.nio.file.Files

/** The one materialization policy behind every staged intermediate, in
  * its two tiers: [[Materialize.stage]] and [[Materialize.stageLazy]] are
  * always localCheckpoint; [[Materialize.stageShared]] writes reliable
  * checkpoint files under [[Materialize.SharedDirConfKey]] when it is set
  * — same data either way.
  */
class MaterializeSpec extends SparkSuite {

  test("default stages via localCheckpoint; conf switches to reliable dir") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")

    // one SparkContext serves every suite and keeps the first checkpoint
    // dir any of them set (Materialize refuses a conflicting one)
    val dir = spark.sparkContext.getCheckpointDir
      .getOrElse(Files.createTempDirectory("graft-ckpt").toString)
    def files(): Long = {
      val walk = Files.walk(java.nio.file.Paths.get(dir.stripPrefix("file:")))
      try walk.filter(Files.isRegularFile(_)).count() finally walk.close()
    }
    def keys(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.getLong(0)).sorted.toSeq
    spark.conf.set(Materialize.SharedDirConfKey, dir)
    try {
      val before = files()
      val local = Materialize.stage(df)
      val lazyLocal = Materialize.stageLazy(df)
      assert(keys(local) === (1L to 100L))
      assert(keys(lazyLocal) === (1L to 100L))
      assert(files() === before, "stage/stageLazy wrote checkpoint files")

      val shared = Materialize.stageShared(df)
      assert(keys(shared) === keys(local))
      assert(files() > before, s"expected checkpoint files under $dir")
    } finally {
      spark.conf.unset(Materialize.SharedDirConfKey)
    }
  }

  test("shuffleParallelism reads initialPartitionNum only under AQE coalescing") {
    val aqe = "spark.sql.adaptive.enabled"
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val initial = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val keys = Seq(aqe, coalesce, initial)
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    val base = spark.conf.get("spark.sql.shuffle.partitions").toInt
    try {
      spark.conf.set(initial, (base + 7).toString)
      for (a <- Seq(true, false); c <- Seq(true, false)) {
        spark.conf.set(aqe, a.toString)
        spark.conf.set(coalesce, c.toString)
        assert(Materialize.shuffleParallelism(spark) ===
          (if (a && c) base + 7 else base), s"aqe=$a coalesce=$c")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
