package graft

import java.nio.file.Files

/** The one materialization policy behind every staged intermediate:
  * localCheckpoint by default, reliable checkpoint into
  * spark.graft.checkpoint.dir when set — same data either way.
  */
class MaterializeSpec extends SparkSuite {

  test("default stages via localCheckpoint; conf switches to reliable dir") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")

    val local = Materialize.stage(df)
    assert(local.count() === 100)

    // one SparkContext serves every suite and keeps the first checkpoint
    // dir any of them set (Materialize refuses a conflicting one)
    val dir = spark.sparkContext.getCheckpointDir
      .getOrElse(Files.createTempDirectory("graft-ckpt").toString)
    def files(): Long = {
      val walk = Files.walk(java.nio.file.Paths.get(dir.stripPrefix("file:")))
      try walk.filter(Files.isRegularFile(_)).count() finally walk.close()
    }
    val before = files()
    spark.conf.set(Materialize.DirConfKey, dir)
    try {
      val reliable = Materialize.stage(df)
      assert(reliable.count() === 100)
      assert(reliable.collect().map(_.getLong(0)).sorted ===
        local.collect().map(_.getLong(0)).sorted)
      // the reliable path actually wrote RDD checkpoint data under dir
      assert(files() > before, s"expected checkpoint files under $dir")
    } finally {
      spark.conf.unset(Materialize.DirConfKey)
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
