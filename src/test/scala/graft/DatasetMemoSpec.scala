package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

/** The memo rules every per-dataset index artifact shares: entries are
  * keyed by (applicationId, dir, fingerprint, variant), a new variant on
  * the same data keeps its siblings, and an in-place rewrite of the data
  * evicts everything built from the old fingerprint.
  */
class DatasetMemoSpec extends SparkSuite {

  private val Table = "embeddings.parquet"

  /** A scratch copy of the smoke embeddings table whose file the cases
    * may rewrite without touching the shared testdata. */
  private def scratchDataset(): (String, java.io.File) = {
    val d = Files.createTempDirectory("graft-memo-ds").toString
    Files.copy(Paths.get(smokeDir, Table), Paths.get(d, Table),
      StandardCopyOption.REPLACE_EXISTING)
    (d, new java.io.File(d, Table))
  }

  /** A memo whose build returns a fresh object and counts its calls. */
  private final class Counted {
    val memo = new DatasetMemo[Object]()
    var builds = 0
    def get(dir: String, variant: String): Object =
      memo.get(spark, dir, Table, variant) { builds += 1; new Object }
  }

  test("a second variant on the same dir keeps the first") {
    val (ds, _) = scratchDataset()
    val m = new Counted
    val a = m.get(ds, "-a")
    val b = m.get(ds, "-b")
    assert(m.builds === 2 && !(a eq b))
    assert(m.get(ds, "-a") eq a, "building variant -b evicted variant -a")
    assert(m.get(ds, "-b") eq b)
    assert(m.builds === 2)
  }

  test("rewriting the dataset (new fingerprint) evicts the old entries") {
    val (ds, file) = scratchDataset()
    val m = new Counted
    val a = m.get(ds, "-a")
    m.get(ds, "-b")
    val mtime = file.lastModified()
    // an in-place rewrite, as the metadata fingerprint sees it
    assert(file.setLastModified(mtime + 60000))
    val rewritten = m.get(ds, "-a")
    assert(m.builds === 3 && !(rewritten eq a), "rewrite served the stale entry")
    // restoring the old metadata brings the old fingerprint back; its
    // entries were evicted on the rewrite's insert, so both variants rebuild
    assert(file.setLastModified(mtime))
    assert(!(m.get(ds, "-a") eq a))
    m.get(ds, "-b")
    assert(m.builds === 5)
  }
}
