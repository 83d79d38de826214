package graft

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LocalCheckpointFileManager

/** The checkpoint-file contract [[LocalCheckpointFileManager]] keeps for
  * Spark's metadata logs and state stores, checked on a bare Hadoop conf
  * (no Spark session): atomic publish with and without overwrite, cancel,
  * missing-path reads and deletes, filtered listing, and the Hadoop route
  * for a non-`file:` scheme. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private val conf = {
    val c = new Configuration()
    c.set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    c
  }

  private def withDir[A](body: NioPath => A): A = {
    val dir = Files.createTempDirectory("graft-ckfm")
    try body(dir)
    finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
  }

  private def manager(dir: NioPath) =
    new LocalCheckpointFileManager(new Path(dir.toUri), conf)

  private def write(fm: LocalCheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: LocalCheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: NioPath): Set[String] = dir.toFile.list().toSet

  test("overwrite replaces the content and drops a stale .crc sidecar") {
    withDir { dir =>
      val fm = manager(dir)
      val p = new Path(dir.toUri.toString, "1.delta")
      write(fm, p, "first", overwrite = true)
      Files.write(dir.resolve(".1.delta.crc"), Array[Byte](1, 2, 3))
      write(fm, p, "second", overwrite = true)
      assert(read(fm, p) === "second")
      assert(names(dir) === Set("1.delta"))
    }
  }

  test("no-overwrite onto an existing file throws, keeps the target, leaves no temp file") {
    withDir { dir =>
      val fm = manager(dir)
      val p = new Path(dir.toUri.toString, "0")
      write(fm, p, "winner", overwrite = false)
      intercept[FileAlreadyExistsException](write(fm, p, "loser", overwrite = false))
      assert(read(fm, p) === "winner")
      assert(names(dir) === Set("0"))
    }
  }

  test("cancel leaves neither the temp file nor the target") {
    withDir { dir =>
      val fm = manager(dir)
      val p = new Path(dir.toUri.toString, "sub/2")
      val out = fm.createAtomic(p, overwriteIfPossible = false)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      assert(!fm.exists(p))
      assert(names(dir.resolve("sub")).isEmpty)
    }
  }

  test("open of a missing path throws FileNotFoundException; delete of one is a no-op") {
    withDir { dir =>
      val fm = manager(dir)
      val missing = new Path(dir.toUri.toString, "nope")
      intercept[FileNotFoundException](fm.open(missing))
      fm.delete(missing)
      assert(!fm.exists(missing))
    }
  }

  test("delete is recursive") {
    withDir { dir =>
      val fm = manager(dir)
      write(fm, new Path(dir.toUri.toString, "state/0/1/1.delta"), "x", overwrite = true)
      fm.delete(new Path(dir.toUri.toString, "state"))
      assert(names(dir).isEmpty)
    }
  }

  test("list honours its filter and hides .crc sidecars") {
    withDir { dir =>
      val fm = manager(dir)
      Seq("0", "1", "2.compact").foreach(n =>
        write(fm, new Path(dir.toUri.toString, n), n, overwrite = false))
      Files.write(dir.resolve(".0.crc"), Array[Byte](1))
      val digits: PathFilter = p => p.getName.forall(_.isDigit)
      assert(fm.list(new Path(dir.toUri), digits).map(_.getPath.getName).toSet ===
        Set("0", "1"))
      assert(fm.list(new Path(dir.toUri)).map(_.getPath.getName).toSet ===
        Set("0", "1", "2.compact"))
    }
  }

  test("a countfs:// path goes through Hadoop, not java.nio") {
    withDir { dir =>
      val root = new Path(s"countfs://${dir.toUri.getPath}")
      val fm = new LocalCheckpointFileManager(root, conf)
      CountingLocalFs.reset()
      val p = new Path(root, "0")
      write(fm, p, "via hadoop", overwrite = false)
      assert(CountingLocalFs.renameCalls.get() >= 1)
      assert(read(fm, p) === "via hadoop")
      intercept[FileAlreadyExistsException](write(fm, p, "again", overwrite = false))
    }
  }
}
