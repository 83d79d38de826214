package graft.streaming

import java.io.{BufferedOutputStream, File}
import java.nio.file.{FileSystemException, Files, FileAlreadyExistsException => NioFileExists, LinkOption, StandardCopyOption, Path => NioPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException, FileStatus, Path, PathFilter, RawLocalFileSystem, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager of graft's streaming queries: offsets,
  * commits, source logs and state-store files (HDFS-backed and RocksDB)
  * under a `file:` path are written with `java.nio`, starting no process.
  *
  * Spark's default manager goes through Hadoop's `FileContext`, and
  * Hadoop's local file system without native libhadoop shells out: a
  * `readlink` per link-status check of every rename, a `chmod` per create
  * and mkdir. On a micro-batch that is ~100 child processes, which made
  * the state-store commit, not the fold, the cost of a short batch.
  *
  * Writes for `file:` paths: the temp file is written in the target's
  * directory and published with an atomic move (overwrite) or a hard link
  * (no overwrite; an existing target raises Hadoop's
  * `FileAlreadyExistsException`, which `HDFSMetadataLog` reports as a
  * concurrent writer, and the temp file is removed either way). No
  * fsync and no `.crc` sidecars, as Hadoop's local file system. A sidecar
  * left by Spark's own manager is removed with the file it guards, so a
  * checkpoint can move between the two managers in either direction.
  * Reads (`open`, `list`) go through a `RawLocalFileSystem`, which forks
  * nothing on these calls.
  *
  * Any other scheme gets the manager `CheckpointFileManager.create` would
  * pick: FileContext-based, or FileSystem-based when the scheme has no
  * `AbstractFileSystem`.
  *
  * Installed through Spark's `spark.sql.streaming.checkpointFileManagerClass`
  * by [[graft.Session.local]] and [[EventStream.readEvents]]; a value the
  * session already carries wins.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  private val local = fs.getUri.getScheme == "file"

  /** The manager Spark would build for a non-local `path`; `None` means
    * the FileSystem-based manager this class extends. */
  private val hadoop: Option[CheckpointFileManager] =
    if (local) None
    else try Some(new FileContextBasedCheckpointFileManager(path, hadoopConf))
    catch { case _: UnsupportedFileSystemException => None }

  private lazy val raw = {
    val r = new RawLocalFileSystem()
    r.initialize(fs.getUri, hadoopConf)
    r
  }

  private def nio(p: Path): NioPath = new File(fs.makeQualified(p).toUri.getPath).toPath

  /** Spark's manager writes `.<name>.crc` beside every local file. */
  private def crcOf(p: NioPath): NioPath = p.resolveSibling(s".${p.getFileName}.crc")

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    hadoop.fold(super.createAtomic(p, overwriteIfPossible))(_.createAtomic(p, overwriteIfPossible))

  override def createTempFile(p: Path): FSDataOutputStream =
    if (!local) super.createTempFile(p)
    else {
      val f = nio(p)
      Files.createDirectories(f.getParent)
      new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(f), 1 << 16), null)
    }

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    if (!local) super.renameTempFile(src, dst, overwriteIfPossible)
    else {
      val (s, d) = (nio(src), nio(dst))
      if (overwriteIfPossible) Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
      else try {
        try Files.createLink(d, s)
        catch {
          // a file system without hard links: check-then-move, not atomic
          case e @ (_: UnsupportedOperationException | _: FileSystemException)
              if !e.isInstanceOf[NioFileExists] => Files.move(s, d)
        }
      } catch {
        case _: NioFileExists => throw new FileAlreadyExistsException(s"$dst already exists")
      } finally Files.deleteIfExists(s): Unit
      Files.deleteIfExists(crcOf(d))
    }

  override def open(p: Path): FSDataInputStream =
    if (local) raw.open(p) else hadoop.fold(super.open(p))(_.open(p))

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    if (!local) hadoop.fold(super.list(p, filter))(_.list(p, filter))
    else raw.listStatus(p, (q: Path) =>
      !(q.getName.startsWith(".") && q.getName.endsWith(".crc")) && filter.accept(q))

  override def mkdirs(p: Path): Unit =
    if (local) Files.createDirectories(nio(p)): Unit
    else hadoop.fold(super.mkdirs(p))(_.mkdirs(p))

  override def exists(p: Path): Boolean =
    if (local) Files.exists(nio(p)) else hadoop.fold(super.exists(p))(_.exists(p))

  override def delete(p: Path): Unit =
    if (!local) hadoop.fold(super.delete(p))(_.delete(p))
    else {
      def rm(f: NioPath): Unit = {
        if (Files.isDirectory(f, LinkOption.NOFOLLOW_LINKS)) {
          val children = Files.list(f)
          try children.forEach(c => rm(c)) finally children.close()
        }
        Files.deleteIfExists(f): Unit
      }
      val f = nio(p)
      rm(f)
      Files.deleteIfExists(crcOf(f)): Unit
    }

  override def createCheckpointDirectory(): Path =
    if (!local) hadoop.fold(super.createCheckpointDirectory())(_.createCheckpointDirectory())
    else {
      val q = fs.makeQualified(path)
      Files.createDirectories(nio(q))
      q
    }
}

object LocalCheckpointFileManager {
  /** Spark's key naming the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"
}
