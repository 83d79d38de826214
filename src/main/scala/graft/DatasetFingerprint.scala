package graft

/** Driver-side metadata fingerprint of one parquet table under a dataset
  * directory — the invalidation key for per-dataset memoized index
  * artifacts (the IVF coarse quantizer in KMeansOps, the decontamination
  * Bloom words in DedupOps) and for the table schemas [[Tables]] resolves.
  * Cheap (no data read — file names + lengths + mtimes only), and any
  * in-place rewrite of the table changes it.
  *
  * Known tradeoff (accepted): a rewrite that preserves every file name AND
  * length within the filesystem's mtime resolution is invisible — a content
  * checksum would close that but costs a data read; metadata-only is the
  * right price for a per-query guard. [[DatasetMemo]] evicts superseded
  * fingerprints for the same (app, dir) on insert so stale artifacts don't
  * accumulate over a long-lived application.
  */
object DatasetFingerprint {

  /** Fingerprint of `dir`/`table` (a parquet file or directory). Missing
    * paths and I/O errors degrade to a distinct (empty-walk) value instead
    * of throwing — the memo then simply never matches a healthy build.
    */
  def of(dir: String, table: String): String =
    ofFiles(new java.io.File(dir, table).getPath).getOrElse(hash(Seq.empty))

  /** Fingerprint of the files at `path`, or None when the walk finds no
    * file: a missing path, an empty directory, or a path that names no
    * local file (a URI, a glob). None of those can vouch for what a
    * reader will see, so a caller must not key a cache on them. */
  def ofFiles(path: String): Option[String] = {
    val files = walk(new java.io.File(path)).filter(_.exists)
    if (files.isEmpty) None else Some(hash(files))
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    // listFiles() returns null on I/O error or a dir vanishing mid-scan
    // (not just non-dirs) — treat that as "no children"
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .sortBy(_.getName).toSeq.flatMap(walk)
    else Seq(f)

  private def hash(files: Seq[java.io.File]): String =
    scala.util.hashing.MurmurHash3.stringHash(
      files.map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("|")
    ).toHexString
}
