package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local()
    // UNARMED by default (reversed from round 17 per ADVICE r18): Verify
    // is the CORRECTNESS gate, and with the store armed a populated
    // graft_artifacts/ would make the gate verify loaded parquet instead
    // of executing the index-builder code paths — a builder regression
    // would pass until someone cleared the store, with staleness
    // protection resting entirely on a hand-bumped FormatVersion. Every
    // verify run now executes every builder (Lloyd training, band/Bloom
    // builds — cheap at gate SF); graft.Bench keeps the store armed
    // because it measures the production steady state, and its detail
    // JSON stamps which configuration it measured. Opt in explicitly via
    // SPARK_GRAFT_ARTIFACTS_DIR to verify a store-armed deployment.
    sys.env.get("SPARK_GRAFT_ARTIFACTS_DIR").filter(_.nonEmpty)
      .foreach(spark.conf.set(ArtifactStore.DirConfKey, _))
    new java.io.File(outDir).mkdirs()
    // NON-VACUITY check rides the dump (GQuery.minRows): re-count each
    // written parquet (footer-only, cheap) and flag any query below its
    // manifest floor — a 0-row result would still hash-match a 0-row
    // oracle, so the driver's gate alone can't see it go vacuous.
    val counts = SparkEntry.all.sortBy(_.name).flatMap { gq =>
      try {
        gq.run(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${gq.name}")
        val n = spark.read.parquet(s"$outDir/${gq.name}").count()
        val floor = gq.minRowsAt(sfDir)
        if (n < floor)
          System.err.println(s"[verify] NONVACUITY ${gq.name}: $n rows < " +
            s"minRows=$floor — oracle row is vacuous at $sfDir")
        Some((gq.name, n, floor))
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${gq.name} failed: ${e.getMessage}")
        None
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val vacJson = counts.map { case (n, rows, min) =>
      s"${q(n)}: {\"rows\": $rows, \"min_rows\": $min, " +
        s"\"vacuous\": ${rows < min}}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/nonvacuity.json"), vacJson)
    val vac = counts.filter { case (_, rows, min) => rows < min }
    System.err.println(s"[verify] nonvacuity: ${vac.size} of ${counts.size} " +
      s"below manifest floor${if (vac.nonEmpty) ": " + vac.map(_._1).mkString(",") else ""}")
    // completion marker: distinguishes a finished dump from stale output of
    // an earlier run when a later invocation dies before writing anything;
    // counts only the queries actually written (a failed one is absent)
    System.err.println(s"[verify] done: ${counts.size} queries dumped")
    Session.stop(spark)
  }
}
