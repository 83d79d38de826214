package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The one session recipe: it installs graft's optimizer rules once, its
  * function install replaces nothing, its shared checkpoint dir keeps memo
  * frames alive across [[Session.releaseStaged]], no other main builds a
  * session of its own, and no library code outside [[Materialize]] stages
  * a frame by hand.
  */
class SessionSpec extends SparkSuite {

  test("repeated set-up and ensureRegistered keep the installed builders") {
    val registry = spark.sessionState.functionRegistry
    // a non-capturing builder lambda is one JVM object per call site, so
    // re-registering it would keep the builder; the ExpressionInfo that
    // create-or-replace builds on every call is what shows a replacement
    def entries() = Seq("graft_dot", "graft_topk", "graft_cosine_topk",
      "graft_qsketch", "graft_kmv", "graft_flame_rays").map { n =>
      val id = FunctionIdentifier(n)
      (n, registry.lookupFunctionBuilder(id), registry.lookupFunction(id))
    }
    val installed = entries()
    assert(installed.forall(e => e._2.isDefined && e._3.isDefined),
      s"not all installed: ${installed.map(_._1)}")
    assert(Session.local(workers = SparkSuite.Workers) eq spark)
    assert(Session.local(workers = SparkSuite.Workers) eq spark)
    functions.VectorExpressions.ensureRegistered(spark)
    functions.TopKAggregate.ensureRegistered(spark)
    entries().zip(installed).foreach { case ((n, builder, info), before) =>
      assert(builder.get eq before._2.get, s"$n: builder replaced")
      assert(info.get eq before._3.get, s"$n: registration replaced")
    }
  }

  test("Session.local installs graft's optimizer rules once") {
    // a tiny naive range join: the range rule buckets it in any session
    // Session.local returns, the first call's and a repeated call's
    def assertBucketed(s: SparkSession): Unit = {
      import s.implicits._
      val p = (0L until 100L).map(i => (i % 10, i * 7)).toDF("k", "tu")
      val b = (0L until 300L).map(i => (i % 10, i)).toDF("k", "btu")
      val plan = p.join(b, p("k") === b("k") &&
          b("btu") >= p("tu") - 10L && b("btu") < p("tu"))
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("__graft_range"), s"not bucketed:\n$plan")
    }
    assertBucketed(Session.local(workers = SparkSuite.Workers))
    val second = Session.local(workers = SparkSuite.Workers)
    assertBucketed(second)
    // Spark runs the operator-optimization batch twice (before and after
    // inferring filters); installed once means once in each
    val batches = second.sessionState.optimizer.batches.map(_.rules.map(_.ruleName))
    Seq(plans.RewriteRangeJoin, functions.RewriteDotProduct).foreach { r =>
      val perBatch = batches.map(_.count(_ == r.ruleName)).filter(_ > 0)
      assert(perBatch.nonEmpty && perBatch.forall(_ == 1), s"${r.ruleName}: $perBatch")
    }
    assert(!batches.flatten.exists(_.endsWith("RewriteOverlapJoin")))
  }

  test("a memo-backed query survives releaseStaged under the shared checkpoint dir") {
    // its own JVM: releaseStaged drops EVERY pinned block of the
    // SparkContext, and in this shared test session that includes the
    // localCheckpoint frames other suites' dataset memos still hand out
    val jvm = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(System.getProperty("java.home") + "/bin/java") ++ jvm ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.ReleaseStagedProbe", smokeDir)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8")
      .getLines().toList
    assert(p.waitFor() === 0, out.takeRight(20).mkString("\n"))
    val digests = out.filter(_.startsWith("DIGEST "))
    assert(digests.size === 2, out.takeRight(20).mkString("\n"))
    assert(digests.head === digests.last)
    assert(!digests.head.endsWith(" 0"), "kmeans_centroids returned no rows")
  }

  /** Main-source files (relative to src/main/scala) whose text matches. */
  private def sourcesMatching(p: String => Boolean): Seq[String] = {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    try walk.filter(_.toString.endsWith(".scala")).toArray.toSeq
      .map(_.asInstanceOf[Path])
      .filter(f => p(Files.readString(f)))
      .map(f => root.relativize(f).toString).sorted
    finally walk.close()
  }

  test("no main outside Session builds its own SparkSession") {
    assert(sourcesMatching(_.contains("SparkSession.builder")) ===
      Seq("graft/Session.scala"))
  }

  test("only Materialize stages, checkpoints or caches a frame outside tools/") {
    val call = """\.(localCheckpoint\b|checkpoint\(|persist\(|cache\(\))""".r
    val offenders = sourcesMatching(call.findFirstIn(_).isDefined)
      .filterNot(f => f == "graft/Materialize.scala" || f.startsWith("graft/tools/"))
    assert(offenders === Seq(), "stage through graft.Materialize instead")
  }

  test("only the schema resolver and a named allowlist read parquet without a schema") {
    // a reader chain from `.read` to `.parquet(`, across lines; a read
    // whose chain carries `.schema(` skips inference and passes
    val read = """(?s)\.read((?:\s*\.(?!parquet\()\w+\((?:[^()]|\([^()]*\))*\))*)\s*\.parquet\(""".r
    def bareReads(src: String): Int =
      read.findAllMatchIn(src).count(!_.group(1).contains(".schema("))
    // file -> the inferring reads it may keep; tools/ is exempt
    val allowed = Map(
      "graft/Catalog.scala" -> 1,              // Tables.schemaOf: the resolver
      "graft/operators/EventOps.scala" -> 1,   // schema_evolution's mergeSchema read tests inference
      "graft/ArtifactStore.scala" -> 2,        // artifact loads
      "graft/operators/KMeansOps.scala" -> 1,  // artifact load
      "graft/operators/ArchiveOps.scala" -> 1, // readArchive
      "graft/Verify.scala" -> 1)               // counts its own dumped output
    val counts = sourcesMatching(bareReads(_) > 0)
      .filterNot(_.startsWith("graft/tools/"))
      .map(f => f -> bareReads(Files.readString(Paths.get("src/main/scala", f))))
    val offenders = counts.filter { case (f, n) => n > allowed.getOrElse(f, 0) }
    assert(offenders === Seq(), "read tables through graft.Tables, or pass .schema")
    assert(counts.toMap === allowed, "the allowlist names a read that is gone")
  }
}

/** Child-JVM half of SessionSpec's memo case: run kmeans_centroids (its
  * staged quantized frame is memo-held), release every pinned block, run
  * it again from the memo, and print both digests. */
object ReleaseStagedProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(workers = SparkSuite.Workers)
    Session.shareCheckpoints(spark)
    val q = SparkEntry.all.find(_.name == "kmeans_centroids").get
    def digest(): Unit = {
      val (d, rows) = tools.Canon.digestDf(q.run(spark, args(0)))
      println(s"DIGEST $d $rows")
    }
    digest()
    Session.releaseStaged(spark)
    digest()
    Session.stop(spark)
  }
}
