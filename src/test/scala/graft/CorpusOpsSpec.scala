package graft

import org.apache.spark.sql.functions._
import graft.operators.{CorpusOps, DedupOps, RelationalOps}

/** Invariant checks for the corpus-restructuring operators and the two
  * alternate-physical-path queries added with them — the DuckDB oracle gate
  * proves engine parity; these pin the properties the oracle can't express
  * (lossless reassembly, permutation structure, physical-variant
  * equivalence against the naive plan).
  */
class CorpusOpsSpec extends SparkSuite {

  test("dedup_span_boilerplate: untouched docs reassemble losslessly") {
    val out = CorpusOps.dedupSpanBoilerplate.run(spark, smokeDir)
    val docs = Tables.documents(spark, smokeDir)
      .select(col("doc_id"),
        array_join(filter(split(col("text"), " "), w => w =!= ""), " ")
          .as("norm_text"))
    // every doc with tokens appears exactly once
    assert(out.count() === docs.filter(col("norm_text") =!= "").count())
    assert(out.select("doc_id").distinct().count() === out.count())
    // counts are consistent
    assert(out.filter(col("n_kept") + col("n_removed") =!= col("n_spans"))
      .count() === 0)
    // a doc with nothing removed must reassemble to its normalized text,
    // and a doc with removals must not
    val joined = out.join(docs, Seq("doc_id"))
    assert(joined.filter(col("n_removed") === 0 &&
      col("clean_text") =!= col("norm_text")).count() === 0)
    assert(joined.filter(col("n_removed") > 0 &&
      col("clean_text") === col("norm_text")).count() === 0)
    // the threshold actually fires on the testbed (non-vacuous test)
    assert(out.filter(col("n_removed") > 0).count() > 0)
  }

  test("dedup_span_boilerplate: removed spans are exactly the df>=cap set") {
    val out = CorpusOps.dedupSpanBoilerplate.run(spark, smokeDir)
    // total removed instances == total instances of boilerplate spans
    val docs = Tables.documents(spark, smokeDir)
      .select(col("doc_id"),
        filter(split(col("text"), " "), w => w =!= "").as("t"))
      .filter(size(col("t")) >= 1)
    val spans = docs.select(explode(expr(
      s"""transform(sequence(1, (size(t) + ${CorpusOps.SpanW - 1}) div ${CorpusOps.SpanW}),
         |  j -> array_join(slice(t, (j-1)*${CorpusOps.SpanW} + 1, ${CorpusOps.SpanW}), ' '))"""
        .stripMargin)).as("span"))
    val boilerInstances = spans.groupBy("span").agg(count(lit(1)).as("df"))
      .filter(col("df") >= CorpusOps.SpanBoilerDf)
      .agg(sum("df")).collect()(0).getLong(0)
    val removed = out.agg(sum("n_removed")).collect()(0).getLong(0)
    assert(removed === boilerInstances)
  }

  test("shuffle_shards: a permutation — every doc once, dense ranks per shard") {
    val out = CorpusOps.shuffleShards.run(spark, smokeDir)
    val nDocs = Tables.documents(spark, smokeDir).count()
    assert(out.count() === nDocs)
    assert(out.select("doc_id").distinct().count() === nDocs)
    // within each shard, pos must be exactly 1..shard_size
    val bad = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("pos").as("lo"), max("pos").as("hi"),
        countDistinct("pos").as("npos"))
      .filter(col("lo") =!= 1 || col("hi") =!= col("n") ||
        col("npos") =!= col("n"))
    assert(bad.count() === 0)
    // the hash actually spreads (not all docs in one shard)
    assert(out.select("shard").distinct().count() > 1)
  }

  test("join_range_bucketed matches the naive non-equi plan") {
    // each side planned and collected on its own: one plan holding both
    // would run the range rule on both
    val query = RelationalOps.joinRangeBucketed.run(spark, smokeDir)
    assert(query.queryExecution.optimizedPlan.toString.contains("__graft_range"),
      "the range rule did not bucket join_range_bucketed")
    val out = query.collect().map(_.toString).sorted.toSeq
    val naive = ruleFree(graft.plans.RewriteRangeJoin) {
      val e = Tables.events(spark, smokeDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("tu"))
      val a = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("tu"))
      val b = e.filter(col("event_type") === "click")
        .select(col("user_id").as("bu"), col("tu").as("btu"))
      a.join(b,
          col("bu") === col("user_id") &&
            col("btu") >= col("tu") - RelationalOps.RangeBucketUs &&
            col("btu") < col("tu"), "left")
        .groupBy("event_id").agg(count(col("btu")).as("n_recent_clicks"))
    }.map(_.toString).sorted.toSeq
    assert(out === naive)
    // non-vacuous: some purchase has a preceding click in-window
    assert(out.exists(!_.endsWith(",0]")))
  }

  test("keptSpans: co-keyed fallback is row-identical to the broadcast plan") {
    val docs = Tables.documents(spark, smokeDir).select("doc_id", "text")
    val broadcastRun = CorpusOps.spanScrubOf(docs)
    val kept0 = CorpusOps.keptSpans(
      CorpusOps.spanRows(docs), CorpusOps.boilerplateSpans(docs))
    // the default bound covers the testbed artifact → broadcast is FORCED
    assert(kept0.queryExecution.optimizedPlan.toString
      .contains("strategy=broadcast"),
      "under the bound the anti-join must carry the broadcast hint")
    val before = broadcastRun.collect().map(_.toSeq).toSet
    spark.conf.set(CorpusOps.BoilerBroadcastMaxKey, "0")
    try {
      val keptF = CorpusOps.keptSpans(
        CorpusOps.spanRows(docs), CorpusOps.boilerplateSpans(docs))
      assert(!keptF.queryExecution.optimizedPlan.toString
        .contains("strategy=broadcast"),
        "over the bound the plan must NOT force a broadcast")
      val after = CorpusOps.spanScrubOf(docs).collect().map(_.toSeq).toSet
      assert(after === before,
        "fallback branch diverged from the broadcast branch")
    } finally spark.conf.unset(CorpusOps.BoilerBroadcastMaxKey)
  }

  test("boilerplateArtifact: bound cuts by df desc deterministically") {
    val docs = Tables.documents(spark, smokeDir).select("doc_id", "text")
    val full = CorpusOps.boilerplateArtifact(docs)
    assert(full.size > 1, "need >1 boiler spans to exercise the cut")
    val cut = CorpusOps.boilerplateArtifact(docs, maxSpans = 1)
    assert(cut.size === 1)
    // the survivor is the max-df span (span tiebreak): recompute df driver-side
    val dfs = CorpusOps.boilerplateSpans(docs)
      .join(CorpusOps.spanRows(docs), Seq("span"))
      .groupBy("span").agg(count(lit(1)).as("df"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val want = dfs.sortBy { case (sp, df) => (-df, sp) }.head._1
    assert(cut.head === want)
  }

  test("dedup_substring_runs merges the planted prefix into one maximal run") {
    val runs = DedupOps.dedupSubstringRuns.run(spark, smokeDir)
    val planted = Tables.documents(spark, smokeDir)
      .filter(col("doc_id") % DedupOps.SubstrPlantMod === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(planted.size > 1, "need >1 planted docs for the prefix to repeat")
    // every planted doc reports a run anchored at token 1 spanning the
    // whole 25-token prefix: 6 consecutive windows = 25 tokens, ONE row
    val prefixRuns = runs.filter(col("run_start") === 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    planted.foreach { id =>
      val (w, t) = prefixRuns.getOrElse(id,
        fail(s"planted doc $id has no run at position 1"))
      assert(w >= 6 && t >= 25, s"doc $id prefix run too short: $w windows")
    }
    // the merge is real: no doc reports two adjacent runs (islands maximal)
    import org.apache.spark.sql.expressions.Window
    val adj = runs.withColumn("prev_end",
        lag(col("run_start") + col("run_windows"), 1)
          .over(Window.partitionBy("doc_id").orderBy("run_start")))
      .filter(col("prev_end") === col("run_start"))
    assert(adj.count() === 0, "two runs touch — islands were not maximal")
  }

  test("decontam_bloom is row-identical to decontam_ngram_exact") {
    val bloom = DedupOps.decontamBloom.run(spark, smokeDir)
    val exact = DedupOps.decontamNgramExact.run(spark, smokeDir)
    assert(bloom.except(exact).count() === 0)
    assert(exact.except(bloom).count() === 0)
    assert(bloom.count() > 0)
  }

  test("chunk_documents: chunks tile every doc with the declared geometry") {
    val docs = Tables.documents(spark, smokeDir)
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), w => w =!= "")).cast("long").as("n"))
      .filter(col("n") > 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chunks = CorpusOps.chunkDocuments.run(spark, smokeDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(chunks.nonEmpty)
    val byDoc = chunks.groupBy(_._1)
    assert(byDoc.keySet === docs.keySet, "every non-empty doc is chunked")
    for ((doc, cs) <- byDoc) {
      val n = docs(doc)
      val sorted = cs.sortBy(_._3)
      // starts advance by exactly the stride, from 0
      assert(sorted.map(_._3).toList ===
        sorted.indices.map(_ * CorpusOps.ChunkStride.toLong).toList)
      // every token position is covered: chunk i reaches past chunk i+1's start
      for (Array(a, b) <- sorted.sliding(2).map(_.toArray))
        assert(a._3 + a._4 > b._3, s"gap in doc $doc")
      val last = sorted.last
      assert(last._3 + last._4 === n, s"doc $doc tail not covered")
      // length/text agreement, bounded chunk size
      for ((_, _, _, len, text) <- cs) {
        assert(len <= CorpusOps.ChunkSize)
        assert(text.split(" ").count(_.nonEmpty) === len)
      }
      // no chunk fully contained in its predecessor (tail suppression)
      for (Array(a, b) <- sorted.sliding(2).map(_.toArray))
        assert(b._3 + b._4 > a._3 + a._4, s"doc $doc redundant tail chunk")
    }
  }
}
