package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: dump `explain("formatted")` for the headline queries into
  * PLANS.md — the reviewable record of the physical plans the engine is
  * designed around (pushdown, broadcast, partial aggregation, top-k).
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // fixed geometry: PLANS.md's partition counts are written against it
    val spark = graft.Session.local(workers = 4, logLevel = "ERROR")

    val picks = Seq(
      "q1_agg" -> "scan→hash-agg pipeline: pushed shipdate filter, 6-column ReadSchema, partial+final HashAggregate",
      "join_broadcast" -> "3-way star join: both dimension sides BroadcastHashJoin, lineitem never shuffles before the final agg",
      "topk_global_rank" -> "top-k: TakeOrderedAndProject, no global sort",
      "tableview_last_per_key" -> "compaction: max_by hash aggregate, no window/sort",
      "agg_kill_count" -> "scoreboard A1: filters pushed below the derivation projection, one shuffle on (room, killer)",
      "topk_per_room_agg" -> "custom TypedImperativeAggregate: partial_topkaggregate below the exchange (k rows/group cross the shuffle)",
      "dedup_minhash_lsh" -> "LSH: shingle scan → 16-min signature agg → band self-join → candidate-only verification joins",
      "dedup_simhash" -> "simhash: row-local bit votes → Hamming-ball band self-join (no cartesian) → bit_count verify",
      "ann_cosine_topk" -> "ANN baseline: broadcast 1-row query side, native graft_dot in whole-stage codegen, TakeOrderedAndProject",
      "ann_topk_per_query" -> "fused per-query top-k: partial_cosinetopkaggregate below the exchange — k rows per query cross the shuffle, no window sort",
      "lcg_event_type_counts" -> "DSV2 KeyGroupedPartitioning: group-by includes the source partition key — NO Exchange in the plan",
      "replay_room_digest" -> "the fold: one Exchange on room, in-partition sort, MapPartitions (no per-group materialization), digest joins on the staged log",
      "text_repetition" -> "repetition signals: two hash aggregates keyed (doc_id,bigram)→doc_id, both partial+final — shuffle ∝ distinct bigrams per doc",
      "sample_weights" -> "mixture weighting: corpus streams once; per-source and 1-row totals both broadcast — no corpus-sized shuffle",
      "kmeans_centroids" -> "Lloyd's final update: row-local assignment (centroids as literals, graft_dot codegen), partial+final (cid,dim) hash agg — shuffle is K×64 partial rows, model join broadcast",
      "ann_ivf_trained_topk" -> "trained IVF: row-local cell assignment, broadcast query side, fused partial_cosinetopkaggregate — k rows per query cross the shuffle",
      "sample_stratified" -> "stratified sample: fused partial_cosinetopkaggregate below the exchange — k rows per stratum cross the shuffle, no stratum-wide window sort",
      "pack_sequences" -> "sequence packing: ONE shuffle on (source, shard) then an in-partition running-sum window — shard key bounds every partition to ~1/8 of a source at any corpus size",
      "dedup_span_boilerplate" -> "span boilerplate removal: row-local span generation, one df shuffle, heavy-hitter set broadcast into a left-anti join, one doc_id shuffle for reassembly — no span×span join",
      "join_range_bucketed" -> "naive range join, bucketed by RewriteRangeJoin: probes explode to their 2 candidate buckets, both sides equi-keyed on (user_id, bucket) → shuffled hash join + exact range filter — no BroadcastNestedLoopJoin for the non-equi time predicate",
      "decontam_bloom" -> "bloom-prefiltered decontam: corpus probe is xxhash64+shift/mask against one array<long> literal inside whole-stage codegen; exact broadcast join sees only bloom survivors",
      "funnel_stages" -> "ordered funnel: per-stage min-entry aggregates joined co-keyed on user_id — each stage reuses the partitioning its own groupBy produced, no window over an unbounded partition",
      "cohort_retention" -> "cohort matrix: (user, day) distinct → first-day agg → co-keyed join → plain count — the distinct turns count-distinct cells into count(*)",
      "sketch_distinct_kmv" -> "KMV sketch: ONE hash aggregate with partial_kmvsketchaggregate below the exchange — ≤ k longs per group cross the shuffle at any key cardinality",
      "chunk_documents" -> "chunking: scan → generate (sequence/explode) → project, ZERO exchanges — chunk geometry is fully row-local",
      "graph_pagerank" -> "PageRank: outdegree pre-joined into the src-partitioned staged edge frame (r19) — zero per-iteration edge shuffles; contributions sum map-side onto dst; final top-k is TakeOrderedAndProject, no global sort",
      "quantile_histogram" -> "histogram quantiles: (type, bin) hash agg bounds the shuffle at the bin count; cumulative window runs over bins, not rows",
      "q5_region_revenue" -> "TPC-H Q5 shape: statistics-driven joins — at testbed scale ALL five joins broadcast (1 exchange = the final agg); at 100 TB orders exceeds the threshold and lineitem⋈orders becomes the one co-keyed shuffle",
      "sketch_kmv_union" -> "KMV merge: per-type partial_kmvsketchaggregate → explode of n_groups·k longs → ONE re-sketch aggregate — union cardinality from sketch metadata, the input is never rescanned",
      "graph_triangles" -> "triangles: capped co-occurrence pair join co-keyed on item, degree-orientation projection, wedge self-join + left-semi close both co-keyed — no broadcast of corpus-derived frames except the tiny hot-item/scalar sets",
      "anomaly_burst" -> "burst detection: ONE map-side-combinable (user, hour) count, then the per-user moment window runs over the count frame — raw events never enter a window partition",
      "ann_quantized_topk" -> "quantized ANN: graft_q8 + graft_dot both in whole-stage codegen over one corpus scan, broadcast 1-row query side, TakeOrderedAndProject",
      "q3_shipping_priority" -> "TPC-H Q3 shape: segment-pruned customer broadcasts, date filters pushed into both scans, lineitem⋈orders co-keyed, top-10 via TakeOrderedAndProject — no global sort",
      "assoc_lift_daily" -> "basket lift: ONE basket distinct shuffle, pair join co-keyed on (user, day) and bounded by the type vocabulary, per-type counts broadcast — no corpus-sized non-basket shuffle",
      "scd2_asof_snapshot" -> "SCD2 as-of: one user-keyed window shuffle (lead over (ts, event_id)), row-local interval test — the cutoff filter never rescans",
      "q10_returned_items" -> "TPC-H Q10 shape: quarter + returnflag predicates pushed into both scans, lineitem⋈orders co-keyed, only the per-custkey aggregate joins customer/nation, top-20 via TakeOrderedAndProject",
      "q12_shipmode_priority" -> "TPC-H Q12 shape: returnflag + ship-date-window predicates pushed into the lineitem scan, 3-column orders ReadSchema, one co-keyed fact join with the cross-table lateness predicate at the join, conditional BIGINT sums partial-aggregated map-side into a 2-row result",
      "skyline_pareto" -> "skyline: per-price hash agg → per-bucket bounded window → broadcast bucket-prefix join — the quadratic dominance join never appears",
      "dau_cumulative" -> "DAU growth: (day, user) distinct feeds both legs; cumulative distinct-to-date is a running sum over the day-grain frame, never an O(days·users) re-distinct",
      "graph_sssp_weighted" -> "weighted SSSP: per-round frontier⋈edges co-keyed join + min-aggregate merge, frontiers staged — no path enumeration, no driver collect",
      "text_inverted_index" -> "inverted index: (doc, word) distinct → ONE word-keyed aggregate with partial_topkaggregate below the exchange — K postings per term cross the shuffle, a stop-word's full list never materializes",
      "q7_volume_shipping" -> "TPC-H Q7 shape: the 3-nation dim predicate filters supplier/customer BEFORE the fact joins; lineitem⋈orders is the one co-keyed shuffle; direction filter on the tiny post-join frame",
      "ohlc_daily" -> "OHLC bars: ONE hash aggregate — min_by/max_by partials carry a single (value,id) pair, so ticks reduce map-side and only candles cross the shuffle",
      "fuzzy_name_pairs" -> "deletion-neighborhood join: linear key blowup (|name|+1 keys/name) → co-keyed candidate equi-join with position-class predicate (r19: full/same-position collisions are provably distance-1, cross-position provably distance-2 — no verification kernel at all) — no O(n²) pair scan",
      "session_path_topk" -> "path mining: gap flag, session ids, and lead×2 share ONE user-keyed shuffle; trigram counts combine map-side; top-10 via TakeOrderedAndProject",
      "cdc_snapshot_diff" -> "CDC diff: two prefix-scanned last-per-key states (ts predicate pushed into each scan) joined on the shared user key — the T1 pass reads a prefix of the log, not all of it",
      "reshape_unpivot" -> "melt: row-local stack inside whole-stage codegen — ZERO exchanges, the contrast case to every shuffling query",
      "layout_zorder_stats" -> "z-order audit: 62-term Morton interleave fully inside whole-stage codegen; the observed-range bucket width is a 1-row broadcast over a second pruned 2-int-column scan, then ONE bucket-keyed hash aggregate — the write-side clustering readout",
      "dq_referential" -> "FK audit: per relationship both sides pre-aggregate to (key, multiplicity) into a co-keyed full-outer join; ONE tagged map-side-combinable final aggregate (r19) yields all four counts for all relationships — one scan per table, not three",
      "q21_suppliers_kept_waiting" -> "TPC-H Q21 decorrelated: ONE lineitem scan → (order,supplier)-grain agg → order-keyed window counts replace BOTH correlated subqueries — the naive plan scans the fact three times",
      "q22_global_sales_opportunity" -> "TPC-H Q22: broadcast 1-row balance stats with integer cross-multiplied threshold; NOT EXISTS as LeftAnti over the pushed recent-orders projection",
      "q4_order_priority" -> "TPC-H Q4: correlated EXISTS as a left-semi join with the non-equi lateness predicate riding the orderkey equi-join as a residual",
      "q6_forecast_revenue" -> "TPC-H Q6: join-free scan benchmark — all three predicates pushed, 4-column ReadSchema, 1-row aggregate",
      "q15_top_supplier" -> "TPC-H Q15: the revenue aggregate declared twice collapses to ONE lineitem scan via AQE exchange-stage reuse (explicit isnotnull keeps the subtrees canonically identical); e4-integer max-equality probe",
      "q17_small_quantity_revenue" -> "TPC-H Q17: correlated scalar-AVG as a per-part window over the brand-reduced frame — single lineitem scan, integer cross-multiplied threshold",
      "q2_min_cost_supplier" -> "TPC-H Q2: correlated scalar-MIN as a per-part window over the broadcast-dimensioned link — stored-double equality, ties surface",
      "q11_important_parts" -> "TPC-H Q11: HAVING-vs-global-scalar with the per-part aggregate shared via AQE stage reuse; value_e4*1000 > total_e4 integer threshold",
      "q20_excess_shipments" -> "TPC-H Q20: doubly-nested IN-with-aggregate decorrelated to one (part,supplier) aggregate + per-part window + semi join — single lineitem scan",
      "sketch_quantile_rank" -> "rank sketch: ONE hash aggregate with partial_quantilesketchaggregate below the exchange — ≤ k (hash,value) pairs per group cross the shuffle at any group size",
      "window_trailing_range" -> "trailing RANGE frame: ONE user-keyed window exchange, two-pointer sliding frame evaluation — no self-join, no per-row rescan of the trailing day")

    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.tools.DumpPlans` against `$dir`.\n")
    sb.append("Regenerate: `sbt \"runMain graft.tools.DumpPlans\"`.\n\n")
    sb.append(
      "Scale assumption for the per-room running windows " +
        "(`window_running_sum`, `join_asof_last_map`): one room's log lands " +
        "on one reducer — inherent to per-log running semantics and the " +
        "reference's per-topic ordering. This parallelizes when room-count " +
        "≫ core-count (the deployment shape: thousands of rooms); a " +
        "single pathologically hot room would need range-splitting the seq " +
        "axis with carry-in state, which the fold's partitioned path " +
        "already demonstrates.\n")
    picks.foreach { case (name, note) =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n$note\n\n```\n$formatted```\n")
    }

    // Appendix: one-line physical-plan inventory for EVERY registered query
    // — shuffles, join strategies, and nested-loop scans at a glance. The
    // intentionally-cartesian rows are the documented all-pairs baselines.
    sb.append("\n## Appendix: plan inventory (all queries)\n\n")
    sb.append(
      "Notes: AQE wraps plans before execution, so codegen `*(n)` markers " +
        "only show on non-adaptive (exchange-free) plans — 0 there means " +
        "\"adaptive\", not \"interpreted\". Nested-loop entries are either " +
        "broadcast 1-to-4-row dimension joins (dirs, corpus-stats scalars) " +
        "or the documented all-pairs baselines (dedup_embedding_cosine).\n\n")
    sb.append("| query | exchanges | bhj | smj | nested-loop | codegen stages |\n")
    sb.append("|---|---|---|---|---|---|\n")
    // execution-honest counting (PlanShape): cached builds once, reuse
    // pointers skipped — see PlanShape's doc for why textual counting
    // mis-reads persist/reuse nodes
    graft.SparkEntry.all.sortBy(_.name).foreach { q =>
      try {
        val s = PlanShape.of(q.run(spark, dir).queryExecution.executedPlan)
        sb.append(s"| ${q.name} | ${s.exchanges} | ${s.bhj} | ${s.smj} | " +
          s"${s.nestedLoop} | ${s.codegenStages} |\n")
      } catch {
        case e: Throwable => sb.append(s"| ${q.name} | plan error: ${e.getClass.getSimpleName} |||||\n")
      }
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${picks.size} plans + inventory)")
    spark.stop()
  }
}
