package graft.queries

import graft.SparkSuite

/** Physical-plan hygiene, continuously asserted (the .explain review
  * turned into tests): filters reach the parquet scan, small joins
  * broadcast, scans prune columns, top-k avoids global sorts, and no
  * query anywhere degrades to an unbroadcast cartesian product. */
class PlanAuditSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("the filter-inference exclusion is live and its rule names still resolve") {
    // Sessions.local excludes InferFiltersFromConstraints +
    // InferFiltersFromGenerate (measured 17% board win — scaladoc
    // there). spark.sql.optimizer.excludedRules fails SILENTLY on an
    // unknown rule name, so a Spark upgrade that renames either class
    // would re-enable the inference without any error — the sweep in
    // ExpensiveExprSweepSpec would eventually flag re-introduced
    // duplicates, but THIS failure says why. Assert the conf is set
    // AND both rule objects still exist in the Spark build on the
    // classpath.
    val excluded = spark.conf.getOption("spark.sql.optimizer.excludedRules")
      .getOrElse("")
    for (rule <- Seq(
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")) {
      assert(excluded.contains(rule), s"exclusion lost from Sessions.local: $rule")
      // Scala objects compile to <name>$ — resolution failure means the
      // rule was renamed/removed and the excludedRules entry is a no-op
      Class.forName(rule + "$")
    }
  }
  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  test("q02 time-range filter pushes to the parquet scan") {
    val p = plan("q02_proj_filter")
    // no IsNotNull in the pushed list since round 18: the engine
    // excludes the InferFilters* rules (Sessions.local — measured 17%
    // board win), and the range predicates already exclude nulls at
    // the parquet stats level
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThanOrEqual(o_orderdate"), p.take(2000))
    assert(p.contains("LessThan(o_orderdate"), p.take(2000))
  }

  test("q03 key-range filter pushes to the parquet scan") {
    val p = plan("q03_range_prune")
    assert(p.contains("GreaterThanOrEqual(c_custkey,100)"), p.take(2000))
    assert(p.contains("LessThanOrEqual(c_custkey,1000)"), p.take(2000))
  }

  test("q17 scan prunes to the referenced columns only") {
    val p = plan("q17_tpch_q1")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_quantity") && readSchema.contains("l_shipdate"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_orderkey"),
      readSchema)
  }

  test("q18 broadcasts the filtered dimension side + plans top-k without global sort") {
    val p = plan("q18_tpch_q3")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("q14 broadcasts both dimension tables") {
    val p = plan("q14_rollup")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(3000))
  }

  test("q113 pushes the date filter into the ORC scan and prunes its columns") {
    val p = plan("q113_orc_roundtrip")
    assert(p.contains("Format: ORC") || p.contains("orc"), p.take(2000))
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThanOrEqual(l_shipdate"), p.take(2000))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), readSchema)
  }

  test("q123 resolves the lang predicate as a partition filter, not a data filter") {
    val p = plan("q123_partition_pruning")
    assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(p).isDefined,
      s"lang = 'en' must land in PartitionFilters:\n${p.take(2000)}")
    // the predicate must NOT degrade to a pushed data filter — the
    // partition column does not exist inside the files at all
    assert(!p.contains("PushedFilters: [IsNotNull(lang)"), p.take(2000))
    val out = graft.SparkEntry.queries("q123_partition_pruning")(spark, dir)
    assert(out.collect().forall(_.getAs[Long]("pruned") == 1L))
  }

  test("q117/q118 lower to a single Expand (grouping sets / multi-distinct)") {
    for (name <- Seq("q117_grouping_sets", "q118_multi_distinct")) {
      val p = plan(name)
      assert("Expand".r.findAllIn(p).size >= 1, s"$name lost the Expand lowering")
    }
  }

  test("q131/q132 correlated subqueries decorrelate to joins (no per-row re-scan)") {
    for (name <- Seq("q131_correlated_max", "q132_scalar_subqueries")) {
      val p = plan(name)
      assert(!p.contains("ScalarSubquery"),
        s"$name kept a per-row scalar subquery:\n${p.take(2000)}")
      assert(p.contains("Join"), s"$name lost the decorrelated join")
    }
    // the COUNT-bug path: a customer with zero orders must read 0, not NULL
    val out = graft.SparkEntry.queries("q132_scalar_subqueries")(spark, dir)
    assert(out.filter(org.apache.spark.sql.functions.col("n_orders").isNull)
      .count() === 0)
  }

  test("q47 pushes the multi-version time range into the envelope source scan") {
    val p = plan("q47_multiversion_export")
    assert(p.contains("PushedFilters") && p.contains("LessThan(ts,1003)"),
      p.take(3000))
  }

  test("q48 computes simhash via the native one-pass expression") {
    // walk the logical tree (the rendered string truncates deep plans)
    val analyzed = graft.SparkEntry.queries("q48_simhash_hamming")(spark, dir)
      .queryExecution.analyzed
    val usesNative = analyzed.collect { case node =>
      node.expressions.exists(_.exists(_.isInstanceOf[graft.expressions.Simhash]))
    }.exists(identity)
    assert(usesNative, "q48 lost the native simhash kernel")
  }

  test("q60 broadcasts the eval shingle set into the flagging join") {
    val p = graft.SparkEntry.queries("q60_decontam")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"decontamination must broadcast the small eval side:\n${p.take(2000)}")
  }

  test("q151 tpch q6: every predicate reaches the parquet scan") {
    val p = plan("q151_tpch_q6")
    // the PushedFilters list is elided in toString past ~100 chars, so
    // assert the pushdown prefix + the full predicate set on the
    // post-scan Filter node (same predicates, un-truncated). The list
    // leads with the real range predicate since round 18 — the
    // InferFilters* exclusion (Sessions.local) means no synthesized
    // IsNotNull precedes it
    assert(p.contains("PushedFilters: [GreaterThanOrEqual(l_shipdate"), p.take(2500))
    assert(p.contains(">= 0.05") && p.contains("<= 0.07"), p.take(2500))
    assert(p.contains("< 24.0"), p.take(2500))
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp_ntz>"),
      "scan must prune to the four referenced columns\n" + p.take(2500))
  }

  test("q149 tpch q2: all four dimension sides broadcast") {
    val p = plan("q149_tpch_q2")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q161 tpch q17: correlated avg is a window over the join key, not a re-scan") {
    val p = plan("q161_tpch_q17")
    // one lineitem scan total would be ideal; the decorrelated form
    // must at least avoid a per-row subquery (no ScalarSubquery nodes)
    assert(!p.contains("ScalarSubquery"), p.take(3000))
  }

  test("q177 kill-list join broadcasts (corpus side never shuffles for it)") {
    val p = plan("q177_span_dedup_audit")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q176 rank window and report reuse one source partitioning") {
    val p = plan("q176_domain_cap")
    val dataExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(dataExchanges <= 2,
      s"expected the window shuffle (+ at most the agg) only:\n$p")
  }

  test("shuffle budgets hold for every >1 s board query") {
    // Exchange-count ceilings measured from the current plans: a
    // future regression that plants an extra shuffle (a lost
    // broadcast, a re-partition creeping in, a window losing its
    // partitioning reuse) fails HERE, not as a silent bench drift.
    // Streaming-backed queries tally their batch reporting plan (the
    // stream's own exchanges are state-store-scoped and pinned by the
    // parity oracles); q185's large budget is structural — it unions
    // every funnel gate's standalone reconciliation into one report.
    val budgets = Map(
      "q193_stream_neardup" -> 2,
      // q197's deliberate 8 (round 22): the posting-derived intersect
      // adds the hot-doc list aggregate and two narrow doc-keyed
      // joins of (doc_id, n, bands, hot-list) — key-sized exchanges —
      // in exchange for REMOVING the full shingle arrays from the
      // pair-sized verify shuffle (the payload-sized leg; guide §2.3
      // "shuffle keys, not payloads"). Bytes down, exchange count up.
      "q197_lsh_pr_curve" -> 8,
      "q56_streaming_export" -> 0,
      "q64_stream_join" -> 1,
      "q168_kmeans" -> 0,
      "q83_stream_sessions" -> 1,
      "q185_release_funnel" -> 154,
      "q35_phash_neardup" -> 2,
      "q91_stream_state" -> 2,
      "q126_stream_static" -> 2,
      // q207's report is one global agg over the HFile-store export
      // pipeline (partial agg → single-partition exchange); q208's
      // report is a LOCAL relation — its three window pipelines and
      // reconciliation joins execute eagerly inside the query (each
      // window relation cached once), so any shuffle regression there
      // surfaces as bench drift on the pinned 0-exchange report shape
      "q207_sortedrun_export" -> 1,
      "q208_incremental_tiling" -> 0,
      // q209 collects writer accounting inside the query (local
      // report); q210 is the query the historical q207 key runs
      "q209_sortedrun_writer" -> 0,
      "q210_hfile_store" -> 1,
      // round-9 additions that cleared 0.5 s at sf0.1: q225's count
      // is dominated by |sources|-sized post-aggregate relations (the
      // only corpus-wide shuffles are the (source,idx) register agg
      // and the exact-intersection self-join); q226 is the cached-
      // signature join + two contingency aggregates per strategy;
      // q231 is the token top-K + (source,bucket) counts; q224 is the
      // two rank windows sharing one qid partitioning
      "q224_rrf_fusion" -> 2,
      // 40 not 25: the plan string embeds the srcShingles build
      // lineage once per reference when the managed cache was last
      // built for a DIFFERENT dir (full-suite order), so the count is
      // cache-state-dependent — the ceiling covers both states; a
      // real regression (lost broadcast, new corpus shuffle) still
      // blows well past it
      "q225_hll_jaccard" -> 40,
      "q226_b3_quality" -> 10,
      "q231_source_jsd" -> 12,
      "q232_bootstrap_ci" -> 5,
      // round-10 additions that cleared (or approached) 0.5 s at
      // sf0.1: q249's gate is one scan + two broadcast-local median
      // relations (losing the localization would re-embed the
      // two-phase pipelines here); q254 must stay scan-local like
      // q168 (0 exchanges); q256 rides the cached signature relation
      // + the SNM window; q258's pair join is qid-local over the
      // fused top-K; q262's spine/lag joins are day-bounded
      "q249_mad_gate" -> 3,
      "q253_heaps_fit" -> 6,
      "q254_silhouette" -> 0,
      "q256_blocking_audit" -> 13,
      "q258_kendall_tau" -> 7,
      // q261's deliberate 5: with byDay and binned pinned (each built
      // exactly once, eagerly), the report plan keeps the histogram
      // agg, the prefix-sum window, the bin-local rank window, the
      // min-day agg, and the OLS agg — losing a pin re-embeds the
      // corpus lineage and blows well past this
      "q261_theil_sen" -> 5,
      // q277's deliberate 4: the (source, word) vocab agg, the
      // per-source rollup, the q51 regex agg, and the tiny
      // source-keyed join (post-agg sides, AQE broadcasts at scale);
      // the merge list comes from the managed per-dir bpeMerges
      // artifact (trained once per corpus snapshot) and never
      // appears in the report plan
      "q277_bpe_apply" -> 4,
      "q262_daily_acf" -> 14,
      // round-17 sweep: every remaining >1 s board query gets a
      // ceiling (measured at sf0.001, fresh caches). The 0-budget
      // entries are export/reimport/eval pipelines whose REPORT plan
      // is a local relation — any exchange appearing there means
      // corpus lineage leaked back into the report. q206 (64-dim
      // power iteration) and q269 (graph-cache consumer) get
      // headroom: their deep iterative/cache-keyed plans re-embed
      // lineage depending on managed-cache state (the q225 note)
      "q100_bigram_lm" -> 3,
      "q165_tpch_q21" -> 7,
      "q172_token_entropy" -> 3,
      "q173_boilerplate" -> 2,
      // q19's deliberate 4 (round 21): the salted join now carries a
      // SHUFFLE_HASH build-side hint — the operator's intended regime
      // is a right side too big to broadcast (its own scaladoc), and
      // the auto-broadcast plan both hid a 1.2M-row driver-side
      // broadcast build (measured ~0.8 s of unattributed wall) and
      // made the salting demonstration a no-op (broadcast joins have
      // no shuffle skew). Two join-input exchanges + the aggregation
      // exchange + the output range sort = 4.
      "q19_skew_join" -> 4,
      // q200's 7 (round 22): the context counts are now DERIVED from
      // the c12 relation (one corpus explode fewer), so the c12
      // exchange subtree appears TWICE in the static plan (term build
      // + c1 regroup) — canonically identical copies that AQE's stage
      // cache materializes once at runtime. Static 7 = c12×2 + c1
      // regroup + v's 2 distinct-agg exchanges + doc_id agg + output
      // sort; the runtime pays 6 with one stage reused, versus the old
      // static 6 that re-exploded the corpus for c1 every action.
      "q200_bigram_xent" -> 7,
      "q206_pc1_power" -> 140,
      "q217_mmr_rerank" -> 1,
      "q237_watermark_audit" -> 2,
      "q238_mi_features" -> 8,
      // q267's 13 (round 22): the basket restructure re-shards the
      // per-session type sets through ONE repartition exchange whose
      // subtree is canonically identical under all four consumers
      // (pairs, typeCount×2, nSess) — 4 static copies of (window
      // exchange + basket repartition) = 8 mentions, materialized
      // once each at runtime by AQE's stage cache, + pairs/typeCount
      // /nSess aggs + output sort. The old 10 was a self-join form
      // that recomputed the sessionization window four times.
      "q267_assoc_rules" -> 13,
      "q269_source_assortativity" -> 20,
      "q50_equality_export" -> 0,
      "q57_stream_window" -> 1,
      "q65_knn_pq" -> 4,
      "q66_knn_ivfpq" -> 5,
      "q88_snapshot_reimport" -> 0,
      "q92_manifest_reimport" -> 0,
      "q93_ann_eval" -> 0)
    for ((name, budget) <- budgets.toSeq.sortBy(_._1)) {
      val p = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      val shuffles = "Exchange (hash|range|Single)".r.findAllIn(p).size
      assert(shuffles <= budget,
        s"$name plans $shuffles shuffles, budget $budget:\n${p.take(3000)}")
    }
  }

  test("no query plans an unbroadcast cartesian product") {
    for ((name, fn) <- graft.SparkEntry.queries) {
      val p = fn(spark, dir).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name plans CartesianProduct")
    }
  }

  test("similarity queries use the native vec_dot kernel, not boxed lambdas") {
    for (name <- Seq("q29_embed_norm", "q30_knn_brute", "q31_cosine_neardup",
        "q39_cell_neardup")) {
      val p = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.analyzed.toString
      assert(p.contains("vec_dot"), s"$name lost the vec_dot kernel")
    }
  }

  test("q55/q62 band keys come from the native one-pass srp kernel") {
    for (name <- Seq("q55_srp_neardup", "q62_srp_sized")) {
      // the RAW module query, not the PlanMemo-wrapped entry: since
      // the memo serves the OPTIMIZED tree (round 22), a served plan
      // shows the cached signature subtree as an InMemoryRelation
      // leaf and the kernel expression lives inside its cached plan —
      // the audit pins the query DEFINITION, which the raw fn exposes
      val analyzed = Similarity.queries(name)(spark, dir)
        .queryExecution.analyzed
      val usesNative = analyzed.collect { case node =>
        node.expressions.exists(
          _.exists(_.isInstanceOf[graft.expressions.SrpBandKeys]))
      }.exists(identity)
      assert(usesNative, s"$name lost the native graft_srp_bands kernel")
    }
  }

  test("q75 pivot with an explicit value list plans no distinct pre-scan") {
    // an implicit pivot runs a values-discovery aggregate first; the
    // explicit list keeps the plan at ONE aggregate over one scan
    val p = graft.SparkEntry.queries("q75_pivot")(spark, dir)
      .queryExecution.optimizedPlan.toString
    val scans = "Relation".r.findAllIn(p).size
    assert(scans == 1, s"pivot must scan events exactly once:\n${p.take(2000)}")
  }

  test("q70 tfidf broadcasts the vocabulary and the corpus-size sides") {
    val p = graft.SparkEntry.queries("q70_tfidf")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1 &&
      p.contains("BroadcastNestedLoopJoin"),
      s"df must broadcast-hash-join and N must broadcast as one row:\n${p.take(3000)}")
  }

  test("q71 never reshuffles the fact side (stats broadcast back)") {
    val p = graft.SparkEntry.queries("q71_outlier_z")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q82 centroid aggregation is a single combined shuffle") {
    val p = graft.SparkEntry.queries("q82_label_centroids")(spark, dir)
      .queryExecution.executedPlan.toString
    // partial + final HashAggregate around exactly one exchange (plus
    // the output-order range exchange)
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"centroids must shuffle once:\n${p.take(2000)}")
    assert(p.contains("HashAggregate"), p.take(2000))
  }

  test("q188 quantization stats broadcast back; corpus never reshuffles") {
    val p = plan("q188_int8_quant")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q186 kill list broadcasts into the survivor accounting") {
    val p = plan("q186_semdedup")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q187 probe join is a hash equi-join on (lang, rank)") {
    val p = plan("q187_sorted_neighborhood")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q189 top-k window runs over the aggregated pair relation only") {
    val p = plan("q189_bpe_merge_stats")
    // the window's sort input must be the (lang, pair) aggregate —
    // HashAggregate appears below the Window operator, so the corpus
    // explode is aggregated before any window state builds
    val wIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("HashAggregate")
    assert(wIdx >= 0 && aggIdx >= 0, p.take(2000))
    assert(p.indexOf("HashAggregate", wIdx) >= 0,
      s"window must consume the aggregate, not raw pairs:\n${p.take(2000)}")
  }

  test("q211–q214 broadcast their model/stats relations onto the corpus") {
    // NB model (vocab-sized), DSIR log-ratio table (64 rows), the
    // per-(label,dim) centroid sums, and the per-source count side
    // must all ship TO the big scan, never shuffle it
    for (name <- Seq("q211_nb_gate", "q212_dsir_select",
        "q213_prototype_prune", "q214_source_calibration")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"),
        s"$name lost its model broadcast:\n${p.take(2000)}")
    }
    // q213's corpus side must not re-shuffle for the stats join: the
    // only hash exchanges are the stats aggregation itself, the
    // vec-level distance assembly, and the final per-label report
    val p213 = plan("q213_prototype_prune")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p213).length
    assert(exchanges <= 3,
      s"q213 plans $exchanges hash exchanges:\n${p213.take(3000)}")
  }

  test("q215/q216 stay cell-local / broadcast-bounded") {
    // q215's IVF assignment is a scan-local fold (no exchange to
    // assign cells); the only shuffles are the cell join's two sides
    // and the two report aggregations
    val p215 = plan("q215_label_noise")
    val ex215 = "Exchange hashpartitioning".r.findAllIn(p215).length
    assert(ex215 <= 5,
      s"q215 plans $ex215 hash exchanges:\n${p215.take(3000)}")
    // q216's fixed query set broadcasts over both scans — the corpus
    // is never shuffled for the similarity passes
    val p216 = plan("q216_trunc_recall")
    assert(p216.contains("Broadcast"),
      s"q216 lost the query-set broadcast:\n${p216.take(2000)}")
  }

  test("q218/q219 ship their bounded relations to the corpus scan") {
    // q218: the top-k winners, per-source totals, and the scalar
    // token count all broadcast; the top-k itself plans without a
    // global sort
    val p218 = plan("q218_stopword_lift")
    assert(p218.contains("TakeOrderedAndProject"),
      s"q218 must plan the induced head as top-k:\n${p218.take(2000)}")
    assert("BroadcastHashJoin".r.findAllIn(p218).size >= 2,
      s"q218 lost its winner/source broadcasts:\n${p218.take(2000)}")
    // q219: assignment is the scan-local seed fold (no exchange to
    // assign); the only hash exchanges are the per-(cell,dim) stats
    // aggregation and the per-cell report
    val p219 = plan("q219_index_staleness")
    val ex219 = "Exchange hashpartitioning".r.findAllIn(p219).length
    assert(ex219 <= 2,
      s"q219 plans $ex219 hash exchanges:\n${p219.take(3000)}")
  }

  test("q220/q221 keep the filter broadcast and one stream shuffle") {
    // q220: the bloom words relation (≤ ⌈m/62⌉ rows) must ship TO the
    // probe scan, never shuffle it
    val p220 = plan("q220_bloom_fpr")
    assert(p220.contains("BroadcastHashJoin"),
      s"q220 lost the bloom-words broadcast:\n${p220.take(2000)}")
    // q221: one event_type shuffle feeds both windows and the argmax
    val p221 = plan("q221_cusum_changepoint")
    val ex221 = "Exchange hashpartitioning".r.findAllIn(p221).length
    assert(ex221 <= 1,
      s"q221 plans $ex221 hash exchanges:\n${p221.take(3000)}")
  }

  test("q222/q223 route via scan-local ring / bounded-bin selection") {
    // q222 (re-adjudicated round 22): routing is a SCAN-LOCAL
    // expression over the construction-time ring constant — the plan
    // must carry NO ring relation at all (the old 128× fan-out
    // crossJoin + SortAggregate + right SortMergeJoin shipped every
    // key through two extra shuffles per route, four pipelines per
    // action). element_at over the sorted threshold array is the
    // successor select; one corpus pass feeds the |nodes|² grid.
    val p222 = plan("q222_consistent_hash")
    assert(!p222.contains("LocalTableScan"),
      s"q222 re-grew a ring relation:\n${p222.take(2000)}")
    assert(!p222.contains("BroadcastNestedLoopJoin Cross BuildRight (2)"),
      s"q222 re-grew the key-side fan-out:\n${p222.take(2000)}")
    assert(p222.contains("element_at"),
      s"q222 lost the scan-local successor select:\n${p222.take(2000)}")
    // one corpus-pass grid (3 canonically-identical static copies,
    // stage-reused at runtime) + nb/na regroups + the 16-row full
    // outer's two inputs + the output sort; the old fan-out form
    // planned 18
    val ex222 = "Exchange (hash|range|Single)".r.findAllIn(p222).size
    assert(ex222 <= 9,
      s"q222 plans $ex222 shuffles (grid reuse lost?):\n${p222.take(3000)}")
    // q223: the phase-1 span/target relations broadcast back; the
    // phase-2 sort must be a WINDOW over the bin join, not a global
    // Sort of the stream
    val p223 = plan("q223_exact_median")
    assert("BroadcastHashJoin".r.findAllIn(p223).size >= 2,
      s"q223 lost the span/target broadcasts:\n${p223.take(2000)}")
  }
}
