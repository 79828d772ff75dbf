package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Plan-shape assertions: the scale properties the code comments claim
  * (pushdown, pruning, map-side partials, single exchanges) must
  * survive refactors — `.explain` by hand doesn't regress-test itself. */
class PlanSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"
  private def plan(q: String): String = {
    val spark = SparkSpec.spark
    graft.SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString
  }

  test("q01 pushes filters and prunes columns into the parquet scan") {
    val p = plan("q01_scan_filter_project")
    // plan .toString truncates long field lists — assert on stable prefixes
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), IsNotNull(c_acctbal), " +
      "EqualTo(c_mktsegment,BUILDING)"), p)
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string,c_acctbal:double,c_mktsegment:string"), p)
  }

  test("q37 aggregator runs a partial ObjectHashAggregate before the exchange") {
    val p = plan("q37_topk_agg")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning(c_nationkey")
    assert(exchangeIdx > 0, p)
    // a partial aggregate must appear BELOW (after, in tree print) the exchange
    assert(p.indexOf("ObjectHashAggregate", exchangeIdx) > 0, p)
  }

  test("q02 group-agg: two exchanges (distinct-agg expansion), partials before each") {
    val p = plan("q02_group_agg")
    // countDistinct rewrites to a two-level aggregate: (key, distinct col)
    // partials → exchange → merge → exchange on key. More would mean the
    // partial aggregation broke.
    assert(p.linesIterator.count(_.contains("Exchange")) === 2, p)
    assert(p.contains("partial_count"), p)
  }

  test("q27 sessionize reuses one (user_id) exchange for both windows") {
    val p = plan("q27_sessionize")
    // two window fns + final agg over the same partitioning: exchanges
    // must not multiply per window
    assert(p.linesIterator.count(_.contains("Exchange")) <= 2, p)
  }

  test("q59 inverted index: bounded aggregates, no Expand, no collect_set") {
    val p = plan("q59_inverted_index")
    // the r4 countDistinct+collect_set shape planned an Expand (distinct
    // rewrite) and an unbounded per-term set buffer; the r5 two-stage
    // plan must show neither — just hash aggregates + the MinK udaf
    assert(!p.contains("Expand"), p)
    assert(!p.contains("collect_set"), p)
    assert(p.contains("ObjectHashAggregate"), p) // MinK partial+merge
  }

  test("q82 BM25 top-N plans TakeOrderedAndProject, not a global sort or unbounded window") {
    val p = plan("q82_bm25_search")
    // the top-N must be per-partition-truncating (orderBy.limit →
    // TakeOrderedAndProject); a `Sort` over the full scored set or a
    // single-partition Window over unbounded rows would be the scale bug
    assert(p.contains("TakeOrderedAndProject"), p)
    // the one Window (rank numbering) runs over the already-limited
    // Bm25TopN rows — it must sit ABOVE the take in the plan tree
    val takeIdx = p.indexOf("TakeOrderedAndProject")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0 && winIdx < takeIdx,
      s"rank window must be above the top-N truncation:\n$p")
  }

  test("q11 autoencoder scoring plan is shuffle-free") {
    val p = plan("q11_autoencoder_score")
    assert(!p.contains("Exchange"), p)
  }

  test("q85 deterministic split is a pure map: no exchange, no RNG") {
    val p = plan("q85_deterministic_split")
    // the split's whole value at 100 TB is costing exactly one scan —
    // any Exchange (or a rand() sneaking in over the md5 bucketing)
    // would break reproducibility or add a corpus-wide shuffle
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("rand"), p)
  }

  test("q87 BPE pair stats: pair explode runs over the vocab, not the corpus") {
    val p = plan("q87_bpe_pairs")
    // word-freq aggregate FIRST (corpus → vocab contraction), then the
    // character-pair generate over distinct words only: the Generate for
    // pairs must sit above the word aggregate's exchange, and the top-N
    // must truncate per partition
    assert(p.contains("TakeOrderedAndProject"), p)
    val wordAggIdx = p.indexOf("Exchange hashpartitioning(word")
    assert(wordAggIdx > 0, p)
    val pairGen = p.indexOf("Generate explode(transform(sequence")
    assert(pairGen >= 0 && pairGen < wordAggIdx,
      s"pair explode must consume the word aggregate, not raw docs:\n$p")
  }

  /** Count Spark jobs launched while `body` runs. The listener bus is
    * async, so the count is polled until stable; a lost race can only
    * UNDERcount, so the ≤-bound assertions below cannot flake red. */
  private def countJobs(body: => Unit): Int = {
    val sc = SparkSpec.spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(l)
    try {
      body
      var prev = -1
      var cur = n.get()
      var spins = 0
      while (cur != prev && spins < 20) {
        Thread.sleep(150); prev = cur; cur = n.get(); spins += 1
      }
      cur
    } finally sc.removeSparkListener(l)
  }

  // Job-count regression guards: the class of scale bug plan-string
  // assertions can't see — driver loops issuing a job per group, or
  // hidden recomputation of an unpersisted lineage. Bounds are upper
  // bounds with a little slack; the regression they catch is O(|groups|)
  // or O(rounds²) blowup, not a ±1 drift.

  test("q77 launches a FIXED number of jobs, independent of language count") {
    val spark = SparkSpec.spark
    // shape today: 1 lang-count collect + the grouped two-pass bracket
    // (sketch, slice — counts are reused from the quota math) + the
    // result collect; AQE runs each shuffle stage as its own job, so the
    // measured total is 10, fixed. The r7 per-language driver loop cost
    // ~3 jobs PER language ≈ 19+ at the 5 test languages (and scales
    // with |langs|); 12 is the tripwire between the two shapes.
    val jobs = countJobs {
      graft.SparkEntry.queries("q77_quota_sample_threshold")(spark, sfDir)
        .collect()
    }
    info(s"q77 jobs: $jobs")
    assert(jobs <= 12, s"q77 launched $jobs jobs — per-group driver loop regression?")
  }

  test("q90 collocation top-N is TakeOrderedAndProject, never a global sort") {
    val p = plan("q90_pmi_collocations")
    assert(p.contains("TakeOrderedAndProject"), p)
    val takeIdx = p.indexOf("TakeOrderedAndProject")
    val sortIdx = p.indexOf("Sort ")
    assert(sortIdx == -1 || sortIdx < takeIdx,
      "global Sort below the top-N — ordering the full pair table")
  }

  test("q89 temperature mixture launches a FIXED number of jobs like q77") {
    val spark = SparkSpec.spark
    // same grouped two-pass bracket + map-side filter shape as q77;
    // a per-language threshold loop would scale jobs with |langs|
    val jobs = countJobs {
      graft.SparkEntry.queries("q89_temperature_mixture")(spark, sfDir)
        .collect()
    }
    info(s"q89 jobs: $jobs")
    assert(jobs <= 12, s"q89 launched $jobs jobs — per-group driver loop regression?")
  }

  test("q92 decayed activity: one aggregate exchange, no window operator") {
    val p = plan("q92_decayed_activity")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"window operator in a plain-aggregate plan: $p")
    // one exchange for the user_id hash aggregate + the broadcast anchor
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"q92 shuffles $exchanges times; expected 1:\n$p")
  }

  test("final-plan fact scans stay fan-out-independent after the r8 audit fixes") {
    // each of these queries once re-executed its fact lineage per
    // consumer branch (the nested-HOF / no-cross-branch-exchange-reuse
    // traps, PERF_NOTES); the fix moved shared frontiers into
    // checkpoints or scalar literals. The FINAL plan's parquet-scan
    // count is the tripwire: a regression re-inlines a lineage and the
    // count jumps by the consumer fan-out.
    val bounds = Map(
      "q84_lm_score"         -> 1, // probe scan; model is checkpointed
      "q90_pmi_collocations" -> 0, // both count tables checkpointed
      "q93_robust_outliers"  -> 1, // med/mad folded to literals
      "q94_naive_bayes"      -> 1, // score scan; model checkpointed
      "q95_source_overlap"   -> 0, // per-gram sets checkpointed
      "q96_label_audit"      -> 1) // score scan; centroids checkpointed
    bounds.foreach { case (q, bound) =>
      val scans = "Scan parquet".r.findAllIn(plan(q)).size
      assert(scans <= bound,
        s"$q final plan has $scans parquet scans (bound $bound) — consumer fan-out regression?")
    }
  }

  test("q123/q128 span queries: ONE parquet scan, no join (the measured window shape)") {
    // the agg+join formulation re-ran the tokenize+md5 lineage per
    // consumer (2 scans) and was measured 45% slower (PERF_NOTES r10)
    for (q <- Seq("q123_substring_spans", "q128_incremental_spans")) {
      val p = plan(q)
      val scans = "Scan parquet".r.findAllIn(p).size
      assert(scans == 1, s"$q has $scans parquet scans — agg+join regression?")
      assert(!p.contains("Join"), s"$q plan grew a join:\n$p")
    }
  }

  test("q131 cohort join-back reuses the user_id exchange (2 exchanges total)") {
    val p = plan("q131_cohort_retention")
    // user_id exchange (agg + join both sides aligned) + the final
    // (cohort, offset) distinct/count exchange pair
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 3, s"q131 has $exchanges exchanges:\n$p")
  }

  test("q133 builds both CMS grids and both exact counts from ONE scan per grain") {
    val p = plan("q133_join_cardinality")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"q133 has $scans fact scans — per-slice rebuild regression?")
    // membership disjunction reaches the scan
    assert(p.contains("PushedFilters: [Or(EqualTo(l_returnflag,R),GreaterThan(l_quantity,30.0))]"), p)
  }

  test("q04 flag join-back: fact side unshuffled, no fixed-cardinality window") {
    val p = plan("q04_window_flag")
    assert(!p.contains("Window"),
      s"25-key window funnel crept back into q04:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    // the only exchanges allowed are the dim-side aggregate's partial
    // exchange + the broadcast itself — the probe-side customer scan
    // must stream map-side
    assert(!p.contains("Exchange hashpartitioning(c_custkey"), p)
  }

  test("q14 argmax-per-key: partial aggregate before the exchange, no window") {
    val p = plan("q14_window_topn")
    assert(!p.contains("Window"), s"row_number window crept back into q14:\n$p")
    // struct-max plans as SortAggregate (struct buffers aren't
    // hash-aggregable) — fine: the property that scales is the PARTIAL
    // max below the exchange, so one struct per key crosses the wire
    // instead of every order row; the sort it pays is task-local by
    // key, not the window's full-shuffle-then-sort
    val exchangeIdx = p.indexOf("Exchange hashpartitioning(o_custkey")
    assert(exchangeIdx > 0, p)
    assert(p.indexOf("partial_max", exchangeIdx) > 0,
      s"no map-side partial below the exchange:\n$p")
    assert(p.linesIterator.count(_.contains("Exchange")) <= 1, p)
  }

  test("q110 k-means launches O(iterations) jobs (checkpointed codebook rounds)") {
    val spark = SparkSpec.spark
    // 2 Lloyd rounds + final assign: each round is one assignment scan
    // into a bounded centroid aggregate materialized by localCheckpoint.
    // The count is only deterministic relative to the durable
    // kmeans_centroids table's state (warm probe ≈ 7 jobs; cold build
    // measured 22 on a fresh 32-core box — the r18 "16" was taken with
    // partially-warm session state, which is why this test flaked green
    // or red depending on what ran before it). Force the COLD path —
    // drop the catalog entry and the on-disk index — so the asserted
    // number covers the full build+assign and never depends on suite
    // order or leftover /tmp state. A per-cluster driver loop would
    // cost ≥ 3·nlist ≈ 42 jobs even at sf0.001's 14 centroids; 30 is
    // the tripwire between the two shapes.
    graft.ops.DurableIndex.drop(spark, sfDir, graft.sim.KMeans.Centroids)
    val jobs = countJobs {
      graft.SparkEntry.queries("q110_kmeans_assign")(spark, sfDir).collect()
    }
    info(s"q110 jobs: $jobs")
    assert(jobs <= 30, s"q110 launched $jobs jobs — per-cluster loop regression?")
  }

  test("iterative CC job counts stay O(rounds), not O(rounds^2)") {
    val spark = SparkSpec.spark
    for ((q, bound) <- Seq("q45_dedup_clusters" -> 30, "q64_cc_largestar" -> 40)) {
      val jobs = countJobs {
        graft.SparkEntry.queries(q)(spark, sfDir).collect()
      }
      info(s"$q jobs: $jobs")
      assert(jobs <= bound,
        s"$q launched $jobs jobs (bound $bound) — lineage/recompute regression?")
    }
  }

  test("q117 HLL: one token scan, registers max-merged map-side before the exchange") {
    val p = plan("q117_hll_distinct")
    // the whole point of a register sketch is that ONE corpus scan
    // produces per-task partial vectors; a second scan or a
    // partial-less exchange would ship raw token rows
    assert("Scan parquet".r.findAllIn(p).size === 1, p)
    assert(p.contains("partial_max"), p)
  }

  test("q135 skew profile: pruned scan, broadcast totals, bounded head — no global sort") {
    val p = plan("q135_key_skew_profile")
    // the fact scan must read ONLY the join key — the profile's cost at
    // 100 TB is one column off the fact table, nothing more
    assert(p.contains("ReadSchema: struct<l_suppkey:bigint>"), p)
    // the one-row totals side joins as a broadcast (never a shuffle)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // the hot head truncates per-partition — a global Sort over the
    // key-sized table would be the scale bug
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_count"), p) // map-side combine on the fact scan
  }

  test("q136 compaction plan: ONE lang exchange feeds both the window and the aggregate") {
    val p = plan("q136_compaction_plan")
    // window partitionBy(lang) shuffles once; groupBy(lang, bin_id) is
    // satisfied by the same hashpartitioning(lang) clustering — a second
    // hash exchange would re-shuffle every file row for no reason
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1, p)
    assert(p.contains("Exchange hashpartitioning(lang"), p)
    // manifest columns only: the scan must not drag text/embedding bytes
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>"), p)
  }

  test("q137 snapshot diff: keyed full-outer merge join over pruned scans — no broadcast, no cartesian") {
    val p = plan("q137_snapshot_diff")
    // snapshots are the same size by definition: the only scale-safe
    // shape is one hash exchange per side into a merge join
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // fingerprints fold in-scan: only the key and the text feed the join
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("q138 banding recall: sparse equi-joins only — the |S|² pair space is never enumerated") {
    val p = plan("q138_banding_recall")
    // the audit's scale claim: every PAIR-producing join is an equi
    // hash/merge join on shingle-hash or band keys; a nested-loop or
    // cartesian over the sample would be the 27-second shape this
    // design replaced (and would grow with the |S| cap squared). The
    // only nested-loop joins allowed are the THREE documented 1-row
    // scalar crosses (n_s × ip × cd for the disjoint remainder).
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 3, p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("q142 session conversion reuses q27's one (user_id) exchange plus the tiny depth agg") {
    val p = plan("q142_session_conversion")
    // two stacked windows + session agg ride ONE user_id exchange (the
    // q27 shape); the depth rollup adds one ≤(cap+1)-row exchange
    assert(p.linesIterator.count(_.contains("Exchange")) <= 3, p)
  }

  test("q145 quality suite: one fact scan, pruned broadcast dim, no third exchange beyond distinct-agg") {
    val p = plan("q145_quality_checks")
    // one orders scan + one customer scan — the referential check must
    // ride the same aggregate pass, not re-scan the fact
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 2, p)
    assert(p.contains("ReadSchema: struct<c_custkey:bigint"), p)
    assert(p.linesIterator.count(_.contains("BroadcastExchange")) === 1, p)
    // the only exchanges are the distinct-agg rewrite's (group-on-key
    // partial + two-phase global): ≤ 3, none data-shaped
    assert(p.linesIterator.count(l => l.contains("Exchange") &&
      !l.contains("BroadcastExchange") && !l.contains("Reused")) <= 3, p)
  }

  test("q147 grouping sets: the Expand sits ABOVE the base-grain aggregate, one scan") {
    val p = plan("q147_grouping_sets")
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 1, p)
    val firstAgg = p.indexOf("HashAggregate")
    val expand = p.indexOf("Expand")
    assert(expand >= 0 && firstAgg >= 0, p)
    // tree prints root-first: the Expand printing AFTER the final agg
    // but BEFORE the base-grain partial means it consumes the partial
    // frame, not the corpus scan (which prints last)
    val scan = p.indexOf("Scan parquet")
    assert(expand < scan, p)
    // base grain aggregates before the expand: a partial_count under
    // the scan-side aggregate
    assert(p.contains("partial_count"), p)
  }

  test("q146 zone-map audit: one scan per layout, zorder side prunes event_id") {
    val p = plan("q146_zone_map_skipping")
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 3, p) // linear + n_total + zorder
    // the zorder assignment needs no event_id: its scan reads 2 columns
    assert(p.contains("ReadSchema: struct<ts:timestamp,user_id:bigint>"), p)
  }

  test("q149 SQ8: every cross join is a broadcast; the top-k is the bounded aggregate") {
    val p = plan("q149_sq8_topk")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross"), p)
    // bounded TopKByScore partial before the final exchange
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("q116 PageRank job count stays O(rounds) — lineage truncated per round") {
    val spark = SparkSpec.spark
    val jobs = countJobs {
      graft.SparkEntry.queries("q116_pagerank")(spark, sfDir).collect()
    }
    info(s"q116 jobs: $jobs")
    // measured 32: ~2/3 is the band+verify frontend feeding the edge
    // checkpoint (the same frontend under q45's 30-job bound); the
    // loop itself is ~3 jobs/round (AQE stages of the eager
    // checkpoint). Un-truncated lineage or a deg/join recompute inside
    // the loop (the shape this pin caught at 36 before the edgesDeg
    // hoist) grows the count with PrIters² — pin just above measured
    assert(jobs <= 34,
      s"q116 launched $jobs jobs — per-round checkpoint regression?")
  }

  test("q152 MERGE: one full-outer join, each side exchanges exactly once, change filter pushed") {
    val p = plan("q152_merge_upsert")
    // the copy-on-write kernel is ONE join — a second join or a window
    // would be a rewrite regression
    assert(p.linesIterator.count(_.contains("Join")) === 1, p)
    assert(p.contains("FullOuter"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 2, p)
    // the change-set derivation filter reaches its scan's DataFilters
    assert(p.contains("DataFilters: [((((doc_id"), p)
  }

  test("q153 SCD2: all three windows + the run rollup ride ONE (user_id) exchange") {
    val p = plan("q153_scd2_history")
    // lag-flag window, running-sum window, run-grain lead window, and
    // the groupBy(user_id, run_id) aggregate: hashpartitioning(user_id)
    // satisfies every one of their distributions — exactly one shuffle
    // of the full events table, ever
    assert(p.linesIterator.count(_.contains("Exchange")) === 1, p)
    assert(p.contains("Exchange hashpartitioning(user_id"), p)
  }

  test("q154 purge audit: broadcast request list, no shuffle join, fact aggregated under one pass") {
    val p = plan("q154_gdpr_delete_audit")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("LeftOuter"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // registered query derives the request list arithmetically → 2
    // events scans (doc'd); the FACT pass itself aggregates map-side
    // before the one event_type exchange
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 2, p)
    assert(p.contains("partial_sum"), p)
  }

  test("q154 production entry (external request list) reads the fact exactly once") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val req = Seq(13L, 42L).toDF("user_id")
    val p = graft.ops.Maintenance
      .gdprDeleteAuditFor(graft.ops.Tables.events(spark, sfDir), req)
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("Scan parquet")) === 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q156 bucketed MERGE: base side exchange-free, only the change-set shuffles") {
    val p = plan("q156_merge_upsert_bucketed")
    assert(p.contains("FullOuter"), p)
    // the whole point: ONE exchange (the change-set), zero for the base
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1, p)
    // and the base side join leg reads the bucketed files directly
    assert(p.contains("Bucketed: true"), p)
    assert(p.contains("SelectedBucketsCount: 8 out of 8"), p)
  }

  test("q157: the sketch rule (and only it) broadcasts the cataloged dims; fact-fact stays SMJ") {
    val spark = SparkSpec.spark
    graft.plans.SketchCatalog.analyze(spark, s"$sfDir/nation.parquet", "n_nationkey")
    graft.plans.SketchCatalog.analyze(spark, s"$sfDir/customer.parquet", "c_custkey")
    val autoKey = "spark.sql.autoBroadcastJoinThreshold"
    val savedAuto = spark.conf.get(autoKey)
    spark.conf.set(autoKey, "-1")
    try {
      // rule OFF: with auto-broadcast disabled and no hints, every
      // join shuffles — the baseline the rule must improve on
      spark.conf.unset("spark.graft.sketchJoin.broadcastRows")
      val off = graft.ops.RelationalQueries.unhintedRevenueJoin(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!off.contains("BroadcastHashJoin"), off)
      assert(off.linesIterator.count(_.contains("SortMergeJoin")) === 3, off)
      // rule ON: both cataloged dims broadcast; the uncataloged
      // lineitem ⋈ orders join must NOT be touched
      spark.conf.set("spark.graft.sketchJoin.broadcastRows", "1000000")
      val on = graft.ops.RelationalQueries.unhintedRevenueJoin(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(on.linesIterator.count(_.contains("BroadcastHashJoin")) === 2, on)
      assert(on.linesIterator.count(_.contains("SortMergeJoin")) === 1, on)
    } finally {
      spark.conf.set(autoKey, savedAuto)
      spark.conf.unset("spark.graft.sketchJoin.broadcastRows")
    }
  }

  test("q161 merge-on-read scan: NO join — one struct-max exchange with map-side partials") {
    val p = plan("q161_merge_on_read")
    assert(!p.contains("Join"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1, p)
    assert(p.contains("partial_max"), p)
  }

  test("q155 attribution: equi-join on user_id with the hour band residual — never a time-bucket explosion") {
    val p = plan("q155_interval_attribution")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // equi part on user_id (broadcast at this SF; SMJ at scale — both
    // keep the band as a residual on the same join node)
    assert(p.contains("Join [user_id"), p)
    assert(p.contains("p_ts"), p)
    // both side scans push their event_type filter down
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,view)"), p)
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)"), p)
  }

  test("q185 blocklist screen: partials inside mapPartitions, grid-bounded exchanges only") {
    val p = plan("q185_blocklist_screen")
    // the doc-grain pass emits pre-aggregated (source, pidx) partials
    // from inside mapPartitions; the only hash exchanges after it carry
    // the |sources|×K grid (sum-merge) and the distinct-source dim —
    // the K-pattern screen must never shuffle doc-grain rows
    assert(p.contains("MapPartitions"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 4, p)
    // the pattern dim joins broadcast, never shuffled
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("q186 time travel adds ZERO exchanges over the q153 history build") {
    val p = plan("q186_time_travel")
    // the AS-OF read is q153's single (user_id) exchange + a filter;
    // the midpoint T is resolved before planning (2-long scalar agg)
    assert(p.linesIterator.count(_.contains("Exchange")) === 1, p)
    assert(p.contains("Exchange hashpartitioning(user_id"), p)
  }

  test("q188 containment: sparse equi-joins only — no cartesian, no nested loop, no Expand") {
    val p = plan("q188_containment_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Expand"), p)
  }

  test("q198 KS drift: value-grain after one corpus exchange, pairs broadcast") {
    val spark = SparkSpec.spark
    import org.apache.spark.sql.execution.window.WindowExec
    val exec = graft.SparkEntry.queries("q198_ks_drift")(spark, sfDir)
      .queryExecution.executedPlan
    val p = exec.toString
    // the (source, v) count grid is localCheckpoint'ed before this plan,
    // so the corpus-sized exchange is already paid; everything visible
    // here is value-grain: the pair fan-outs join BROADCAST, the CDF-gap
    // window partitions by pair (never unpartitioned), and hash
    // exchanges stay within the delta/max grain
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    val unpartitioned = exec.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty, s"single-task global window: $unpartitioned")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 4, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q206 KN bigram LM: top-N plans TakeOrderedAndProject, no global sort") {
    val p = plan("q206_kn_bigram_lm")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the marginals are grid-grain joins; no corpus-sized sort anywhere
    assert(!p.linesIterator.exists(l =>
      l.contains("Sort ") && l.contains("global=true")), p)
  }

  test("q207 source ablation: keyed joins only — no cartesian, scalar side broadcast") {
    val p = plan("q207_source_ablation")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q201 epoch shuffle: two-phase rank — no unpartitioned window, range-partitioned sort") {
    val spark = SparkSpec.spark
    import org.apache.spark.sql.execution.window.WindowExec
    val exec = graft.SparkEntry.queries("q201_epoch_shuffle")(spark, sfDir)
      .queryExecution.executedPlan
    val unpartitioned = exec.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty, s"single-task global window: $unpartitioned")
  }

  test("q215/q219 screen audits: ONE scan into one aggregate, no join, no window") {
    for (q <- Seq("q215_kappa_labelers", "q219_ece_calibration")) {
      val p = plan(q)
      assert(p.linesIterator.count(_.contains("Scan parquet")) === 1, s"$q: $p")
      assert(!p.contains("Join"), s"$q: $p")
      assert(!p.contains("Window"), s"$q: $p")
      assert(p.contains("partial_"), s"$q: $p") // map-side partials
    }
  }

  test("q218/q224 grid audits: ONE corpus exchange, partials before it") {
    for ((q, key) <- Seq("q218_tokenizer_stats" -> "lang",
      "q224_length_gini" -> "source")) {
      val p = plan(q)
      val ex = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
      assert(ex.size === 1 && ex.head.contains(key), s"$q: $p")
      assert(p.contains("partial_"), s"$q: $p")
    }
  }

  test("q216 MWU: pair fan-outs broadcast, windows keyed by pair — no corpus-keyed second exchange") {
    val p = plan("q216_mwu_drift")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the ordered window partitions on (sa, sb) — never unpartitioned
    val spark = SparkSpec.spark
    import org.apache.spark.sql.execution.window.WindowExec
    val exec = graft.SparkEntry.queries("q216_mwu_drift")(spark, sfDir)
      .queryExecution.executedPlan
    val unpartitioned = exec.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(unpartitioned.isEmpty, s"single-task global window: $unpartitioned")
  }

  test("q217 CUSUM: windows and totals run on the frozen day grid, never the corpus") {
    val p = plan("q217_cusum_drift")
    // the day-count aggregate is checkpointed (grid-sized, feeds the
    // totals AND the window chain), so the registered plan reads the
    // frozen grid twice and contains NO corpus-keyed exchange at all —
    // only the deliberate single-partition moves on the bounded grid
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.linesIterator.count(_.contains("Window ")) === 2, p)
    assert(p.contains("BroadcastExchange"), p) // scalar totals broadcast
  }

  test("q222 link prediction: top-N is TakeOrdered, never a global sort of candidates") {
    val p = plan("q222_link_prediction")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.linesIterator.exists(l =>
      l.contains("Sort ") && l.contains("global=true")), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q223 compression probe: a pure map — no exchange anywhere") {
    val p = plan("q223_compression_probe")
    assert(!p.contains("Exchange"), p)
  }

  test("q246 seq3: both leads share ONE (user) exchange; triple agg has partials") {
    val p = plan("q246_seq3_patterns")
    // one user exchange for the two lead windows, one for the triple
    // aggregate, one for the distinct-user expansion — never more
    assert(p.linesIterator.count(_.contains("Exchange")) <= 3, p)
    assert(p.contains("partial_count"), p)
  }

  test("q255 datacard: ONE documents scan feeds the fp window and both aggregates") {
    val p = plan("q255_source_datacard")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) === 1, p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("q256 bootstrap: the N·R explode stays map-side — partial agg before the (source,r) exchange") {
    val p = plan("q256_bootstrap_ci")
    val gen = p.indexOf("Generate explode")
    val exch = p.indexOf("Exchange hashpartitioning(source")
    assert(gen > 0 && exch > 0, p)
    // a partial HashAggregate must sit between the explode and the
    // exchange in the printed tree (exchange above, partial below it)
    assert(p.substring(exch, gen).contains("HashAggregate"), p)
  }

  test("q260 scheduler: the plan materializes once — no second corpus scan, no corpus re-exchange") {
    val p = plan("q260_compaction_scheduler")
    // the checkpointed manifest feeds totals + ranked table: zero
    // FileScans (both consumers read the checkpoint) and no
    // corpus-keyed exchange on the scheduler side
    assert(!p.contains("FileScan parquet"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) === 0, p)
  }

  test("q282 pinned eval: the qid ceiling reaches the parquet query scans") {
    val p = plan("q282_jl_recall")
    // both legs filter qid <= EvalCoverageQMax; the predicate must
    // push through the top-k aggregates into the query-side embeddings
    // scans (the corpus sides scan everything, as they must)
    assert(p.contains("LessThanOrEqual(vec_id,4900)"), p)
  }

  test("q277 weighted minhash: shared tf contraction checkpointed — zero parquet re-scans") {
    val p = plan("q277_weighted_minhash")
    // tt and tf are localCheckpoint'ed shared frontiers (tf feeds the
    // signature replicas, both ptoks legs and both exact-audit joins):
    // the final plan must read only the checkpointed blocks, so the
    // corpus tokenize+aggregate cannot silently re-run per consumer
    assert(!p.contains("FileScan parquet"), p)
  }
}
