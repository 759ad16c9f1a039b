package graft

/** Physical-plan regression guards for the properties that matter at
  * 100 TB: filters reaching the parquet scan, column pruning, bounded
  * sides broadcast, and shared shuffles. These are the plan shapes the
  * scale design (SCALE.md) promises — a refactor that silently loses a
  * pushdown or adds an exchange should fail here, not in production.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(q: String): String = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.count() // finalize AQE so the executed plan is the real one
    df.queryExecution.executedPlan.toString
  }

  test("q1_agg: shipdate filter pushed to the scan, columns pruned") {
    val p = planOf("q1_agg")
    assert(p.contains("LessThanOrEqual(l_shipdate"), "filter not pushed to parquet")
    assert(!p.contains("l_orderkey"), "scan reads columns the query never uses")
  }

  test("q3_topk_join: dimension filters pushed, dims broadcast") {
    val p = planOf("q3_topk_join")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), "dim filter not pushed")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 1, "no broadcast join")
  }

  test("q5_multijoin: small sides broadcast, no cartesian") {
    val p = planOf("q5_multijoin")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2)
    assert(!p.contains("CartesianProduct"))
  }

  test("q6_filter_agg: predicates pushed, 4-column read schema") {
    val p = planOf("q6_filter_agg")
    // PushedFilters truncates in toString; the leading entries plus the
    // exact pruned ReadSchema pin the scan shape
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "q6 predicates not pushed to parquet")
    assert(p.contains("ReadSchema: struct<l_quantity:double," +
      "l_extendedprice:double,l_discount:double,l_shipdate:timestamp_ntz>"),
      "q6 must read only quantity/extendedprice/discount/shipdate")
  }

  test("q4_exists_priority: EXISTS stays a semi join, no distinct") {
    val p = planOf("q4_exists_priority")
    assert(p.contains("LeftSemi"), "EXISTS must plan as a left-semi join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q7/q10: nation broadcast, order-date filter pushed") {
    val p7 = planOf("q7_nation_volume")
    assert("BroadcastHashJoin".r.findAllIn(p7).length >= 2,
      "both nation aliases must broadcast")
    val p10 = planOf("q10_returned_topk")
    assert(p10.contains("GreaterThanOrEqual(o_orderdate"),
      "order-date filter must reach the orders scan")
    assert(p10.contains("EqualTo(l_returnflag,R)"),
      "returnflag filter must reach the lineitem scan")
  }

  test("top-k plans pre-reduce map-side (WindowGroupLimit / TakeOrdered)") {
    // per-group rank filter → WindowGroupLimit below the exchange;
    // global ORDER BY + LIMIT → TakeOrderedAndProject. Both cut each
    // map task's output to k rows before any shuffle — losing either
    // shape turns a top-k into a full sort at 100 TB.
    assert(planOf("sim_topk_bruteforce").contains("WindowGroupLimit"))
    assert(planOf("q10_returned_topk").contains("TakeOrderedAndProject"))
    assert(planOf("q3_topk_join").contains("TakeOrderedAndProject"))
  }

  test("q13_order_dist: orders pre-aggregate by custkey before the customer join") {
    val p = planOf("q13_order_dist")
    assert(p.contains("ReadSchema: struct<o_custkey:bigint>") ||
           p.contains("ReadSchema: struct<o_custkey:long>"),
      "orders scan must prune to the single join/group column")
    assert(!p.contains("CartesianProduct"))
  }

  test("q15_top_supplier: scalar max and survivors broadcast, no global sort") {
    val p = planOf("q15_top_supplier")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "the 1-row max and the handful of top suppliers must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q17_small_qty: brand part keys and per-part stats broadcast into the fact scan") {
    val p = planOf("q17_small_qty")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "both bounded sides must broadcast — the lineitem fact is scanned, never shuffled")
    assert(p.contains("EqualTo(p_brand,Brand#23)"), "brand filter not pushed to part scan")
  }

  test("q18_big_orders: HAVING runs on the lineitem aggregate before any join") {
    val p = planOf("q18_big_orders")
    assert(p.contains("TakeOrderedAndProject"), "top-100 must map-side pre-reduce")
    assert(!p.contains("CartesianProduct"))
  }

  test("q19_disjunctive: per-side sub-disjunctions of the cross-table OR pushed to both scans") {
    // Spark 4 extracts each side's OR from a disjunction spanning the
    // join and pushes it whole — strictly better than envelope hulls.
    // Losing this (an optimizer regression or a query rewrite that
    // blocks extraction) reverts both scans to full reads at 100 TB.
    val p = planOf("q19_disjunctive")
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)"),
      "quantity branch bounds must reach the lineitem parquet scan")
    assert(p.contains("EqualTo(p_brand,Brand#1)"),
      "brand branches must reach the part parquet scan")
  }

  test("q22_idle_customers: anti join prunes before broadcast nation join") {
    val p = planOf("q22_idle_customers")
    assert(p.contains("LeftAnti"), "NOT EXISTS must plan as a left-anti join")
    assert(p.contains("BroadcastHashJoin"), "nation must broadcast")
  }

  test("events_user_topk: rank filter becomes WindowGroupLimit below the exchange") {
    assert(planOf("events_user_topk").contains("WindowGroupLimit"))
  }

  test("events_anomaly: per-type stats broadcast back onto the hourly rollup") {
    val p = planOf("events_anomaly")
    assert(p.contains("BroadcastHashJoin"),
      "the |event types|-row stats side must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "joining hourly against stats must not shuffle the rollup again")
  }

  test("events_sessionize: both windows and the rollup share ONE keyed shuffle") {
    val p = planOf("events_sessionize")
    val keyedExchanges = "hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(keyedExchanges === 1,
      s"expected 1 shared user_id exchange, found $keyedExchanges")
  }

  test("events_asof_join: one keyed shuffle, no range/cartesian join") {
    val p = planOf("events_asof_join")
    // exactly one exchange partitioned on user_id ALONE (the shared
    // window); the (user_id, ts) exchange is the right side's dedup
    assert("hashpartitioning\\(user_id#\\d+L?, \\d+\\)".r.findAllIn(p).length === 1,
      "as-of join must be the union + single-window shape")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "as-of join must not fall back to a nested-loop/range join")
  }

  test("events_range_join: bucketed equi-join, no nested-loop range join") {
    val p = planOf("events_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "interval containment must stay an equi-join on (key, bucket)")
  }

  test("q8_market_share: part/region/nation sides broadcast, no cartesian") {
    val p = planOf("q8_market_share")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      "promo parts, region-nation semi side, and supplier nation must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q9_profit_proxy: part-name filter pushed, filtered parts broadcast") {
    val p = planOf("q9_profit_proxy")
    assert(p.contains("StringContains(p_name,red)"),
      "LIKE '%red%' must reach the part parquet scan")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "filtered parts and nation must broadcast")
  }

  test("customer_quartiles: ntile partitions by nation — no global sort") {
    val p = planOf("customer_quartiles")
    assert("hashpartitioning\\(c_nationkey".r.findAllIn(p).nonEmpty,
      "the window must shuffle keyed on nation, never range-partition globally")
  }

  test("events_user_rolling: ONE keyed shuffle feeds the range-frame window") {
    val p = planOf("events_user_rolling")
    val keyed = "hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(keyed === 1, s"expected 1 user_id exchange, found $keyed")
  }

  test("events_day_setops: INTERSECT/EXCEPT plan as keyed semi/anti joins") {
    val p = planOf("events_day_setops")
    assert(p.contains("LeftSemi"), "INTERSECT must plan as a left-semi join")
    assert(p.contains("LeftAnti"), "EXCEPT must plan as a left-anti join")
    assert(!p.contains("CartesianProduct"))
    // each day's user set feeds three set-ops — pinned at build time so
    // events is scanned once per day, not once per consumer (the r19
    // sweep measured 6 scans unpinned)
    val fileScans = "Scan parquet|FileScan".r.findAllIn(p).length
    assert(fileScans === 0,
      s"expected zero parquet scans (all set-ops read the pinned day sets), found $fileScans")
  }

  test("q11_important_stock: threshold scalar and output share the pinned per-part frame") {
    // the per-part stock-value aggregate is localCheckpoint'ed: both the
    // 1-row threshold scalar and the filtered output must ride the
    // materialized frame — unpinned, each branch re-ran the whole
    // partsupp⋈supplier⋈nation⋈region tree (r19 sweep: 10 scans → 0)
    val p = planOf("q11_important_stock")
    val fileScans = "Scan parquet|FileScan".r.findAllIn(p).length
    assert(fileScans === 0,
      s"expected zero parquet scans (both branches read the checkpoint), found $fileScans")
    val rddScans = "Scan ExistingRDD".r.findAllIn(p).length
    assert(rddScans >= 2,
      s"expected both branches on the checkpointed frame, found $rddScans RDD scans")
  }

  test("split ngram screens: shingle+split frame pinned, split derived in place") {
    // the (doc_id, shingle, split) frame feeds three consumers (train
    // set, leak/novelty join, eval totals) and split is a pure function
    // of doc_id — pinned and derived in place, the corpus explode runs
    // once and no splits join exists (r19 sweep: 6 scans → 0 each)
    for (q <- Seq("split_ngram_leakage", "split_ngram_novelty")) {
      val p = planOf(q)
      val fileScans = "Scan parquet|FileScan".r.findAllIn(p).length
      assert(fileScans === 0,
        s"$q: expected zero parquet scans (consumers read the pinned shingles), found $fileScans")
      val rddScans = "Scan ExistingRDD".r.findAllIn(p).length
      assert(rddScans >= 3,
        s"$q: expected all three consumers on the checkpointed frame, found $rddScans")
    }
  }

  test("text_trigram_backoff: uni/bigram count tables pinned, one probe each per join") {
    // uni and big each feed two backoff probes — pinned so the train
    // corpus tokenize+explode+aggregate runs once per table (r19 sweep:
    // 7 scans → 3: trigram counts, eval positions, corpus total)
    val p = planOf("text_trigram_backoff")
    val fileScans = "Scan parquet|FileScan".r.findAllIn(p).length
    assert(fileScans <= 3,
      s"expected ≤3 parquet scans (tri, eval, total; uni/big pinned), found $fileScans")
    val rddScans = "Scan ExistingRDD".r.findAllIn(p).length
    assert(rddScans >= 4,
      s"expected the four backoff probes on checkpointed tables, found $rddScans RDD scans")
  }

  test("dedup_edit_distance: banded Levenshtein evaluates inside the join, after the cheap guards") {
    val p = planOf("dedup_edit_distance")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Some(20)"),
      "distance must use the banded 3-arg levenshtein (O(d·n)), not the full matrix")
    val joinLine = p.linesIterator.find(_.contains("levenshtein"))
      .getOrElse(fail("levenshtein not in plan"))
    assert(joinLine.indexOf("levenshtein") > joinLine.indexOf("abs(("),
      "conjunct order regressed: the quadratic kernel must run AFTER the " +
        "id/length guards, or every same-block pair pays it (was 24s vs 1.5s at sf0.1)")
  }

  test("events_heavy_hitters: only the 1-row total crosses via broadcast") {
    val p = planOf("events_heavy_hitters")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the scalar total must broadcast onto the per-user aggregate")
    assert(!p.contains("CartesianProduct"))
  }

  test("cdc_scd2_history: version numbering and interval close share one window pass") {
    val p = planOf("cdc_scd2_history")
    // row_number and lead share a WindowSpec → Catalyst plans ONE
    // Window node over one emp_id exchange; a refactor that splits
    // them pays a second sort (and possibly a second shuffle)
    val windows = "\\bWindow\\b".r.findAllIn(p).length
    assert(windows === 1, s"expected 1 Window node, found $windows")
    assert(!p.contains("CartesianProduct"))
  }

  test("corpus_source_cap: rank-cap pre-reduces map-side via WindowGroupLimit") {
    val p = planOf("corpus_source_cap")
    assert(p.contains("WindowGroupLimit"),
      "row_number <= cap must plan as WindowGroupLimit so each map task " +
        "ships at most cap rows per source into the exchange")
  }

  test("events_session_paths: rn<=5 pre-reduces sessions via WindowGroupLimit, one exchange") {
    val p = planOf("events_session_paths")
    assert(p.contains("WindowGroupLimit"),
      "row_number <= 5 must plan as WindowGroupLimit so a bot session " +
        "contributes at most 5 rows to the path collect, not its whole event list")
    // the rank window partitions by (user_id, session_id) — a superset
    // of the sessionize window's user_id hash, so EnsureRequirements
    // must satisfy it from the existing exchange (extra sort only, no
    // second user-keyed shuffle)
    val userExchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(userExchanges === 1,
      s"expected exactly 1 user-keyed exchange shared by both windows, " +
        s"found $userExchanges:\n${p.take(1500)}")
  }

  test("sim_range_search: broadcast query block, no shuffle before the output sort") {
    // the threshold filter and the codegen'd dot must run scan-stage
    // against the broadcast 8-query block — a shuffle here would mean
    // the candidate corpus moved for a model-sized right side
    val p = planOf("sim_range_search")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "query block must broadcast")
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).length
    assert(exchanges <= 1,
      s"expected at most the output-sort exchange, found $exchanges:\n${p.take(1200)}")
  }

  test("events_seasonality: one aggregate exchange on the 168-cell frame") {
    // the scan must reduce to (dow, hour) partials map-side; the χ²
    // fold and peak window run on the dimension-sized frame
    val p = planOf("events_seasonality")
    assert("Scan parquet|FileScan".r.findAllIn(p).length === 0,
      "both branches must read the checkpointed 168-cell frame " +
        "(the scan is paid once at build time)")
    assert(p.contains("partial_count") || p.contains("partial count") ||
      p.contains("HashAggregate"), "map-side partials expected")
  }

  test("orders_backlog_timeline: running sum is the two-pass form, no single-partition window over data") {
    // the month frame is calendar-bounded, but the running sum must
    // still be globalRunningSum's range-exchange + broadcast offsets —
    // a Window.orderBy(month) directly over the DELTAS would drag the
    // order-grain rows into one task
    val p = planOf("orders_backlog_timeline")
    assert(p.contains("rangepartitioning"),
      "expected the two-pass range exchange of globalRunningSum")
  }

  test("events_freshness: frontier and readout share the pinned per-type frame, no re-scan") {
    // the |types|-row aggregate is localCheckpoint'ed at build time;
    // both consumers (the 1-row frontier max and the readout) must ride
    // that materialized frame — without the pin the frontier branch
    // re-ran the full events scan (fixed in r17; this pin keeps it so)
    val p = planOf("events_freshness")
    val fileScans = "Scan parquet|FileScan".r.findAllIn(p).length
    assert(fileScans === 0,
      s"expected zero parquet scans (both branches read the checkpoint), found $fileScans")
    val rddScans = "Scan ExistingRDD".r.findAllIn(p).length
    assert(rddScans >= 2,
      s"expected both branches on the checkpointed frame, found $rddScans RDD scans")
  }

  test("customer_rfm: per-customer frame persisted and reused across passes") {
    // the o_custkey exchange appears once per InMemoryTableScan printout
    // (the cached plan is inlined in toString), so count the SCANS: both
    // the boundary pass and the segment pass must read the cache — the
    // cached plan itself holds the one real orders shuffle
    val p = planOf("customer_rfm")
    val scans = "InMemoryTableScan".r.findAllIn(p).length
    assert(scans >= 2,
      s"expected the persisted per-customer frame on both passes, found $scans scans")
  }

  test("events_zorder_key: id filter pushed, z arithmetic inside codegen") {
    val p = planOf("events_zorder_key")
    assert(p.contains("LessThan(event_id,200)"), "event_id filter not pushed")
    // the 8-term interleave must stay ONE projection over the scan (a
    // z-order rewrite evaluates it for every row); the only exchange
    // is the output sort
    assert("\\bProject\\b".r.findAllIn(p).length <= 2,
      "z computation must stay a narrow projection pipeline over the scan")
    assert("\\bExchange\\b".r.findAllIn(p).length === 1,
      "only the output sort may exchange")
    assert(!p.contains("CartesianProduct"))
  }

  test("events_rollup_merge: partials combine map-side before every exchange") {
    val p = planOf("events_rollup_merge")
    // both refresh slices and the final merge must plan partial
    // aggregates — the partial table, not the fact table, crosses the
    // wire (the entire point of mergeable rollup state)
    assert(p.contains("partial_count") || p.contains("partial count"),
      "no map-side partial aggregation in the rollup plan")
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup_prefix_filter: candidate join is keyed on the shingle, never cartesian") {
    val p = planOf("dedup_prefix_filter")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "prefix candidate generation must stay an equi-join on the prefix shingle")
    // the per-doc rarest-first rank window now lives in the memoized
    // rankShingles build (shared with the containment channel), so the
    // window guard runs on the builder's own plan
    import org.apache.spark.sql.functions.col
    val sh = graft.ops.Text.distinctShingles(
      Tables.documents(spark, dir), col("text"), col("doc_id"), 3)
    val ranked = graft.ops.Dedup.rankShingles(sh)
    ranked.count()
    val rp = ranked.queryExecution.executedPlan.toString
    assert(rp.contains("Window"), "per-doc prefix rank must plan as a window")
  }

  test("orders_delta_join: every delta term broadcasts its delta side") {
    // the delta rule's cost model depends on it: a delta that plans as
    // a shuffle join re-shuffles the BASE table per refresh
    val p = planOf("orders_delta_join")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      "all three increment terms must be broadcast joins")
    assert(!p.contains("CartesianProduct"))
  }

  test("text_bpe_pairs: pair counting is explode + one partial-agg shuffle") {
    val p = planOf("text_bpe_pairs")
    assert(p.contains("Generate"), "pairing must be a per-row explode")
    assert(p.contains("partial_count") || p.contains("partial count"),
      "pair counts must combine map-side before the shuffle")
    assert(p.contains("TakeOrderedAndProject"),
      "global top-k must pre-reduce per task, not full-sort")
  }

  test("events_grouping_sets: one Expand feeding one partial-agg shuffle") {
    // the set count (3) bounds the Expand replication — cube() would
    // pay 4 replicas for these dims and still not express the
    // asymmetric sets
    val p = planOf("events_grouping_sets")
    assert(p.contains("Expand"), "grouping sets must plan as Expand")
    assert(p.contains("partial_count") || p.contains("partial count"),
      "subtotals must combine map-side")
    assert(!p.contains("CartesianProduct"))
  }

  test("events_value_mad: the 5-row median table broadcasts back to the facts") {
    val p = planOf("events_value_mad")
    assert(p.contains("BroadcastHashJoin"),
      "per-group medians must broadcast, not shuffle the fact table twice")
    assert(!p.contains("CartesianProduct"))
  }

  test("events_salted_join: the join keys on the salt via a real explode") {
    // the aggregation exchanges exist regardless — what pins the
    // operator is (a) the build replication planning as a Generate
    // (explode of the salt array) and (b) the salt column actually
    // participating in the join keys
    val p = planOf("events_salted_join")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Generate"),
      "build-side salt replication must plan as an explode")
    assert(p.contains("__graft_salt"),
      "the join must key on the internal salt column")
  }

  test("sim_topk_filtered: metadata predicate reaches the parquet scan") {
    val p = planOf("sim_topk_filtered")
    assert(p.contains("LessThan(label,5)"),
      "the label filter must push into the scan — at 100 TB the " +
        "pre-filter is the biggest ANN accelerator, ahead of any index")
    assert(p.contains("WindowGroupLimit"))
  }

  test("corpus_weighted_sample: weighted rank-cap pre-reduces via WindowGroupLimit") {
    val p = planOf("corpus_weighted_sample")
    assert(p.contains("WindowGroupLimit"),
      "the weighted priority top-n must pre-reduce map-side like the " +
        "unweighted source cap")
  }

  test("events_pagerank: iterations run on the pinned edge table, not the raw scan") {
    val p = planOf("events_pagerank")
    assert("Scan parquet".r.findAllIn(p).length === 0,
      "the final plan must read the localCheckpointed edge aggregate — " +
        "a parquet scan here means every iteration re-pays the raw pass " +
        "(observed 22 scans before pinning)")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      "the rank vector must broadcast to the edge side each round")
  }

  test("emb_kmeans: final pass reads the pinned quantized frame, no joins") {
    val p = planOf("emb_kmeans")
    assert("Scan parquet".r.findAllIn(p).length === 0,
      "the final assignment must read the localCheckpointed quantized " +
        "frame — a parquet scan here means every refit job re-scans and " +
        "re-quantizes the raw corpus")
    assert(!p.contains("Join"), "centroids must ride as literals, not a join")
  }

  test("corpus_interleave: rank and count share one source exchange, no global window") {
    val p = planOf("corpus_interleave")
    assert("Exchange hashpartitioning\\(source".r.findAllIn(p).length === 1,
      "row_number and the per-source count must share one source-keyed " +
        "shuffle")
    // the only SinglePartition exchange is the 1-row scalar total (then
    // broadcast); neither Window may run single-partition — that would
    // be the global row_number this operator exists to avoid
    val windows = "Window \\[[^\\n]*".r.findAllIn(p).toSeq
    assert(windows.length === 2)
    assert(windows.forall(_.contains("source")),
      "both windows must partition by source, not run globally")
  }

  test("events_itemset_pairs: basket frame pinned once, self-join co-partitioned") {
    val p = planOf("events_itemset_pairs")
    assert("Scan parquet".r.findAllIn(p).length === 0,
      "all four consumers must read the pinned basket frame — a scan " +
        "here means the raw pass runs per consumer (observed 5 scans)")
    assert(!p.contains("CartesianProduct"))
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length <= 2,
      "the basket self-join must co-partition on user_id, not re-shuffle " +
        "per consumer")
  }

  test("split_bloom_contamination: the probe is scan-stage, no corpus-keyed shuffle") {
    val p = planOf("split_bloom_contamination")
    // the filter rides the plan as a literal array and the only join is
    // the broadcast of the tiny exact-audit key set — a sort-merge join
    // or a hash exchange on the content hash would mean the corpus
    // shuffled for a 512-byte sketch
    assert(!p.contains("SortMergeJoin"),
      "probe must not shuffle the train corpus")
    assert("BroadcastHashJoin".r.findAllIn(p).length === 1,
      "exactly one broadcast join: the exact-audit key set")
    assert("Exchange hashpartitioning\\(h".r.findAllIn(p).length <= 1,
      "only the TEST split's distinct may exchange on the content " +
        "hash — a second h-keyed exchange means the train corpus " +
        "shuffled for a 512-byte sketch")
  }

  test("emb_semdedup: pair search reads the pinned assignment, joins on the cell") {
    val p = planOf("emb_semdedup")
    assert("Scan parquet".r.findAllIn(p).length === 0,
      "both join sides and the verdict pass must read the checkpoint-" +
        "pinned assignment frame, not re-run quantize+assign per consumer")
    assert(!p.contains("CartesianProduct"))
    // the cl-keyed pair exchange itself lives inside the eager
    // components checkpoint (like the PageRank edge aggregate), so the
    // final plan only joins two pinned frames — which is the point
  }

  test("text_classifier_score: inference is a pure projection, no corpus shuffle") {
    val p = planOf("text_classifier_score")
    assert(!p.contains("Exchange hashpartitioning"),
      "classifier inference must not shuffle — the weight vector is a " +
        "literal and the score is an aggregate() HOF over each row's " +
        "token array")
    assert(!p.contains("Generate"), "no token explode — scoring is in-row")
  }

  test("dedup_substring_span: gram join keyed on the hash, windows share its shuffle") {
    val p = planOf("dedup_substring_span")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Exchange hashpartitioning(gh"),
      "the candidate join must key on the gram hash")
    // r21: the gram build fans out on gh BELOW the freq/join fork so
    // ReuseExchange shares ONE gram materialization across the x/y
    // join sides — but the width must stay AQE-sized
    // (REPARTITION_BY_COL): the r20 pinned form regressed the full
    // 32-core bench, and the probed checkpoint/persist alternatives
    // were worse or bench-unsound (see Spans.sharedSpans).
    assert(p.contains("REPARTITION_BY_COL"),
      "gram fanout must be a keyed, AQE-coalescible repartition")
    assert(!p.contains("REPARTITION_BY_NUM"),
      "no pinned-width repartition on the dedup path (r20 regression)")
    val fin = finalizedPlanOf("dedup_substring_span")
    assert(fin.contains("ReusedExchange") || fin.contains("ReusedQueryStage"),
      "the x/y join sides must share one gram exchange at runtime")
  }

  /** Plan with AQE actually finalized: `df.count()` executes a SIBLING
    * QueryExecution and leaves this one un-finalized, so runtime
    * artifacts (ReusedQueryStage, coalesced reads) never print —
    * executing THIS plan's RDD is what finalizes it (same trick as
    * `Dev plans`). */
  private def finalizedPlanOf(q: String): String = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan.toString
  }

  test("capped pair joins ride one AQE-sized bucket-key exchange, no pinned width") {
    // r21: cappedPairJoin (LSH bands, simhash bands) lets the sizing
    // window's clustered-distribution requirement insert the ONE
    // hash(band keys) exchange, AQE-sized; the x/y self-join sides
    // read the window's output partitioning. The r20 pinned
    // REPARTITION_BY_NUM fanout under the window regressed the full
    // 32-core bench (dedup family 0.16-0.87×) and was reverted.
    val p = finalizedPlanOf("dedup_simhash_pairs")
      .split("== Initial Plan ==").head // final section only, or every node doubles
    assert(!p.contains("REPARTITION_BY_NUM"),
      "no pinned-width repartition on the dedup path (r20 regression)")
    assert("""Exchange hashpartitioning\(band""".r.findAllIn(p).nonEmpty,
      "the sizing window must cluster on the band keys")
    assert(!p.contains("CartesianProduct"))
  }

  test("text_bm25_topk: scoring is one scan, stats broadcast, heap-based top-k") {
    val p = planOf("text_bm25_topk")
    assert(!p.contains("Generate"),
      "literal-term tf must be scan-stage array filters, not a token explode")
    assert(!p.contains("Exchange hashpartitioning"),
      "BM25 over a literal query must never shuffle the corpus")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row stats aggregate must broadcast back onto the scan")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must run as per-partition heaps, not a global sort")
  }

  test("corpus_chunk_dedup: winner pick is a combinable aggregate, not a window") {
    val p = planOf("corpus_chunk_dedup")
    assert(!p.contains("WindowGroupLimit") && !p.contains("RunningWindowFunction") &&
      !p.contains("Window "),
      "first-occurrence must be groupBy-min (map-side combinable); a " +
        "window would drag every occurrence of a hot boilerplate chunk " +
        "into one task")
    assert(p.contains("partial_min") || p.contains("partial_count") ||
      "HashAggregate".r.findAllIn(p).length >= 4,
      "winner aggregate must partial-combine map-side")
  }

  test("text_collocations: global top-20 runs as TakeOrderedAndProject") {
    val p = planOf("text_collocations")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct"))
  }

  test("corpus_importance_resample: serving pass is a pure projection") {
    val q = SparkEntry.queries("corpus_importance_resample")(spark, dir)
    q.count()
    val p = q.queryExecution.executedPlan.toString
    // the plan of the RETURNED frame is the serving pass (training ran
    // eagerly inside the builder); it must not shuffle or explode
    assert(!p.contains("Exchange hashpartitioning"),
      "scoring must ride the literal weight array, not a bucket join")
    assert(!p.contains("Generate"), "no token explode in the serving pass")
  }

  test("emb_mutual_knn: self-join keyed on the bucket, top-k pre-reduces map-side") {
    // the registered query reads the memoized pinned edge set (shared
    // with emb_label_spread), so the candidate-generation guards run
    // on the builder's own plan
    import org.apache.spark.sql.functions.col
    val df = graft.ops.Similarity.mutualKnn(Tables.embeddings(spark, dir),
      col("embedding"), col("vec_id"), k = 5, bits = 6)
    df.count()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "candidate gen must stay bucket-keyed")
    assert(p.contains("WindowGroupLimit"),
      "rnk <= k must pre-reduce each map task before the window exchange")
    assert(p.contains("Exchange hashpartitioning(bucket") ||
      p.contains("BroadcastHashJoin [bucket"),
      "the self-join must key on the sign bucket (shuffled or broadcast), " +
        "never evaluate pairs unkeyed")
    val q = planOf("emb_mutual_knn")
    assert("Scan parquet".r.findAllIn(q).length === 0,
      "the registered query must read the pinned memo, not rebuild the kNN graph")
  }

  test("events_ppr: iterations run on the pinned edges with broadcast ranks") {
    val p = planOf("events_ppr")
    assert("Scan parquet".r.findAllIn(p).length === 0,
      "personalized iterations must read the localCheckpointed edge " +
        "aggregate, never the raw events")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      "the rank vector must broadcast to the edge side each round")
  }

  test("events_kcore: peeled rounds read pinned frames, not the raw events") {
    val p = planOf("events_kcore")
    assert("Scan parquet".r.findAllIn(p).length === 0,
      "each peeling round must read the previous round's pinned edges")
    assert(!p.contains("CartesianProduct"))
  }

  test("lineitem_profile_approx: sketch pass has no Expand, scans prune to one column") {
    val p = planOf("lineitem_profile_approx")
    assert(!p.contains("Expand"),
      "the HLL aggregate must NOT multiply rows 5× — dropping the " +
        "Expand is the entire point of the sketch swap at 100 TB")
    assert(p.contains("ReadSchema: struct<l_discount:double>"),
      "each exact-audit distinct must scan exactly its own column")
  }

  test("dedup_ngram_blocked: verify reads one pinned bigram table, one raw scan") {
    // r21: pairOverlap reads the bigram shingle table three times
    // (both intersect-join sides + per-doc counts) and column pruning
    // makes the three subtrees non-reusable — without the eager pin
    // the tokenize+explode scan ran 3× (measured 3 × ~3 s at the sf1
    // replica). The pinned table leaves exactly ONE raw corpus scan in
    // the final plan: the blocking-key side.
    val p = finalizedPlanOf("dedup_ngram_blocked")
      .split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(p).length === 1,
      "only the blocking-key pass may scan the corpus; the verify " +
        "sides must read the checkpoint-pinned bigram table")
    assert(!p.contains("CartesianProduct"))
  }

  test("lineitem_profile: per-column single-distinct aggregates, no Expand") {
    // r21: the five exact COUNT(DISTINCT)s run as independent
    // single-distinct aggregates (Spark's no-Expand path), one per
    // column, unioned — the old all-in-one aggregate planned a 6×
    // Expand into a wide-key hash aggregate (4.6 exec-s at sf0.1 vs
    // ~1.0 for this shape under the noop sink). At 100 TB the Expand
    // form multiplies the corpus 6× before any partial aggregation.
    val p = planOf("lineitem_profile")
    assert(!p.contains("Expand"),
      "exact distincts must take the per-column no-Expand path")
    for (c <- Seq("l_discount:double", "l_extendedprice:double",
        "l_quantity:double", "l_returnflag:string",
        "l_shipdate:timestamp_ntz"))
      assert(p.contains(s"ReadSchema: struct<$c>"),
        s"each per-column aggregate must scan exactly its own column ($c)")
  }

  test("text_oov_rate: OOV serving is a pure projection after the vocab build") {
    val q = SparkEntry.queries("text_oov_rate")(spark, dir)
    q.count()
    val p = q.queryExecution.executedPlan.toString
    // the returned frame is the serving pass (the vocab collected
    // eagerly in the builder); it must ride the literal array
    assert(!p.contains("Exchange hashpartitioning"),
      "OOV counting must not shuffle — the vocab is a literal and the " +
        "count is a filter() HOF over each row's token array")
    assert(!p.contains("Generate"), "no token explode in the serving pass")
  }

  test("text_skipgram_pairs: pair explode shuffles only the pair vocabulary") {
    val p = planOf("text_skipgram_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "pair generation must be scan-stage zip_with, never a token self-join")
    assert(p.contains("TakeOrderedAndProject"),
      "top-30 must run as per-partition heaps")
    assert(p.contains("partial_count") || "HashAggregate".r.findAllIn(p).length >= 2,
      "pair counts must partial-combine map-side")
  }

  test("corpus_rag_chunks: chunking is scan-stage, no shuffle before the sort") {
    val p = planOf("corpus_rag_chunks")
    assert(!p.contains("Exchange hashpartitioning"),
      "window chunking is a per-row expression — nothing to co-locate")
    assert(p.contains("Generate"), "chunks emit via posexplode")
  }

  test("parts_abc_analysis: the global window sits on the pre-aggregated dimension") {
    val p = planOf("parts_abc_analysis")
    assert("Exchange SinglePartition".r.findAllIn(p).length <= 2,
      "only the dimension-sized cumulative window (and the scalar " +
        "total) may serialize — the fact table must aggregate first")
    assert(p.contains("partial_sum") || "HashAggregate".r.findAllIn(p).length >= 2,
      "the revenue aggregate must partial-combine before any window")
  }

  test("emb_pca_project: projection reads one scan with no joins") {
    val q = SparkEntry.queries("emb_pca_project")(spark, dir)
    q.count()
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "the direction is a literal, not a joined table")
    assert(!p.contains("Generate"), "no per-component explode in the serving pass")
  }

  test("events_drift_halves: one events scan — totals derive from the binned frame") {
    val p = planOf("events_drift_halves")
    // the date-bounds row costs one scan, the binning pass another; a
    // third means the totals re-run the full events pass (the r12 form
    // paid a whole extra 100 TB read just for tot_a/tot_b)
    assert("Scan parquet".r.findAllIn(p).length <= 2,
      "tot_a/tot_b must be a window sum over the 16-row binned " +
        "aggregate, never a second full events scan")
  }

  test("customers_record_linkage: no string verification past the candidate join") {
    val p = planOf("customers_record_linkage")
    // the window invariant replaces per-pair levenshtein with a
    // 4-char positional compare carried through the join — a
    // levenshtein node reappearing means the name-carrying joins and
    // the per-pair string scan came back
    assert(!p.contains("levenshtein"),
      "verification must ride the window invariant, not levenshtein")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "deletion-neighborhood candidates must come from an equi-join")
  }

  test("events_attribution: ONE keyed shuffle feeds window and aggregate") {
    val p = planOf("events_attribution")
    // the per-user window and the 4-row channel aggregate must share
    // the hash(user_id) exchange lineage; the only other exchange is
    // the single-partition gather of the final tiny frame
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).nonEmpty,
      "attribution must partition by user_id")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      "no extra wide shuffles beyond user keying + the tiny final agg")
  }

  test("events_autocorr: lag join broadcasts the dimension-sized daily frame") {
    val p = planOf("events_autocorr")
    assert(p.contains("BroadcastHashJoin"),
      "the lagged self-join must broadcast the <=|days| frame")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("cdc_snapshot_diff: both reconstructions share ONE keyed shuffle, no join") {
    val p = planOf("cdc_snapshot_diff")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      "t1 snapshot and head must come out of one emp_id shuffle")
    assert(!p.contains("Join"),
      "the diff is window-carried — a snapshot-vs-snapshot join came back")
    assert(p.contains("WindowGroupLimit"),
      "the head row-number filter must pre-reduce map-side")
  }

  test("events_concurrency: the boundary sweep is (day, hour)-partitioned, one scan") {
    val p = planOf("events_concurrency")
    // the running sum over the boundary LIST must partition by
    // (day, hb); a day-wide window over the boundaries is the
    // single-task-per-hot-day shape the two-pass form exists to kill
    assert("windowspecdefinition\\(day#\\d+, hb#\\d+L?, t#\\d+"
      .r.findAllIn(p).nonEmpty,
      "boundary running sum must partition by (day, hour-bucket)")
    assert("windowspecdefinition\\(day#\\d+, t#".r.findAllIn(p).isEmpty,
      "no day-wide window over the boundary list")
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      "both ±1 boundaries must explode from one sessionize subtree")
  }

  test("text_conjunctive: query-vocab filter in the scan stage, pruned read, no Expand") {
    val p = planOf("text_conjunctive")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan must read only doc_id + text")
    assert(!p.contains("Expand") && !p.contains("Join"))
    // the IN filter must sit BELOW every exchange (scan stage): the
    // shuffle carries candidate postings only, never the corpus
    val lastEx = p.lastIndexOf("Exchange hashpartitioning")
    assert(lastEx >= 0 && p.indexOf(" IN (dup,spark,merge)", lastEx) > 0,
      "term filter must run before the first shuffle")
  }

  test("cdc_golden_record: elections are combinable aggregates — no window, no join") {
    val p = planOf("cdc_golden_record")
    assert(!p.contains("Window") && !p.contains("Join"),
      "mode/recency elections must ride struct aggregates, not ranks or joins")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2,
      "exactly the two chained aggregate exchanges")
    assert("FileScan parquet".r.findAllIn(p).length == 1, "one scan")
    assert(p.contains("partial_min(struct(neg") &&
      p.contains("partial_max(struct(ts"),
      "both elections must partial-aggregate map-side")
  }

  test("text_chi2_terms: scan-stage term dedup, pruned read, heap top-20") {
    val p = planOf("text_chi2_terms")
    // main scan prunes to text+lang (doc_id drops); the broadcast
    // class-totals branch reads its own lang-only single-column scan
    assert(p.contains("ReadSchema: struct<text:string,lang:string>"),
      "term scan must read only text + lang (doc_id prunes away)")
    assert(p.contains("ReadSchema: struct<lang:string>"),
      "the 1-row totals branch must scan lang alone")
    assert(p.contains("TakeOrderedAndProject"),
      "global top-20 must be a heap TakeOrdered, not a full sort")
    assert(p.contains("array_distinct"),
      "per-doc term dedup must happen in the scan stage expression")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("emb_centroid_drift: aggregate-only plan, one scan, no window") {
    val p = planOf("emb_centroid_drift")
    assert(!p.contains("Window") && !p.contains("Join"))
    assert("FileScan parquet".r.findAllIn(p).length == 1, "one scan")
  }

  /** Executed-plan strings of every SQL action run inside `f` — the
    * pin builds and iterative rounds a final-plan string can't see. */
  private def executedPlans(f: => Unit): Seq[String] =
    Capture.plans(spark)(f)._2.map(_.executedPlan.toString)

  test("bfsHops: every frontier expansion is semi/anti keyed, never cartesian") {
    import spark.implicits._
    val captured = executedPlans {
      val edges = (1 to 40).map(i => (i.toLong, (i * 3 % 41).toLong)).toDF("a", "b")
      graft.ops.Graph.bfsHops(edges, Seq(1L, 2L).toDF("v"), 3).count()
    }
    assert(captured.exists(_.contains("LeftSemi")),
      "frontier expansion must probe edges via a semi join")
    assert(captured.exists(_.contains("LeftAnti")),
      "visited set must prune via an anti join")
    assert(!captured.exists(_.contains("CartesianProduct")) &&
      !captured.exists(_.contains("BroadcastNestedLoopJoin")),
      "no level may degenerate to an unkeyed join")
  }

  test("temporalReach: every relaxation round joins on the node key, never cartesian") {
    import spark.implicits._
    val captured = executedPlans {
      val edges = (1 to 60).map(i =>
        (i.toLong, (i * 7 % 61).toLong, (i % 9).toLong)).toDF("a", "b", "t")
      graft.ops.Graph.temporalReach(edges, Seq((1L, 0L), (2L, 3L)).toDF("v", "t0"), 3)
        .count()
    }
    assert(captured.exists(_.contains("FullOuter")),
      "the arrival merge must be a keyed full-outer join")
    assert(!captured.exists(_.contains("CartesianProduct")) &&
      !captured.exists(_.contains("BroadcastNestedLoopJoin")),
      "the time predicate must ride a keyed join, not an unkeyed one")
  }

  test("events_error_label: one user-keyed exchange feeds the window, no join") {
    val p = planOf("events_error_label")
    // labeling is embarrassingly parallel across users: the plan is
    // scan → hash exchange on user_id → window → filter/project;
    // a join or a second window would mean the forward carry got
    // re-expressed as a self-join (the Σdeg blowup the scaladoc bans)
    assert("hashpartitioning\\(user_id".r.findAllIn(p).length >= 1,
      "window must shuffle by user_id")
    assert(!p.contains("Join"), "next-error labeling must not self-join")
    assert("Window".r.findAllIn(p).length == 1, "exactly one window pass")
  }

  test("events_ab_test: aggregate-only plan — no window, no raw-events rejoin") {
    val p = planOf("events_ab_test")
    assert(!p.contains("Window"), "readout must stay aggregate-only")
    assert(!p.contains("CartesianProduct"),
      "the 1-row variant frames must broadcast, not cartesian")
    // the 2-row per-variant frame is pinned and every branch reads the
    // materialization — the final plan must touch NO parquet at all
    // (the unpinned form re-ran the per-user fold per branch: 3 scans)
    assert(!p.contains("Scan parquet"),
      "all branches must read the pinned variant frame, not re-scan events")
  }

  test("corpus_folded_packing / corpus_negative_samples: " +
    "fold joins stay keyed, no nested-loop fallback") {
    for (q <- Seq("corpus_folded_packing", "corpus_negative_samples")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian")
      // the only nested-loop allowed is the broadcast of the 1-row
      // max-rank total; the partner-rank join itself must be keyed
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"), s"$q lost its keyed partner join")
    }
  }

  test("emb_int8_quant_error: aggregate-only single-scan plan, pruned read") {
    val p = planOf("emb_int8_quant_error")
    assert(!p.contains("Join"), "the audit must not join")
    assert(!p.contains("Window"), "the audit must not window")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      "one pass over the embeddings, not one per statistic")
    // error math runs on (label, embedding) only — vec_id never reads
    assert(!p.contains("vec_id"), "column pruning must drop vec_id")
  }

  test("events_lag_features: user-keyed joins and window, no cartesian") {
    val p = planOf("events_lag_features")
    assert(!p.contains("CartesianProduct"),
      "calendar lags must stay keyed self-joins")
    assert("hashpartitioning\\(user_id".r.findAllIn(p).length >= 1,
      "the rolling window must shuffle by user_id")
    assert("Window".r.findAllIn(p).length == 1, "exactly one window pass")
  }

  test("text_vocab_growth: cumulative rides the checkpointed two-pass, " +
    "no single-partition data window") {
    val p = planOf("text_vocab_growth")
    assert(!p.contains("CartesianProduct"))
    // globalRunningSum's range exchange + per-partition window sit
    // BEHIND its eager localCheckpoint, so the honest plan signature
    // is the materialized RDD scan feeding the final projection — a
    // swapped-in Window.orderBy(doc_id) would show neither
    assert(p.contains("Scan ExistingRDD"),
      "the prefix sum must come from globalRunningSum's checkpointed " +
        "two-pass, not be recomputed inline")
    // ...and no window in the final plan may order the DATA by doc_id
    // (that is the single-partition cumulative this query exists to
    // avoid; the only allowed window is the 32-row _pid offsets fold)
    assert(!"windowspecdefinition\\(doc_id".r.findAllIn(p).hasNext,
      "a doc_id-ordered window means the global cumulative came back")
  }

  test("corpus_curriculum_order: rank rides the checkpointed two-pass, " +
    "no tier-ordered data window") {
    val p = planOf("corpus_curriculum_order")
    assert(!p.contains("CartesianProduct"))
    // same globalRank signature as vocab_growth: the range exchange +
    // partition-local row_number live behind the eager checkpoint
    assert(p.contains("Scan ExistingRDD"),
      "the global rank must come from globalRank's checkpointed " +
        "two-pass, not an inline Window")
    assert(!"windowspecdefinition\\(tier".r.findAllIn(p).hasNext,
      "a tier-ordered window means the single-partition rank came back")
  }

  test("events_cuped: one user-keyed aggregate, 1-row frames broadcast, " +
    "no data-sized join") {
    val p = planOf("events_cuped")
    // the per-user fold (and its user_id shuffle) lives behind the
    // eager localCheckpoint, so the honest final-plan signature is:
    // ExistingRDD scans feeding 1-row aggregates composed by
    // broadcast nested loops — NO parquet re-scan, NO data-sized join
    assert(p.contains("Scan ExistingRDD"),
      "branches must read the pinned per-user frame")
    assert(!p.contains("Scan parquet"),
      "the per-user frame is pinned — branches must not re-scan events")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "no data-sized join belongs in a 1-row readout")
  }

  test("events_srm_check: aggregate-only plan — no join, no window, one scan") {
    val p = planOf("events_srm_check")
    assert(!p.contains("Join"), "the guardrail must not join")
    assert(!p.contains("Window"), "the guardrail must not window")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      "one pass over events feeds the 1-row fold")
    assert(!p.contains("event_type"),
      "column pruning must drop everything but user_id")
  }

  test("sim_knn_classify: top-k frame broadcasts INTO the label scan, never the reverse") {
    val p = planOf("sim_knn_classify")
    assert(!p.contains("CartesianProduct"),
      "query scoring must be a broadcast, not a cartesian")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the 80-row top-k and 8-row label frames must broadcast — a " +
        "data-sized shuffle join means the broadcast direction flipped")
    assert(p.contains("WindowGroupLimit"),
      "the top-10 rank cut must pre-reduce map-side")
  }

  test("emb_triplet_mining: arg-extremes are aggregates, not per-anchor windows") {
    val p = planOf("emb_triplet_mining")
    assert(!p.contains("Window"),
      "struct-min aggregates replaced per-anchor windows — a Window " +
        "here sorts data-sized partitions per anchor at scale")
    assert(!p.contains("CartesianProduct"),
      "anchor scoring must be a broadcast, not a cartesian")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "nothing data-sized may shuffle-join in the mining readout")
  }

  test("text_boilerplate_coverage: top-20 broadcast membership, two honest gram passes") {
    val p = planOf("text_boilerplate_coverage")
    assert(p.contains("BroadcastHashJoin"),
      "the 20-row boilerplate set must broadcast into the gram stream")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "a shuffled membership join means the broadcast was lost")
    assert(!p.contains("Window"), "coverage is aggregate-only")
    assert("Scan parquet".r.findAllIn(p).length == 2,
      "exactly two passes over documents (top-k count, membership fold) " +
        "— more means a branch re-derived the gram stream")
  }

  test("events_bot_detection: one pruned scan, no join, aggregate-only") {
    val p = planOf("events_bot_detection")
    assert(!p.contains("Join"), "the screen must not join")
    assert(!p.contains("Window"), "the screen must not window")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      "one pass over events feeds the user-keyed fold")
    assert(!p.contains("props"), "column pruning must drop the wide props column")
  }

  test("events_power_analysis: aggregate-only 1-row readout, single scan") {
    val p = planOf("events_power_analysis")
    assert(!p.contains("Join"), "the readout must not join")
    assert(!p.contains("Window"), "the readout must not window")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      "one pass over events feeds the pooled moments")
  }

  test("events_inter_arrival: one scan, one event_type exchange, no join-back") {
    val p = planOf("events_inter_arrival")
    assert(!p.contains("Join"),
      "ranks, counts, and picks must fold in one pass — a join means " +
        "the per-percentile re-scan came back")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      "exactly one pass over events")
    assert("hashpartitioning\\(event_type".r.findAllIn(p).length >= 1,
      "the windows must share the event_type exchange")
  }

  test("emb_cell_balance: no data-sized join, totals broadcast") {
    val p = planOf("emb_cell_balance")
    assert(!p.contains("CartesianProduct"),
      "the 1-row totals frame must broadcast, not cartesian")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "nothing data-sized may shuffle-join in a 4-row readout")
  }

  test("dedup_minhash_estimate / corpus_dedup_funnel: keyed joins only, no cartesian") {
    for (q <- Seq("dedup_minhash_estimate", "corpus_dedup_funnel")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"),
        s"$q planned a cartesian — the only nested loops allowed are " +
          "broadcast 1-row/bounded frames")
    }
  }

  test("events_score_auc: histogram prefix sum rides the checkpointed " +
    "two-pass, no window in the final plan") {
    val p = planOf("events_score_auc")
    assert(p.contains("Scan ExistingRDD"),
      "the rank prefix must come from globalRunningSum's checkpointed " +
        "two-pass over the score histogram")
    // the ONLY window allowed is globalRunningSum's offsets summary —
    // |shuffle partitions| rows keyed on _pid; a window ordering the
    // histogram itself (by score) would be the inline single-partition
    // cumulative this query avoids
    val windows = "Window \\[[^\\n]*".r.findAllIn(p).toSeq
    assert(windows.forall(_.contains("_pid")),
      "a non-offsets window survived into the final plan: " + windows)
    assert(!p.contains("CartesianProduct"))
  }

  test("events_link_prediction: top-50 is a TakeOrdered over the pinned " +
    "wedge frame, never a global sort") {
    val p = planOf("events_link_prediction")
    assert(p.contains("TakeOrderedAndProject"),
      "orderBy+limit must plan as TakeOrdered (map-side k rows), not a " +
        "full sort")
    assert(!p.contains("CartesianProduct"))
  }

  test("events_growth_accounting: all four consumers read the pinned " +
    "distinct frame, joins keyed") {
    val p = planOf("events_growth_accounting")
    assert("Scan parquet".r.findAllIn(p).length === 0,
      "first-day, previous-day, and churn branches must all read the " +
        "checkpointed (user, day) distinct — a parquet scan here means " +
        "the raw pass runs per consumer")
    assert(!p.contains("CartesianProduct"))
  }

  test("sim_topk_mrl: both funnel stages pre-reduce map-side") {
    val p = planOf("sim_topk_mrl")
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2,
      "shortlist and re-rank rank-filters must both plan as " +
        "WindowGroupLimit — losing either turns the funnel into a full " +
        "per-query sort at scale")
    assert(!p.contains("CartesianProduct"))
  }

  test("multimodal_frame_sample: scan pruned to id + payload source") {
    val p = planOf("multimodal_frame_sample")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "the sampler must read only the id and payload-source columns")
  }

  test("events_uplift_segments: pure aggregate pipeline, no join, one scan") {
    val p = planOf("events_uplift_segments")
    assert(!p.contains("Join"), "tier readout is two folds — no join")
    assert("Scan parquet".r.findAllIn(p).length == 1, "one pass over events")
  }

  test("corpus_shard_balance: totals broadcast, nothing data-sized joins") {
    val p = planOf("corpus_shard_balance")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "the 1-row total must broadcast into the 8-row shard frame")
  }

  test("lineitem_discount_lift: part dimension broadcasts into the fact scan") {
    val p = planOf("lineitem_discount_lift")
    assert(p.contains("BroadcastHashJoin"),
      "part is a dimension — it must broadcast, never shuffle the fact side")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("supplier_hhi: part dimension broadcasts, type totals broadcast back") {
    val p = planOf("supplier_hhi")
    assert(p.contains("BroadcastHashJoin"),
      "part and the type totals are dimension-sized — both must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("orders_fulfillment_lag: ranks and counts share one priority exchange") {
    val p = planOf("orders_fulfillment_lag")
    assert("hashpartitioning\\(o_orderpriority".r.findAllIn(p).length >= 1,
      "the windows must share the priority exchange")
    assert(!p.contains("CartesianProduct"))
  }

  test("events_ldiversity / events_freshness: one scan, nothing data-sized joins") {
    for (q <- Seq("events_ldiversity", "events_freshness")) {
      val p = planOf(q)
      // freshness pins its |types|-row frame, so its final plan reads
      // the checkpoint (0 parquet scans); ldiversity is one raw pass
      assert("Scan parquet".r.findAllIn(p).length <= 1, s"$q: one events pass")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$q: the only join allowed is the broadcast 1-row frontier")
    }
  }

  test("events_conversion_lag: ranks and counts share one cohort exchange") {
    val p = planOf("events_conversion_lag")
    assert(!p.contains("Join"),
      "percentile picks must fold in one pass — no join-back")
    assert("hashpartitioning\\(cohort_day".r.findAllIn(p).length >= 1,
      "the windows must share the cohort_day exchange")
  }

  /** Total shuffle-write records across every job run inside `f` —
    * the runtime pin for the reach family, whose per-round work hides
    * in eager-checkpoint jobs a final-plan string can't see. */
  private def shuffledRecords(f: => Unit): Long =
    Capture.stages(spark)(f)._2.map(_.shufWriteRows).sum

  test("temporalReach small graph: edge rows never cross a shuffle") {
    import spark.implicits._
    // r20 fix (VERDICT r19 task 3): below the node budget every round
    // joins the checkpointed edges against a BROADCAST frontier, so
    // the only rows that shuffle are node-scale (the distinct-node
    // count + per-round candidate aggregates) — never the |E|-row edge
    // set. Pre-fix each of the 3 rounds re-shuffled all 2|E| edge
    // instances (~6|E| records); the bound here is < |E|.
    val nE = 5000
    val edges = (1 to nE)
      .map(i => (i.toLong % 97, (i * 31 % 89).toLong, (i % 50).toLong))
      .filter(e => e._1 != e._2).toDF("a", "b", "t")
    val seeds = Seq((1L, 0L), (5L, 3L)).toDF("v", "t0")
    val n = shuffledRecords {
      graft.ops.Graph.temporalReach(edges, seeds, maxHops = 3).count()
    }
    assert(n < nE,
      s"expected only node-scale rows to shuffle, saw $n records (|E|=$nE)")
  }

  test("cheapestPaths above the node budget: one edge exchange total") {
    import spark.implicits._
    // the big-graph path (forced via broadcastNodeBudget = 0) pays ONE
    // repartition of the 2|E| symmetrized edge instances into a
    // persisted sorted layout; every round's sort-merge join then
    // exchanges only the frontier. Pre-fix: 3 rounds × 2|E| ≈ 6|E|.
    val nE = 5000
    val edges = (1 to nE)
      .map(i => (i.toLong % 97, (i * 31 % 89).toLong, (i % 9 + 1).toLong))
      .filter(e => e._1 != e._2).toDF("a", "b", "w")
    val seeds = Seq(1L, 5L).toDF("v")
    val small = graft.ops.Graph.cheapestPaths(edges, seeds, maxHops = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val n = shuffledRecords {
      val big = graft.ops.Graph.cheapestPaths(edges, seeds, maxHops = 3,
          broadcastNodeBudget = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(big == small, "both strategies must agree exactly")
    }
    val symRows = 2L * edges.count()
    assert(n < symRows + nE,
      s"expected one $symRows-row edge exchange plus node-scale rounds, saw $n")
  }
}
