package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Extension queries — events graph mining (co-presence graph
  * algorithms: reachability, PageRank, triangles, components, k-core,
  * link prediction) and distributed sketches (KMV, CMS and their exact
  * twins). Split out of [[EventsExtensionQueries]] to keep each family
  * file under the review size bound; builders + their DuckDB oracle
  * mirrors, shared fragments from [[ExtensionQueriesBase]]. Registered
  * into the single public registry by [[ExtensionQueries]].
  */
private[graft] trait EventsGraphExtensionQueries extends ExtensionQueriesBase {

  /** HLL++ sketch distinct (`approx_count_distinct`) next to the exact
    * two-stage count — the sketch is the 100 TB form (mergeable
    * fixed-size state, one map-side pass, no (group, value) shuffle),
    * and the exact side is the audit. Emitted as a CERTIFICATE: HLL
    * register layouts are engine-specific, so the registered output
    * carries only the oracle-computable exact count plus the hard
    * verdict `ok` = [|est − exact| ≤ 6% of exact, i.e. 3σ at
    * rsd=0.02] as BIGINT — the DuckDB oracle emits the same exact
    * count and a literal 1, so any sketch regression flips `ok` to 0
    * and FAILS THE DRIVER'S HASH GATE (the r14 form exposed the raw
    * estimate and therefore had no oracle at all — a weaker rows-only
    * check). SketchSpec asserts ok across fixtures.
    */
  private def qEventsApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val exact = graft.ops.Skew.distinctCount(ev, Seq(col("event_type")),
      col("user_id"), as = "n_exact")
    val approx = ev.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("n_approx"))
    exact.join(approx, "event_type")
      .select(col("event_type"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")) * lit(10000) / col("n_exact"))
          .cast("long").as("err_x10k"))
      .select(col("event_type"), col("n_exact"),
        (col("err_x10k") <= 600).cast("long").as("ok"))
      .orderBy("event_type")
  }

  /** KMV (k-minimum-values / bottom-k) sketch churn: day-over-day
    * user-set Jaccard estimated from 32-value sketches, next to the
    * exact answer as audit. Unlike HLL registers, a bottom-k sketch
    * over a deterministic injective hash is bit-reproducible in SQL,
    * so this sketch query IS oracle-exact. Mechanics: per day, keep
    * the k smallest user hashes (row_number ≤ k → WindowGroupLimit
    * pre-reduces map-side, k rows per day cross the exchange); merge
    * adjacent days' sketches (k smallest of the union) and estimate
    * J ≈ |both| / k over the merged sketch; estimate the union
    * cardinality as (k−1)·P / h_k (exact k_union when the union is
    * smaller than k — the sketch saw everything). All estimates are
    * integer basis points. At 100 TB the exact side drops away and
    * sketches persist as the mergeable daily profile — the same
    * audit-next-to-sketch pattern as events_approx_distinct, but with
    * a full SQL oracle. */
  private def qEventsKmvChurn(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val K = 32
    val du = Tables.events(s, dir)
      .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
    // tag rows into both adjacent pair-slots: day d is side a of pair d
    // and side b of pair d-1 — one explode instead of a self-join
    def tagged(src: DataFrame, valCol: String) = src.select(
        explode(array(
          struct(col("d").as("pd"), lit(1).as("in_a"), lit(0).as("in_b")),
          struct(date_sub(col("d"), 1).as("pd"), lit(0).as("in_a"), lit(1).as("in_b")))).as("t"),
        col(valCol))
      .select(col("t.pd").as("pd"), col("t.in_a").as("in_a"),
        col("t.in_b").as("in_b"), col(valCol))
    // exact audit: distinct users per pair with side flags
    val exact = tagged(du, "user_id")
      .groupBy(col("pd"), col("user_id"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
      .groupBy(col("pd"))
      .agg(count(lit(1)).as("n_union"),
        sum(col("in_a") * col("in_b")).cast("long").as("n_both"),
        max(col("in_a")).as("has_a"), max(col("in_b")).as("has_b"))
      .where(col("has_a") === 1 && col("has_b") === 1)
      .select(col("pd"), col("n_union"), col("n_both"),
        expr("(10000 * n_both) div n_union").as("jaccard_bp"))
    // sketch side: bottom-k hashes per day, then bottom-k of the merge
    val wd = Window.partitionBy(col("d")).orderBy(col("h"))
    val sk = du.withColumn("h", graft.ops.Sampling.hashVal(col("user_id")))
      .withColumn("rk", row_number().over(wd)).where(col("rk") <= K)
      .select(col("d"), col("h"))
    val wp = Window.partitionBy(col("pd")).orderBy(col("h"))
    val est = tagged(sk, "h")
      .groupBy(col("pd"), col("h"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
      .withColumn("rk", row_number().over(wp)).where(col("rk") <= K)
      .groupBy(col("pd"))
      .agg(count(lit(1)).as("k_union"),
        sum(col("in_a") * col("in_b")).cast("long").as("k_both"),
        max(col("h")).as("h_k"))
      .select(col("pd"), col("k_union"), col("k_both"),
        expr("(10000 * k_both) div k_union").as("est_jaccard_bp"),
        when(col("k_union") < K, col("k_union"))
          .otherwise(expr(s"((k_union - 1) * ${graft.ops.Sampling.P}) div h_k"))
          .as("est_union"))
    est.join(exact, "pd")
      .select(col("pd").as("day"), col("k_union"), col("k_both"),
        col("est_jaccard_bp"), col("jaccard_bp"), col("est_union"),
        col("n_union"), col("n_both"))
      .orderBy("day")
  }

  private def qEventsCmsCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val bytes = ev.agg(expr("count_min_sketch(user_id, 0.001d, 0.99d, 42)"))
      .head.getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(bytes))
    val slack = math.ceil(0.001 * cms.totalCount()).toLong
    val top = cmsExactTop(s, dir).as[(Long, Long)].collect()
    top.map { case (u, n) => (u, n, cms.estimateCount(u)) }.toSeq
      .toDF("user_id", "n_exact", "n_est")
      .select(col("user_id"), col("n_exact"),
        (col("n_est") >= col("n_exact") &&
          col("n_est") <= col("n_exact") + slack).cast("long").as("ok"))
      .orderBy("user_id")
  }

  /** Oracle-pinned exact half of the CMS audit ([[cmsExactTop]]): the
    * top-20 user counts as plain ANSI SQL, so the DuckDB gate owns the
    * truth the sketch's `within_bound` column is checked against.
    * (events_approx_distinct's exact companion is already pinned the
    * same way — `events_distinct_users` uses the identical
    * Skew.distinctCount expression.) */
  private def qEventsCmsExact(s: SparkSession, dir: String): DataFrame =
    cmsExactTop(s, dir).orderBy("user_id")

  /** k-hop reachability ([[graft.ops.Graph.bfsHops]], 3 levels) from
    * the deterministic seed cohort `user_id % 7 = 0` over the shared
    * co-presence graph — the influence-radius / blast-radius query
    * (which users are within 3 collaboration hops of the cohort?).
    * Emits (user_id, dist) with dist = exact minimum hop count; the
    * fixture discriminates all four levels at sf0.01. Seeds are all
    * event users, not just graph nodes, so isolated seeds surface at
    * dist 0 instead of vanishing. The oracle mirrors the level loop
    * as chained CTEs — deliberately NOT WITH RECURSIVE, which
    * enumerates paths (Σ deg^h) where the level form carries node
    * sets (see [[graft.ops.Graph.bfsHopsSql]]).
    */
  private def qEventsBfsReach(s: SparkSession, dir: String): DataFrame = {
    val seeds = Tables.events(s, dir)
      .select(col("user_id").as("v")).where(col("v") % 7 === 0).distinct()
    graft.ops.Graph.bfsHops(coPresenceEdges(s, dir), seeds, maxHops = 3)
      .select(col("v").as("user_id"), col("dist"))
      .orderBy("user_id")
  }

  /** TIME-RESPECTING diffusion reach ([[graft.ops.Graph
    * .temporalReach]], 3 hops) from the same `user_id % 7 = 0` seed
    * cohort over the TIMESTAMPED co-presence contacts — the
    * information-diffusion / contamination-spread query plain BFS
    * answers wrongly: a contact that happened BEFORE a user was
    * reached cannot spread, so edge times along a path must be
    * non-decreasing and the first hop departs at-or-after the seed's
    * own first appearance. Emits each reached user's earliest
    * possible arrival hour; the fixture discriminates (temporal reach
    * ⊂ static reach, and some arrivals realize through LONGER paths
    * that depart earlier — pinned in FrontierAnalyticsSpec). Oracle
    * mirrors the Bellman-Ford rounds as chained CTEs relaxing the
    * full arrival table (same ≤ 3-hop fixed point, frontier-free).
    */
  private def qEventsTemporalReach(s: SparkSession, dir: String): DataFrame = {
    val seeds = Tables.events(s, dir).where(col("user_id") % 7 === 0)
      .groupBy(col("user_id"))
      .agg(min(date_trunc("hour", col("ts"))).as("t0"))
      .select(col("user_id").as("v"), col("t0"))
    graft.ops.Graph.temporalReach(temporalEdges(s, dir), seeds, maxHops = 3)
      .select(col("v").as("user_id"),
        col("arr").cast("timestamp_ntz").as("arr_hour"))
      .orderBy("user_id")
  }

  /** CHEAPEST-REACH cost ([[graft.ops.Graph.cheapestPaths]], 3 hops)
    * from the `user_id % 7 = 0` cohort over STRENGTH-WEIGHTED
    * co-presence ties — the weighted member of the reach family
    * (hops → bfs_reach, time → temporal_reach, cost → this): tie
    * cost is `ceil(100 / ns)` for ns shared cells, so frequent
    * contacts are cheap to traverse and the minimal summed cost is
    * the diffusion-resistance distance. Integer weights end-to-end;
    * the ns ≥ 2 floor keeps one-off collisions out of the graph.
    * Oracle mirrors the Bellman-Ford rounds as chained CTEs (full
    * relaxation — same ≤ 3-hop fixed point).
    */
  private def qEventsCheapestReach(s: SparkSession, dir: String): DataFrame = {
    val capped = cappedCells(s, dir).select(col("cell"), col("user_id"))
    val wed = capped.select(col("cell"), col("user_id").as("a"))
      .join(capped.select(col("cell"), col("user_id").as("b")), "cell")
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("ns"))
      .where(col("ns") >= 2)
      .select(col("a"), col("b"), expr("(100 + ns - 1) div ns").as("w"))
    val seeds = Tables.events(s, dir)
      .select(col("user_id").as("v")).where(col("v") % 7 === 0).distinct()
    graft.ops.Graph.cheapestPaths(wed, seeds, maxHops = 3)
      .select(col("v").as("user_id"), col("dist").as("cost"))
      .orderBy("user_id")
  }

  /** DEGREE ASSORTATIVITY of the co-presence graph (Newman,
    * "Assortative mixing in networks", PRL 2002): the Pearson
    * correlation of endpoint degrees over all directed edge instances
    * — positive = hubs befriend hubs (social mixing), negative =
    * hub-and-spoke. The REGISTERED query emits only the two
    * BIGINT-representable columns — `m` (edge-instance count) and the
    * signed `r_bp_signed` effect size — because the raw moment
    * combinations (num, den_x, den_y) genuinely need 128-bit-class
    * integers: Spark spells that DECIMAL(38,0), DuckDB spells it
    * HUGEINT, and the driver's typed hash encodes those two
    * representations differently EVEN WHEN the values are identical
    * (the r15 red row — values verified equal at sf0.001/0.01/0.1,
    * hash still split on type). The moments stay fully gated:
    * [[assortativityMoments]] keeps the 5-column form and
    * FrontierAnalyticsSpec pins num/den_x/den_y against a driver-side
    * BigInt graph rebuild, plus den_x = den_y (the symmetrization
    * invariant). Inside the computation the moments still ride
    * DECIMAL(38,0)/HUGEINT end to end (m·Σxy alone crosses 2⁶³ at
    * ~10⁷ edge instances of ~10³ degrees, and a wrapped long would
    * corrupt them SILENTLY on the Spark side while DuckDB errored —
    * the worst kind of split). The bp ratio is the LINEAR num/den
    * form of [[graft.ops.Graph.assortativityRbpSql]] — symmetrization
    * makes den_x = den_y so r needs no square at all and the widest
    * intermediate (10000·|num|) is exact to |num| ≤ ~10³⁴ on both
    * engines.
    *
    * Scale shape: one degree aggregate over the pinned edge table,
    * two keyed joins carrying only (endpoint, degree), one 1-row
    * moment fold. No window, no collect.
    */
  private def qEventsAssortativity(s: SparkSession, dir: String): DataFrame =
    assortativityMoments(s, dir).select(col("m"), col("r_bp_signed"))

  /** [[graft.ops.Rollup]]'s algebra with SKETCH state: the stored
    * partial per (day, type) is a bottom-K KMV sketch of the distinct
    * user hashes, and the read-time merge to the type grain is set
    * union + re-truncation — the mergeable-monoid shape every
    * distinct-count rollup runs at scale (a COUNT DISTINCT partial
    * is not mergeable; a KMV is). The global K smallest hashes are
    * each among their own day's K smallest, so merging the daily
    * sketches loses nothing — and because the hash is deterministic
    * and injective ([[graft.ops.Sampling.hashVal]]), the whole
    * construction is oracle-EXACT, estimate included (the same
    * property events_kmv_churn rides). Emits the merged estimate
    * beside the exact audit. */
  private def qEventsRollupKmv(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val K = 32
    val du = Tables.events(s, dir)
      .select(to_date(col("ts")).as("d"), col("event_type"), col("user_id"))
      .distinct()
    // the stored partial: bottom-K per (day, type) — WindowGroupLimit
    // pre-reduces map-side, so partial size is K rows per bucket
    val wd = Window.partitionBy(col("d"), col("event_type")).orderBy(col("h"))
    val partials = du
      .withColumn("h", graft.ops.Sampling.hashVal(col("user_id")))
      .withColumn("rk", row_number().over(wd)).where(col("rk") <= K)
      .select(col("d"), col("event_type"), col("h"))
    // read-time merge: union, dedup, re-truncate to K, estimate
    val wt = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val merged = partials.select(col("event_type"), col("h")).distinct()
      .withColumn("rk", row_number().over(wt)).where(col("rk") <= K)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("k_union"), max(col("h")).as("h_k"))
      .select(col("event_type"), col("k_union"),
        when(col("k_union") < K, col("k_union"))
          .otherwise(expr(s"((k_union - 1) * ${graft.ops.Sampling.P}) div h_k"))
          .as("est_distinct"))
    val exact = du.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_distinct"))
    merged.join(exact, "event_type").orderBy("event_type")
  }

  /** Damped PageRank (3 rounds, fixed-point integer — see
    * [[graft.ops.Graph]]) over the event-type transition graph: which
    * event types accumulate behavioral mass. The raw 100 TB scan is
    * paid ONCE (the same one-shuffle lag/groupBy as
    * events_transitions); the iterations run on the aggregated
    * |types|² edge table with the rank vector broadcast. */
  private def qEventsPagerank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("src", lag(col("event_type"), 1).over(w))
      .where(col("src").isNotNull)
      .groupBy(col("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("w"))
    graft.ops.Graph.pageRank(edges, iters = 3)
      .select(col("node").as("event_type"), col("pr"))
      .orderBy("event_type")
  }

  /** Markov stationary distribution of the event-type transition chain
    * (pure power iteration, 4 rounds, [[graft.ops.Graph.Scale]]
    * fixed-point — PageRank's undamped sibling): the chain's own
    * long-run occupancy per event type, the "where do sessions settle"
    * readout next to events_pagerank's damped behavioral mass and
    * events_transitions' raw counts. Dangling types keep their mass
    * (self-loop closure), so Σpr is conserved up to div truncation.
    *
    * Scale shape: identical to events_pagerank — the 100 TB scan pays
    * one lag/groupBy shuffle into a |types|² edge table; all four
    * iterations run on that pinned aggregate with the |types|-row rank
    * vector broadcast. */
  private def qEventsMarkovStationary(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("src", lag(col("event_type"), 1).over(w))
      .where(col("src").isNotNull)
      .groupBy(col("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("w"))
    graft.ops.Graph.markovStationary(edges, iters = 4)
      .select(col("node").as("event_type"), col("pr"))
      .orderBy("event_type")
  }

  /** Frequent-itemset pairs (support + lift) over per-user event-type
    * baskets — the market-basket / co-occurrence mining primitive.
    * Support = users with both types; lift is emitted in integer basis
    * points ((10000·n_ab·N) div (n_a·n_b)) so the oracle hash-pins it.
    * Scale shape: the basket self-join co-partitions on user_id (both
    * sides are the same distinct frame — one exchange, reused), and
    * per-user output is bounded by |item vocabulary|² — at real scale
    * the standard move is capping per-user distinct items first, which
    * [[graft.ops.Sampling.capPerGroup]] already provides. */
  private def qEventsItemsetPairs(s: SparkSession, dir: String): DataFrame = {
    // the distinct basket frame feeds four consumers (both self-join
    // sides, the per-item counts, the user total) — pinned so the raw
    // scan + distinct shuffle run once, not five times (same
    // discipline as Graph.pageRank's edge table)
    val ut = Tables.events(s, dir).select(col("user_id"), col("event_type"))
      .distinct().transform(graft.ops.AnnCache.pin)
    val n1 = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val tot = ut.select(col("user_id")).distinct().agg(count(lit(1)).as("nt"))
    val p = ut.as("a").join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_users"))
    p.join(broadcast(n1.select(col("event_type").as("type_a"), col("n").as("n_a"))), "type_a")
      .join(broadcast(n1.select(col("event_type").as("type_b"), col("n").as("n_b"))), "type_b")
      .crossJoin(broadcast(tot))
      // numerator and denominator ride DECIMAL(38,0): 10000·n_ab·N and
      // n_a·n_b both exceed 2^63 once user counts pass ~3·10^9, and a
      // wrapped long would corrupt the ratio silently; the quotient is
      // ≤ 10000·N so BIGINT again
      .select(col("type_a"), col("type_b"), col("n_users"),
        expr("CAST((10000 * CAST(n_users AS DECIMAL(38,0)) * nt)" +
          " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)").as("lift_bp"))
      .orderBy("type_a", "type_b")
  }

  /** Triangle census over the co-presence graph
    * ([[graft.ops.Graph.triangleStats]]): degree-ordered orientation
    * bounds wedge volume at m^1.5 regardless of hub skew. One summary
    * row; every count engine-exact because the (deg, id) orientation
    * order is total. */
  private def qEventsTriangles(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.triangleStats(coPresenceEdges(s, dir))

  /** CONNECTED COMPONENTS of the co-presence graph — the community
    * census completing the graph family (pagerank, k-core, triangles,
    * reachability, assortativity all read the same pinned edge set):
    * per component SIZE, how many components exist. The histogram is
    * the canonical fragmentation read (one giant component = a social
    * graph; many small ones = isolated cliques) and is deterministic
    * where per-node labels need a representative convention.
    * Labels come from [[graft.ops.Components.connectedComponentsAdaptive]]
    * (label-prop probe + Large-Star/Small-Star finish — O(log n)
    * rounds on deep graphs, the same engine the dedup clusters run);
    * the oracle recomputes via exact recursive min-reach closure.
    *
    * Scale shape: edge-keyed iterate to the adaptive engine, then one
    * (comp) count + one (size) count. No window, no collect.
    */
  private def qEventsComponents(s: SparkSession, dir: String): DataFrame =
    graft.ops.Components.connectedComponentsAdaptive(
        coPresenceEdges(s, dir)
          .select(col("a").as("doc_a"), col("b").as("doc_b")))
      .groupBy(col("comp")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("component_size"))
      .agg(count(lit(1)).as("n_components"))
      .orderBy("component_size")

  /** 3-core of the co-presence graph ([[graft.ops.Graph.kCore]],
    * 4 peeling rounds — fixture graphs converge in ≤ 2, and the
    * `converged` column in the output certifies it as data): the
    * dense-community extractor over the same edge set the triangle
    * census reads.
    */
  private def qEventsKcore(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.kCore(coPresenceEdges(s, dir), k = 3, rounds = 4)

  /** Personalized PageRank over the same event-type transition graph
    * as `events_pagerank`, seeded on the types below 'm' (click,
    * error) — behavioral proximity to the seed behaviors, the
    * related-items form. Same pinned-edge/broadcast-rank shape and
    * 10¹² fixed-point arithmetic; only the teleport changes.
    */
  private def qEventsPpr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("src", lag(col("event_type"), 1).over(w))
      .where(col("src").isNotNull)
      .groupBy(col("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("w"))
    graft.ops.Graph.personalizedPageRank(edges, iters = 3, col("node") < "m")
      .select(col("node").as("event_type"), col("pr"))
      .orderBy("event_type")
  }

  /** Memoized common-neighbor pair counts over the co-presence graph
    * ([[graft.ops.Graph.commonNeighborCounts]], cap 64) — the wedge
    * enumeration is the expensive artifact shared by BOTH triadic
    * consumers (link prediction scores the non-edges, embeddedness
    * annotates the edges), so it runs once per session and each
    * consumer reads the pinned frame, the same discipline as the edge
    * set itself. */
  private def cnPairs(s: SparkSession, dir: String): DataFrame =
    graft.ops.AnnCache.memo(s, s"cnpairs:$dir:cap=64") {
      graft.ops.AnnCache.scaledRead(graft.ops.AnnCache.pin(
        graft.ops.Graph.commonNeighborCounts(coPresenceEdges(s, dir), cap = 64)))
    }

  /** Triadic-closure link prediction over the co-presence graph — the
    * graph-ML primitive one step past the census queries: score every
    * NON-adjacent pair by its common-neighbor count (Liben-Nowell &
    * Kleinberg, CIKM'03's strongest cheap baseline) and emit the top
    * 50 candidate edges. Deterministic: the (cn DESC, a, b) tiebreak
    * totally orders candidates, so the limit is engine-stable.
    *
    * Scale shape: wedge generation rides the capped shared [[cnPairs]]
    * frame (Σ min(deg, 64)², never Σ deg²); the anti-join keys on the
    * pair, one shuffle; the top-50 is a TakeOrdered, not a global
    * sort. Nothing all-pairs, nothing driver-side.
    */
  private def qEventsLinkPrediction(s: SparkSession, dir: String): DataFrame =
    cnPairs(s, dir)
      .join(coPresenceEdges(s, dir).select(col("a").as("x"), col("b").as("y")),
        Seq("x", "y"), "left_anti")
      .select(col("x").as("user_a"), col("y").as("user_b"), col("cn"))
      .orderBy(col("cn").desc, col("user_a"), col("user_b"))
      .limit(50)

  /** Edge embeddedness / neighborhood-Jaccard tie strength — the
    * second triadic consumer: every EXISTING co-presence edge
    * annotated with its common-neighbor count and the Jaccard of the
    * two endpoints' neighbor sets ×10⁴ (cn / (da + db − cn), the
    * standard embeddedness measure — a high-Jaccard edge is an
    * intra-community tie, a zero-cn edge is a local bridge). Degrees
    * come from the SAME capped adjacency the wedge pass read; because
    * cn is counted at the wedge CENTER's capped list while the degrees
    * are the endpoints' own capped lists, cn can exceed an endpoint's
    * capped degree once the 64-cap binds on hubs — so cn is clamped to
    * least(cn, deg_a, deg_b) before the Jaccard, keeping the ratio in
    * [0, 10⁴] and the denominator positive at every scale.
    *
    * Scale shape: one left join of the edge set against the shared
    * [[cnPairs]] frame (missing pair = bridge, cn 0) + two
    * dimension-sized degree joins. No window, no re-scan of events.
    */
  private def qEventsEdgeEmbed(s: SparkSession, dir: String): DataFrame = {
    val e = coPresenceEdges(s, dir)
    val adj = e.select(col("a").as("v"), col("b").as("n"))
      .unionAll(e.select(col("b").as("v"), col("a").as("n")))
    val deg = graft.ops.Sampling.capPerGroup(adj, col("v"), col("n"), 64)
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    e.join(cnPairs(s, dir).select(col("x").as("a"), col("y").as("b"), col("cn")),
        Seq("a", "b"), "left")
      .join(deg.select(col("v").as("a"), col("d").as("deg_a")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("deg_b")), "b")
      .select(col("a"), col("b"),
        least(coalesce(col("cn"), lit(0L)), col("deg_a"), col("deg_b"))
          .as("cn"),
        col("deg_a"), col("deg_b"))
      .withColumn("jaccard_bp",
        expr("(10000 * cn) div greatest(deg_a + deg_b - cn, 1)"))
      .orderBy("a", "b")
  }

  protected def eventsGraphExtQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_approx_distinct" -> (qEventsApproxDistinct _),
    "events_assortativity" -> (qEventsAssortativity _),
    "events_bfs_reach" -> (qEventsBfsReach _),
    "events_cheapest_reach" -> (qEventsCheapestReach _),
    "events_cms_counts" -> (qEventsCmsCounts _),
    "events_cms_exact" -> (qEventsCmsExact _),
    "events_components" -> (qEventsComponents _),
    "events_edge_embed" -> (qEventsEdgeEmbed _),
    "events_itemset_pairs" -> (qEventsItemsetPairs _),
    "events_kcore" -> (qEventsKcore _),
    "events_kmv_churn" -> (qEventsKmvChurn _),
    "events_link_prediction" -> (qEventsLinkPrediction _),
    "events_markov_stationary" -> (qEventsMarkovStationary _),
    "events_pagerank" -> (qEventsPagerank _),
    "events_ppr" -> (qEventsPpr _),
    "events_rollup_kmv" -> (qEventsRollupKmv _),
    "events_temporal_reach" -> (qEventsTemporalReach _),
    "events_triangles" -> (qEventsTriangles _),
  )

  protected def eventsGraphExtOracles: Map[String, String] = Map(
    // Sketch CERTIFICATES: the oracle computes the exact half and
    // pins the verdict at 1 — the Spark side computes the verdict
    // from the live sketch, so an out-of-envelope sketch flips ok to
    // 0 and the driver's hash compare catches it. See the query
    // scaladocs for each bound.
    "events_approx_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_exact,
        |       CAST(1 AS BIGINT) AS ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_assortativity" ->
      s"""WITH $coPresenceSql,
         |sym AS MATERIALIZED (SELECT a, b FROM ed UNION ALL SELECT b, a FROM ed),
         |deg AS MATERIALIZED (SELECT a, CAST(COUNT(*) AS BIGINT) AS d
         |  FROM sym GROUP BY 1),
         |xy AS (SELECT da.d AS dx, db.d AS dy FROM sym s
         |       JOIN deg da ON da.a = s.a JOIN deg db ON db.a = s.b),
         |mo AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m,
         |              CAST(SUM(CAST(dx AS HUGEINT)) AS HUGEINT) AS sx,
         |              CAST(SUM(CAST(dy AS HUGEINT)) AS HUGEINT) AS sy,
         |              CAST(SUM(CAST(dx AS HUGEINT) * dx) AS HUGEINT) AS sxx,
         |              CAST(SUM(CAST(dy AS HUGEINT) * dy) AS HUGEINT) AS syy,
         |              CAST(SUM(CAST(dx AS HUGEINT) * dy) AS HUGEINT) AS sxy
         |       FROM xy),
         |nd AS (SELECT m, m * sxy - sx * sy AS num,
         |              m * sxx - sx * sx AS den_x,
         |              m * syy - sy * sy AS den_y FROM mo)
         |SELECT CAST(m AS BIGINT) AS m,
         |       ${graft.ops.Graph.assortativityRbpSql("//")} AS r_bp_signed
         |FROM nd""".stripMargin,

    "events_bfs_reach" ->
      s"""WITH $coPresenceSql,
         |seeds AS (SELECT DISTINCT user_id AS v FROM events
         |          WHERE user_id % 7 = 0),
         |${graft.ops.Graph.bfsHopsSql(3)}
         |SELECT v AS user_id, dist FROM bfs ORDER BY user_id""".stripMargin,

    "events_cheapest_reach" ->
      s"""WITH cells AS MATERIALIZED (SELECT DISTINCT user_id,
         |    event_type || '|' ||
         |      CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS VARCHAR) AS cell
         |  FROM events),
         |cap AS MATERIALIZED (SELECT cell, user_id FROM (
         |    SELECT cell, user_id, row_number() OVER (PARTITION BY cell
         |      ORDER BY ${graft.ops.Sampling.capOrderSql("user_id")}) AS rk
         |    FROM cells) WHERE rk <= 50),
         |wed AS MATERIALIZED (SELECT a, b, (100 + ns - 1) // ns AS w FROM (
         |    SELECT x.user_id AS a, y.user_id AS b,
         |           CAST(COUNT(*) AS BIGINT) AS ns
         |    FROM cap x JOIN cap y ON x.cell = y.cell AND x.user_id < y.user_id
         |    GROUP BY 1, 2 HAVING COUNT(*) >= 2) g),
         |seeds AS MATERIALIZED (SELECT DISTINCT user_id AS v FROM events
         |  WHERE user_id % 7 = 0),
         |${graft.ops.Graph.cheapestPathsSql(3)}
         |SELECT v AS user_id, dist AS cost FROM d3 ORDER BY user_id""".stripMargin,

    "events_cms_counts" ->
      """SELECT user_id, n_exact, CAST(1 AS BIGINT) AS ok FROM (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_exact FROM events
        |  GROUP BY 1 ORDER BY n_exact DESC, user_id LIMIT 20)
        |ORDER BY user_id""".stripMargin,

    "events_cms_exact" ->
      """SELECT user_id, n_exact FROM (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_exact FROM events
        |  GROUP BY 1 ORDER BY n_exact DESC, user_id LIMIT 20)
        |ORDER BY user_id""".stripMargin,

    "events_components" ->
      s"""WITH RECURSIVE $coPresenceSql,
         |edges AS (SELECT a AS src, b AS dst FROM ed
         |          UNION ALL SELECT b, a FROM ed),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |cc AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
         |sz AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS sz FROM cc GROUP BY 1)
         |SELECT sz AS component_size, CAST(COUNT(*) AS BIGINT) AS n_components
         |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_itemset_pairs" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |n1 AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1),
        |tot AS (SELECT COUNT(DISTINCT user_id) AS nt FROM ut),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |             COUNT(*) AS n_users
        |      FROM ut a JOIN ut b ON a.user_id = b.user_id
        |                         AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.n_users,
        |       CAST((10000 * CAST(p.n_users AS HUGEINT) * tot.nt)
        |            // (CAST(na.n AS HUGEINT) * nb.n) AS BIGINT) AS lift_bp
        |FROM p
        |CROSS JOIN tot
        |JOIN n1 na ON na.event_type = p.type_a
        |JOIN n1 nb ON nb.event_type = p.type_b
        |ORDER BY type_a, type_b""".stripMargin,

    "events_kcore" ->
      s"""WITH $coPresenceSql,
         |${graft.ops.Graph.kCoreSql(3, 4)}
         |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM dg4) AS n_core_nodes,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM e4) AS n_core_edges,
         |       COALESCE((SELECT MIN(d) >= 3 FROM dg4), TRUE) AS converged""".stripMargin,

    "events_kmv_churn" -> {
      val h = graft.ops.Sampling.hashValSql("user_id")
      s"""WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
         |tagu AS (SELECT d AS pd, 1 AS in_a, 0 AS in_b, user_id FROM du
         |         UNION ALL SELECT d - 1, 0, 1, user_id FROM du),
         |exu AS (SELECT pd, user_id, MAX(in_a) AS in_a, MAX(in_b) AS in_b
         |        FROM tagu GROUP BY 1, 2),
         |ex AS (SELECT pd, CAST(COUNT(*) AS BIGINT) AS n_union,
         |         CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
         |       FROM exu GROUP BY 1 HAVING MAX(in_a) = 1 AND MAX(in_b) = 1),
         |sk AS (SELECT d, h FROM (
         |         SELECT d, $h AS h,
         |                row_number() OVER (PARTITION BY d ORDER BY $h) AS rk
         |         FROM du) WHERE rk <= 32),
         |tags AS (SELECT d AS pd, 1 AS in_a, 0 AS in_b, h FROM sk
         |         UNION ALL SELECT d - 1, 0, 1, h FROM sk),
         |mg AS (SELECT pd, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b
         |       FROM tags GROUP BY 1, 2),
         |mk AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY pd ORDER BY h) AS rk
         |                      FROM mg) WHERE rk <= 32),
         |es AS (SELECT pd, CAST(COUNT(*) AS BIGINT) AS k_union,
         |         CAST(SUM(in_a * in_b) AS BIGINT) AS k_both,
         |         MAX(h) AS h_k
         |       FROM mk GROUP BY 1)
         |SELECT es.pd AS day, k_union, k_both,
         |       (10000 * k_both) // k_union AS est_jaccard_bp,
         |       (10000 * n_both) // n_union AS jaccard_bp,
         |       CASE WHEN k_union < 32 THEN k_union
         |            ELSE ((k_union - 1) * ${graft.ops.Sampling.P}) // h_k END AS est_union,
         |       n_union, n_both
         |FROM es JOIN ex ON es.pd = ex.pd
         |ORDER BY day""".stripMargin
    },

    "events_markov_stationary" -> {
      import graft.ops.Graph
      s"""WITH o AS (SELECT user_id, event_type,
         |    lag(event_type) OVER (PARTITION BY user_id
         |                          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS src
         |  FROM events),
         |e AS (SELECT src, event_type AS dst, COUNT(*) AS w
         |      FROM o WHERE src IS NOT NULL GROUP BY 1, 2),
         |ow AS MATERIALIZED (SELECT src, SUM(w) AS out_w FROM e GROUP BY src),
         |ew AS MATERIALIZED (SELECT e.src, e.dst, e.w, ow.out_w
         |      FROM e JOIN ow ON e.src = ow.src),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nn AS MATERIALIZED (SELECT n.node,
         |    NOT EXISTS (SELECT 1 FROM ow WHERE ow.src = n.node) AS dangling
         |  FROM nodes n),
         |m0 AS MATERIALIZED (SELECT node, dangling,
         |    ${Graph.Scale} // (SELECT COUNT(*) FROM nn) AS pr FROM nn),
         |m1 AS MATERIALIZED (${Graph.markovStepSql("m0")}),
         |m2 AS MATERIALIZED (${Graph.markovStepSql("m1")}),
         |m3 AS MATERIALIZED (${Graph.markovStepSql("m2")}),
         |m4 AS MATERIALIZED (${Graph.markovStepSql("m3")})
         |SELECT node AS event_type, CAST(pr AS BIGINT) AS pr
         |FROM m4 ORDER BY event_type""".stripMargin
    },

    "events_pagerank" -> {
      import graft.ops.Graph
      s"""WITH o AS (SELECT user_id, event_type,
         |    lag(event_type) OVER (PARTITION BY user_id
         |                          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS src
         |  FROM events),
         |e AS (SELECT src, event_type AS dst, COUNT(*) AS w
         |      FROM o WHERE src IS NOT NULL GROUP BY 1, 2),
         |ow AS (SELECT src, SUM(w) AS out_w FROM e GROUP BY src),
         |ew AS (SELECT e.src, e.dst, e.w, ow.out_w FROM e JOIN ow ON e.src = ow.src),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT node, (SELECT COUNT(*) FROM nodes) AS n_nodes FROM nodes),
         |r0 AS (SELECT node, n_nodes, ${Graph.Scale} // n_nodes AS pr FROM nn),
         |r1 AS (${Graph.rankStepSql("r0")}),
         |r2 AS (${Graph.rankStepSql("r1")}),
         |r3 AS (${Graph.rankStepSql("r2")})
         |SELECT node AS event_type, CAST(pr AS BIGINT) AS pr
         |FROM r3 ORDER BY event_type""".stripMargin
    },

    "events_ppr" -> {
      import graft.ops.Graph
      s"""WITH o AS (SELECT user_id, event_type,
         |    lag(event_type) OVER (PARTITION BY user_id
         |                          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS src
         |  FROM events),
         |e AS (SELECT src, event_type AS dst, COUNT(*) AS w
         |      FROM o WHERE src IS NOT NULL GROUP BY 1, 2),
         |ow AS (SELECT src, SUM(w) AS out_w FROM e GROUP BY src),
         |ew AS (SELECT e.src, e.dst, e.w, ow.out_w FROM e JOIN ow ON e.src = ow.src),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nn AS (SELECT node, node < 'm' AS seed,
         |         (SELECT COUNT(*) FROM nodes WHERE node < 'm') AS n_seeds
         |       FROM nodes),
         |r0 AS (SELECT node, seed, n_seeds,
         |         CASE WHEN seed THEN ${Graph.Scale} // n_seeds ELSE 0 END AS pr
         |       FROM nn),
         |r1 AS (${Graph.pprStepSql("r0")}),
         |r2 AS (${Graph.pprStepSql("r1")}),
         |r3 AS (${Graph.pprStepSql("r2")})
         |SELECT node AS event_type, CAST(pr AS BIGINT) AS pr
         |FROM r3 ORDER BY event_type""".stripMargin
    },

    "events_rollup_kmv" -> {
      val h = graft.ops.Sampling.hashValSql("user_id")
      s"""WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, event_type, user_id
         |            FROM events),
         |hp AS (SELECT d, event_type, $h AS h FROM du),
         |pk AS (SELECT * FROM (
         |         SELECT *, row_number() OVER (PARTITION BY d, event_type ORDER BY h) AS rk
         |         FROM hp) WHERE rk <= 32),
         |mg AS (SELECT DISTINCT event_type, h FROM pk),
         |mk AS (SELECT * FROM (
         |         SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
         |         FROM mg) WHERE rk <= 32),
         |es AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS k_union, MAX(h) AS h_k
         |       FROM mk GROUP BY 1),
         |ex AS (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
         |       FROM du GROUP BY 1)
         |SELECT es.event_type, k_union,
         |       CASE WHEN k_union < 32 THEN k_union
         |            ELSE ((k_union - 1) * ${graft.ops.Sampling.P}) // h_k END AS est_distinct,
         |       n_distinct
         |FROM es JOIN ex ON es.event_type = ex.event_type
         |ORDER BY es.event_type""".stripMargin
    },

    "events_temporal_reach" ->
      s"""WITH tcells AS MATERIALIZED (SELECT DISTINCT user_id,
         |    event_type || '|' ||
         |      CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS VARCHAR) AS cell,
         |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS t
         |  FROM events),
         |tcap AS MATERIALIZED (SELECT cell, user_id, t FROM (
         |    SELECT cell, user_id, t, row_number() OVER (PARTITION BY cell
         |      ORDER BY ${graft.ops.Sampling.capOrderSql("user_id")}) AS rk
         |    FROM tcells) WHERE rk <= 50),
         |ted AS MATERIALIZED (SELECT DISTINCT x.user_id AS a, y.user_id AS b, x.t
         |     FROM tcap x JOIN tcap y
         |     ON x.cell = y.cell AND x.user_id < y.user_id),
         |seeds AS MATERIALIZED (SELECT user_id AS v,
         |    MIN(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS t0
         |  FROM events WHERE user_id % 7 = 0 GROUP BY 1),
         |${graft.ops.Graph.temporalReachSql(3)}
         |SELECT v AS user_id, CAST(arr AS TIMESTAMP) AS arr_hour
         |FROM r3 ORDER BY user_id""".stripMargin,

    "events_triangles" ->
      s"""WITH $coPresenceSql,
         |${graft.ops.Graph.triangleStatsSql}
         |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ed) AS n_edges,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM wg) AS n_wedges,
         |       (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS n_triangles""".stripMargin,

    "events_link_prediction" ->
      s"""WITH $coPresenceSql,
         |${graft.ops.Graph.commonNeighborSql(64)}
         |SELECT c.x AS user_a, c.y AS user_b, c.cn
         |FROM cnp c
         |WHERE NOT EXISTS (SELECT 1 FROM ed WHERE ed.a = c.x AND ed.b = c.y)
         |ORDER BY c.cn DESC, user_a, user_b LIMIT 50""".stripMargin,

    "events_edge_embed" ->
      s"""WITH $coPresenceSql,
         |${graft.ops.Graph.commonNeighborSql(64)},
         |deg AS MATERIALIZED (SELECT v, CAST(COUNT(*) AS BIGINT) AS d
         |  FROM adjc GROUP BY 1)
         |SELECT e.a, e.b,
         |       least(COALESCE(c.cn, 0), da.d, db.d) AS cn,
         |       da.d AS deg_a, db.d AS deg_b,
         |       (10000 * least(COALESCE(c.cn, 0), da.d, db.d))
         |         // greatest(da.d + db.d
         |              - least(COALESCE(c.cn, 0), da.d, db.d), 1) AS jaccard_bp
         |FROM ed e
         |LEFT JOIN cnp c ON c.x = e.a AND c.y = e.b
         |JOIN deg da ON da.v = e.a
         |JOIN deg db ON db.v = e.b
         |ORDER BY e.a, e.b""".stripMargin,

  )
}
