package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.{ApplyChanges, Fixtures, Routing}
import graft.ops.{Dedup, Multimodal, Sessionize, Similarity, Text, Vectors}

/** Extension queries — events-stream analytics (sessionization, funnels, experimentation, drift, time-series).
  * Graph mining and the sketch family live in
  * [[EventsGraphExtensionQueries]].
  * Builders + their DuckDB oracle mirrors for this family; shared
  * fragments come from [[ExtensionQueriesBase]]. Registered into the
  * single public registry by [[ExtensionQueries]].
  */
private[graft] trait EventsExtensionQueries extends ExtensionQueriesBase {
  /** Skew-safe distinct users per event type (low-cardinality group key
    * → classic distinct-agg hotspot; two-stage form spreads it). */
  private def qEventsDistinctUsers(s: SparkSession, dir: String): DataFrame =
    graft.ops.Skew.distinctCount(Tables.events(s, dir),
        Seq(col("event_type")), col("user_id"), as = "n_distinct_users")
      .orderBy("event_type")

  /** Sliding-window aggregation (1h windows every 30min) — the batch
    * mirror of the streaming `window()` operator. */
  private def qEventsSlidingWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(col("value").cast("decimal(18,2)")) * lit(100)).cast("long")
          .as("total_value_x100"))
      .select(col("window.start").cast("timestamp_ntz").as("w_start"),
        col("window.end").cast("timestamp_ntz").as("w_end"),
        col("event_type"), col("n"), col("total_value_x100"))
      .orderBy("w_start", "event_type")

  /** Event-type transition counts (first-order Markov structure of the
    * event stream): per user, each event pairs with its predecessor
    * via lag over one keyed time-ordered window; the (from, to) counts
    * aggregate map-side. The in-window order (ts, event_id) is unique,
    * so transitions are deterministic on both engines. One shuffle on
    * user_id, a 25-row result — the shape survives any event volume. */
  private def qEventsTransitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .where(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
  }

  /** Sequential-pattern mining one order up from [[qEventsTransitions]]:
    * the top-20 ordered event-type TRIGRAMS across all user timelines —
    * the "what three-step journey is most common" readout (the 3-gram
    * slice of classic sequence mining, on the same per-user (ts,
    * event_id)-ordered window as transitions, so tie order is total).
    * Full (n DESC, trigram ASC) tiebreak keeps the cut engine-stable.
    *
    * Scale shape: ONE user-keyed window shuffle (two leads ride it),
    * one trigram-keyed aggregate with map-side partials, TakeOrdered
    * top-20; the rank window runs on the 20-row frame.
    */
  private def qEventsTypeTrigrams(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val top = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .where(col("t2").isNotNull && col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
        .as("trigram"))
      .groupBy(col("trigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("trigram").asc).limit(20)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("trigram").asc)).cast("long"))
      .select(col("rank"), col("trigram"), col("n"))
      .orderBy("rank")
  }

  /** GK-sketch quantiles (`percentile_approx`) next to their exact rank
    * audit, mirroring events_approx_distinct's sketch-plus-audit
    * pattern: the sketch is the 100 TB form (mergeable bounded state,
    * map-side combine), and the audit proves the rank guarantee
    * |rank(approx_p90) − 0.9·n| ≤ n/accuracy. Registered in
    * CERTIFICATE form (sketch internals are engine-specific): the
    * output carries the oracle-computable (n, target_rank) plus the
    * hard verdict `ok` = [rank guarantee held] as BIGINT, mirrored by
    * a literal 1 in the oracle — a sketch regression flips `ok` and
    * fails the driver's hash gate. SketchSpec asserts ok across
    * fixtures; the true p90 itself is pinned by
    * `events_quantiles_exact`. */
  private def qEventsApproxQuantiles(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
    val approx = ev.groupBy(col("event_type"))
      .agg(percentile_approx(col("value"), lit(0.9), lit(100)).as("p90_approx"),
        count(lit(1)).as("n"))
    ev.join(broadcast(approx), "event_type")
      .groupBy(col("event_type"))
      .agg(first(col("n")).as("n"),
        first(col("p90_approx")).as("p90_approx"),
        sum(when(col("value") <= col("p90_approx"), 1L).otherwise(0L))
          .as("rank_of_approx"))
      .select(col("event_type"), col("n"),
        col("rank_of_approx"),
        expr("(9 * n + 9) DIV 10").as("target_rank"))
      .withColumn("rank_err", abs(col("rank_of_approx") - col("target_rank")))
      .select(col("event_type"), col("n"), col("target_rank"),
        (col("rank_err") <= col("n") / lit(100) + lit(1))
          .cast("long").as("ok"))
      .orderBy("event_type")
  }

  /** Oracle-pinned exact half of the quantile audit: the TRUE p90 per
    * event type (the value at rank ⌈0.9·n⌉ under (value) order,
    * decimal-exact ×100), as plain ANSI SQL — so a fixture drift that
    * moved the distribution fails the DuckDB gate instead of silently
    * re-baselining `events_approx_quantiles`'s in-data rank bound.
    * This is the AUDIT form: the per-type rank window sorts every row
    * of the group, which is exactly the cost the GK sketch exists to
    * avoid at 100 TB — at scale the sketch replaces it and this query
    * drops away (the kmv-churn pattern). */
  private def qEventsQuantilesExact(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .where(col("value").isNotNull)
      .select(col("event_type"), col("value").cast("decimal(18,2)").as("v"))
    val n = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("v").asc)
    ev.withColumn("rn", row_number().over(w).cast("long"))
      .join(broadcast(n), "event_type")
      .where(col("rn") === expr("(9 * n + 9) div 10"))
      .select(col("event_type"), col("n"),
        (col("v") * 100).cast("long").as("p90_x100"),
        col("rn").as("target_rank"))
      .orderBy("event_type")
  }

  /** Per-event-type top-5 users by total value: keyed aggregation with
    * map-side partials first, then a rank window over the (already
    * reduced) per-user totals — WindowGroupLimit caps each partition's
    * sort at k, so no group ever globally sorts. */
  private def qEventsUserTopk(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("total_x100").desc, col("user_id").asc)
    Tables.events(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(SparkEntry.decSumScaled(col("value"), "decimal(18,2)", 100, "total_x100"),
        count(lit(1)).as("n_events"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 5)
      .select(col("event_type"), col("rk"), col("user_id"),
        col("total_x100"), col("n_events"))
      .orderBy("event_type", "rk")
  }

  /** As-of join over events: every click picks up the latest signup of
    * the same user at-or-before its timestamp (right side deduped to
    * one row per (user, ts) so the match is deterministic). Oracle uses
    * DuckDB's native ASOF JOIN — an independent implementation of the
    * same semantics. */
  private def qEventsAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"))
    val signups = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("signup_event_id"))
    graft.ops.AsOf.asOfJoin(clicks, signups, Seq("user_id"), "ts", "ts",
        Map("signup_event_id" -> "signup_event_id"))
      .select(col("user_id"), col("event_id"),
        col("ts").cast("timestamp_ntz").as("ts"),
        col("asof_ts").cast("timestamp_ntz").as("asof_ts"),
        col("signup_event_id"))
      .orderBy("user_id", "event_id")
  }

  /** Supervised-label generation — the "did an error follow within the
    * horizon" churn/incident label a training pipeline attaches to
    * each purchase: next_err_ts = the user's earliest error event
    * STRICTLY AFTER the purchase (conditional min over the
    * rows-following frame under the (ts, event_id) total order — the
    * forward twin of events_attribution's strictly-preceding carry),
    * label = 1 iff it lands within 7 days. Exactly ONE user-keyed
    * shuffle feeds the window; labeling is embarrassingly parallel
    * across users, and the frame is rows-based on a total order so
    * both engines agree under timestamp ties.
    */
  private def qEventsErrorLabel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    Tables.events(s, dir)
      .withColumn("next_err_ts",
        min(when(col("event_type") === "error", col("ts"))).over(w))
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        col("ts").cast("timestamp_ntz").as("ts"),
        col("next_err_ts").cast("timestamp_ntz").as("next_err_ts"),
        (col("next_err_ts").isNotNull &&
          col("next_err_ts") <= col("ts") + expr("INTERVAL 7 DAY"))
          .cast("long").as("label"))
      .orderBy("event_id")
  }

  /** Range join composed with sessionization: click-sessions become
    * intervals; every purchase is matched to the session of the same
    * user whose [start, end] contains it, where end = last click +
    * the 30 min session gap (session-window close semantics — a bare
    * MIN..MAX of clicks is a near-degenerate interval). Bucketed
    * interval join (30min buckets = the gap), oracle = plain BETWEEN
    * join over the same session CTEs. */
  private def qEventsRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val sessions = Sessionize.sessionStats(ev.where(col("event_type") === "click"),
        key = col("user_id"), ts = col("ts"), gapMicros = 1800L * 1000000L,
        valueCol = col("value"), tieBreak = Seq(col("event_id")))
      .select(col("key").as("user_id"), col("session_id"), col("session_start"),
        (col("session_end") + expr("INTERVAL 30 MINUTES")).as("session_end"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    graft.ops.RangeJoin.pointInInterval(purchases, sessions, Seq("user_id"),
        "ts", "session_start", "session_end", bucketMicros = 1800L * 1000000L)
      .select(col("user_id"), col("session_id"), col("event_id"),
        col("ts").cast("timestamp_ntz").as("ts"),
        col("session_start").cast("timestamp_ntz").as("session_start"),
        col("session_end").cast("timestamp_ntz").as("session_end"))
      .orderBy("user_id", "session_id", "event_id")
  }

  /** Funnel analysis: per user, first signup → first click at-or-after
    * it → first purchase at-or-after that; one row per funnel stage
    * with the user count that reached it. Three keyed aggregations
    * (conditional mins), no self-joins over raw events. */
  private def qEventsFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
    val s1 = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("ts"))).as("t_signup"))
    val s2 = ev.join(s1, "user_id")
      .groupBy(col("user_id"), col("t_signup"))
      .agg(min(when(col("event_type") === "click" && col("ts") >= col("t_signup"),
        col("ts"))).as("t_click"))
    val s3 = ev.join(s2, "user_id")
      .groupBy(col("user_id"), col("t_signup"), col("t_click"))
      .agg(min(when(col("event_type") === "purchase" && col("ts") >= col("t_click"),
        col("ts"))).as("t_purchase"))
    s3.agg(
        count(when(col("t_signup").isNotNull, 1)).as("n_signup"),
        count(when(col("t_click").isNotNull, 1)).as("n_click_after"),
        count(when(col("t_purchase").isNotNull, 1)).as("n_purchase_after"))
      .select(expr("stack(3, 'signup', n_signup, 'click_after', n_click_after, " +
        "'purchase_after', n_purchase_after) as (stage, n_users)"))
      .orderBy("stage")
  }

  /** Funnel × experiment interaction — the analysis that follows a
    * significant ab_test: WHERE in the signup→click→purchase chain
    * does variant B actually win? Same chained conditional-min funnel
    * as events_funnel, folded per id-parity variant instead of
    * globally, with each stage's step conversion from the PRIOR stage
    * in exact bp (a variant can win the top of the funnel and lose
    * the bottom — the global uplift number can't show that). Same
    * scale shape as events_funnel: three user-keyed aggregates, 2-row
    * fold, stack to long form.
    */
  private def qEventsFunnelByVariant(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
    val s1 = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("ts"))).as("t_signup"))
    val s2 = ev.join(s1, "user_id")
      .groupBy(col("user_id"), col("t_signup"))
      .agg(min(when(col("event_type") === "click" && col("ts") >= col("t_signup"),
        col("ts"))).as("t_click"))
    val s3 = ev.join(s2, "user_id")
      .groupBy(col("user_id"), col("t_signup"), col("t_click"))
      .agg(min(when(col("event_type") === "purchase" && col("ts") >= col("t_click"),
        col("ts"))).as("t_purchase"))
    s3.withColumn("variant",
        when(col("user_id") % 2 === 0, "A").otherwise("B"))
      .groupBy(col("variant"))
      .agg(count(when(col("t_signup").isNotNull, 1)).as("n_signup"),
        count(when(col("t_click").isNotNull, 1)).as("n_click_after"),
        count(when(col("t_purchase").isNotNull, 1)).as("n_purchase_after"))
      .select(col("variant"), expr(
        """stack(3,
          |'signup', n_signup, CAST(10000 AS BIGINT),
          |'click_after', n_click_after,
          |  (10000 * n_click_after) div greatest(n_signup, 1),
          |'purchase_after', n_purchase_after,
          |  (10000 * n_purchase_after) div greatest(n_click_after, 1))
          |as (stage, n_users, step_conv_bp)""".stripMargin))
      .orderBy("variant", "stage")
  }

  /** Cohort retention: users grouped by signup week, counted in each
    * later week they were active (any event type). Two keyed
    * aggregations + one keyed join — the classic retention matrix with
    * no per-user driver work. `week_offset` = whole weeks since the
    * cohort week. */
  private def qEventsRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val cohort = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    val active = ev.select(col("user_id"), date_trunc("week", col("ts")).as("week"))
      .distinct()
    active.join(cohort, "user_id")
      .where(col("week") >= col("cohort_week"))
      .groupBy(col("cohort_week").cast("timestamp_ntz").as("cohort_week"),
        floor(datediff(col("week"), col("cohort_week")) / 7).cast("long").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Distribution-drift audit between the event stream's first and
    * second half (by day, pivot = exact midpoint of the observed
    * range): per fixed-width value bin, row counts and share deltas
    * in basis points — the monitoring table a PSI/KS drift alarm
    * reads, with the log-free integer form of the comparison (share
    * deltas, not Σ(a−b)·ln(a/b), so both engines agree bit-for-bit).
    * One binning pass + one 16-key aggregate; the date bounds ride one
    * broadcast row, and the half totals are derived FROM the binned
    * aggregate (every in-scope row lands in exactly one bin, so
    * tot_a = Σ n_a) via a window sum over the ≤16-row post-aggregate
    * frame — never a second events pass (plan-guarded in PlanSpec).
    * Divisors clamp to ≥1 in both engines: a single-day fixture puts
    * every event in half A and Spark's non-ANSI `div 0` → NULL where
    * DuckDB's `// 0` raises — the clamp keeps the engines
    * bit-identical under that drift (n_b = 0 forces the share to 0).
    */
  private def qEventsDriftHalves(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .where(col("value").isNotNull)
      .select(to_date(col("ts")).as("day"),
        col("value").cast("decimal(18,2)").as("v"))
    val b = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val wAll = Window.partitionBy(lit(1))
    ev.crossJoin(broadcast(b))
      .withColumn("in_a",
        col("day") <= expr("date_add(d0, CAST(datediff(d1, d0) div 2 AS INT))"))
      // non-negative dividend: a negative value would split the
      // engines on trunc-vs-floor division (none in the fixture, but
      // the guard costs nothing and survives drift)
      .withColumn("bin",
        least(lit(15L), expr("greatest(CAST(v * 100 AS BIGINT), 0L) div 2000")))
      .groupBy("bin")
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b"))
      .withColumn("tot_a", sum(col("n_a")).over(wAll))
      .withColumn("tot_b", sum(col("n_b")).over(wAll))
      .select(col("bin"), col("n_a"), col("n_b"),
        expr("(10000 * n_a) div greatest(tot_a, 1L)").as("share_a_bp"),
        expr("(10000 * n_b) div greatest(tot_b, 1L)").as("share_b_bp"),
        expr("(10000 * n_a) div greatest(tot_a, 1L) - " +
          "(10000 * n_b) div greatest(tot_b, 1L)").as("drift_bp"))
      .orderBy("bin")
  }

  /** CUPED-ADJUSTED EXPERIMENT READOUT (Deng/Xu/Kohavi/Walker,
    * "Improving the Sensitivity of Online Controlled Experiments by
    * Utilizing Pre-Experiment Data", WSDM 2013) — the industry-
    * standard variance reduction `events_ab_test` lacks: each user's
    * post-period conversion metric Y (second-half purchases) is
    * adjusted by their PRE-period covariate X (first-half activity),
    * with θ = cov(X,Y)/var(X) pooled over all users. Everything in
    * exact integers, the `events_autocorr` convention: pooled moment
    * combinations num = n·Σxy − Σx·Σy and den = n·Σxx − (Σx)² stay
    * well inside BIGINT at any fixture scale (counts, not values);
    * θ, both raw mean differences, and the adjusted uplift are basis
    * points via the sign/abs division pattern (non-negative operands
    * only — trunc-vs-floor never splits the engines). The pre/post
    * pivot is `events_drift_halves`' midpoint convention.
    *
    * Scale shape: one user-keyed aggregate over raw events, pinned
    * once for its two consumers (pooled moments + per-variant sums —
    * both 1-row folds). No window, no data-sized join.
    */
  private def qEventsCuped(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
    val b = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val per = ev.crossJoin(broadcast(b))
      .withColumn("in_pre",
        col("day") <= expr("date_add(d0, CAST(datediff(d1, d0) div 2 AS INT))"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("in_pre"), 1L).otherwise(0L)).as("x"),
        sum(when(!col("in_pre") && col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("y"))
      .withColumn("variant",
        when(col("user_id") % 2 === 0, "A").otherwise("B"))
      .transform(graft.ops.AnnCache.pin) // two 1-row consumers below + nothing else
    val mo = per.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
    def side(v: String, suf: String) = per.where(col("variant") === v)
      .agg(count(lit(1)).as(s"n_$suf"), sum(col("x")).as(s"sum_x_$suf"),
        sum(col("y")).as(s"sum_y_$suf"))
    side("A", "a").crossJoin(broadcast(side("B", "b")))
      .crossJoin(broadcast(mo))
      .withColumn("num", expr("n * sxy - sx * sy"))
      .withColumn("den", expr("n * sxx - sx * sx"))
      .withColumn("theta_bp", expr(
        "CAST(sign(num) * ((10000 * abs(num)) div greatest(den, 1L)) AS BIGINT)"))
      .withColumn("diff_y_bp", expr(
        "(10000 * sum_y_b) div greatest(n_b, 1L) - " +
          "(10000 * sum_y_a) div greatest(n_a, 1L)"))
      .withColumn("diff_x_bp", expr(
        "(10000 * sum_x_b) div greatest(n_b, 1L) - " +
          "(10000 * sum_x_a) div greatest(n_a, 1L)"))
      .withColumn("adj_uplift_bp", expr(
        "diff_y_bp - CAST(sign(theta_bp * diff_x_bp) * " +
          "((abs(theta_bp) * abs(diff_x_bp)) div 10000) AS BIGINT)"))
      .select(col("n_a"), col("n_b"), col("sum_x_a"), col("sum_x_b"),
        col("sum_y_a"), col("sum_y_b"), col("theta_bp"),
        col("diff_y_bp"), col("diff_x_bp"), col("adj_uplift_bp"))
  }

  /** FIRST-touch attribution — the other standard model next to
    * `events_attribution`'s last-touch: each purchase credits the
    * user's EARLIEST touch ever seen before it (`first(touch,
    * ignoreNulls)` over the same strictly-preceding frame). Shipping
    * both models side by side is the point: the fixture makes them
    * visibly disagree, which is the argument attribution reporting
    * actually has to carry. Same single user-keyed shuffle.
    */
  private def qEventsAttributionFirst(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, dir)
      .withColumn("touch", first(
        when(col("event_type").isin("click", "view", "signup"),
          col("event_type")), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("direct")).as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
          .as("revenue_x100"))
      .orderBy("touch_type")
  }

  /** Max concurrent sessions per day — the sweep-line / interval-
    * overlap operator (capacity planning: "how many sessions were
    * open at once?"). Sessions come from the same 30-min-gap
    * gaps-and-islands build as `events_sessionize`; each session's
    * [start, end] interval is split at midnight into per-day segments
    * (`sequence` over its day span — a session is bounded, so the
    * explode fan-out is its day count, not data-sized), then each
    * segment emits a +1/−1 boundary pair and a per-day running sum
    * over (t ASC, delta DESC) sweeps the day. Ordering +1 before −1
    * at equal timestamps makes overlap INCLUSIVE (a session ending
    * exactly when another starts counts as concurrent, and a
    * single-instant session counts as 1). The per-day max is
    * order-invariant under the remaining ties — within an equal
    * (t, delta) block every permutation yields the same prefix-sum
    * set — so the result is engine- and partitioning-exact.
    *
    * Scale shape: one user-keyed shuffle (sessionize), then the
    * HOT-DAY-SAFE two-pass sweep ([[graft.ops.Intervals
    * .maxConcurrentPerDay]]): running sums inside (day, hour-bucket)
    * partitions + per-bucket offsets from a day-keyed window over the
    * ≤ 25-row bucket summary — no day-wide single task anywhere, so a
    * skewed day at 100 TB fans across its hours. Identical output to
    * the single-sweep form (offset + local run = global run;
    * FrontierAnalyticsSpec pins it against brute force on a
    * one-hot-day fixture, PlanSpec pins the partition spec).
    */
  private def qEventsConcurrency(s: SparkSession, dir: String): DataFrame = {
    val sess = Sessionize.withSessionId(Tables.events(s, dir),
        col("user_id"), col("ts"), gapMicros = 1800L * 1000000L,
        tieBreak = Seq(col("event_id")))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
    val segs = sess
      .select(col("t0"), col("t1"),
        explode(sequence(to_date(col("t0")), to_date(col("t1")))).as("day"))
      .select(col("day"),
        greatest(col("t0"), col("day").cast("timestamp")).as("seg_start"),
        least(col("t1"), date_add(col("day"), 1).cast("timestamp")).as("seg_end"))
    // both boundaries explode from ONE seg row — a union of two segs
    // branches would rebuild the whole sessionize subtree (two scans,
    // two user-keyed shuffles) since Spark doesn't dedup subtrees
    val bounds = segs
      .select(col("day"), explode(array(
        struct(col("seg_start").as("t"), lit(1L).as("delta")),
        struct(col("seg_end").as("t"), lit(-1L).as("delta")))).as("b"))
      .select(col("day"), col("b.t").as("t"), col("b.delta").as("delta"))
    graft.ops.Intervals.maxConcurrentPerDay(bounds)
      .select(col("day"), col("max_concurrent"),
        (col("n_bounds") / 2).cast("long").as("n_active_sessions"))
      .orderBy("day")
  }

  /** Time-weighted average value per event type (TWAP /
    * last-observation-carried-forward): each reading holds until the
    * type's NEXT reading, so the mean weights every value by its
    * holding duration in seconds — the correct average for
    * irregularly-sampled series (a plain AVG over-weights bursts; the
    * fixture's burst pattern makes the two visibly diverge). Exact
    * integers throughout: value in cents, weight in whole seconds,
    * `twap_x100 = Σ(v·w) div Σw` with the non-negative-dividend clamp
    * and the weighted sum in DECIMAL(38,0) (cents × seconds × rows
    * crosses 2^63 at ~10¹⁰ row-seconds). The span's LAST reading has
    * no successor and drops from the weighting (standard LOCF-over-
    * observed-span contract; `n_open` reports how many).
    *
    * Scale shape: ONE shuffle (hash by event_type) feeds the lead
    * window and the per-type fold — same single-exchange discipline
    * as events_attribution; no global window, no self-join.
    */
  private def qEventsTwap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .where(col("value").isNotNull)
      .select(col("event_type"), col("ts"), col("event_id"),
        greatest((col("value").cast("decimal(18,2)") * 100).cast("long"),
          lit(0L)).as("v"))
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .withColumn("wsec",
        when(col("next_ts").isNotNull,
          unix_timestamp(col("next_ts")) - unix_timestamp(col("ts"))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_readings"),
        sum(when(col("wsec").isNull, 1L).otherwise(0L)).as("n_open"),
        // coalesce: a type with a single (open) reading sums NULL, and
        // the engines disagree on greatest(NULL, 1) — clamp to 0 here
        // so the division clamp below sees a real number in both
        coalesce(sum(col("wsec")), lit(0L)).as("total_sec"),
        coalesce(sum(col("v") * col("wsec").cast("decimal(38,0)")),
          lit(0L).cast("decimal(38,0)")).as("vw"),
        sum(col("v")).as("sv"))
      .select(col("event_type"), col("n_readings"), col("n_open"),
        col("total_sec"),
        expr("CAST(vw div greatest(CAST(total_sec AS DECIMAL(38,0)), 1) " +
          "AS BIGINT)").as("twap_x100"),
        // integer division, not AVG: a float mean would round vs
        // truncate differently across engines
        expr("sv div n_readings").as("naive_mean_x100"))
      .orderBy("event_type")
  }

  /** Binned two-sample Kolmogorov–Smirnov drift statistic — the
    * CUMULATIVE companion of `events_drift_halves` (same midpoint
    * split, same 16 value bins, same clamps): per bin the cumulative
    * share of each half in basis points, their signed gap, and the KS
    * statistic (max absolute gap) carried on every row. PSI-style
    * per-bin deltas catch level shifts; the KS max-gap catches a
    * DISTRIBUTIONAL shift that no single bin dominates. Same
    * non-negative-dividend discipline — cumulative counts are
    * monotone non-negative, so trunc-vs-floor division can never
    * split the engines.
    *
    * Scale shape: identical to the drift audit — one events scan into
    * a 16-key aggregate; every window (cumsum, totals, the max gap)
    * sits on the 16-row binned frame.
    */
  private def qEventsDriftKs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .where(col("value").isNotNull)
      .select(to_date(col("ts")).as("day"),
        col("value").cast("decimal(18,2)").as("v"))
    val b = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val wAll = Window.partitionBy(lit(1))
    val wCum = wAll.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.crossJoin(broadcast(b))
      .withColumn("in_a",
        col("day") <= expr("date_add(d0, CAST(datediff(d1, d0) div 2 AS INT))"))
      .withColumn("bin",
        least(lit(15L), expr("greatest(CAST(v * 100 AS BIGINT), 0L) div 2000")))
      .groupBy("bin")
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b"))
      .withColumn("cum_a", sum(col("n_a")).over(wCum))
      .withColumn("cum_b", sum(col("n_b")).over(wCum))
      .withColumn("tot_a", sum(col("n_a")).over(wAll))
      .withColumn("tot_b", sum(col("n_b")).over(wAll))
      .withColumn("cum_share_a_bp",
        expr("(10000 * cum_a) div greatest(tot_a, 1L)"))
      .withColumn("cum_share_b_bp",
        expr("(10000 * cum_b) div greatest(tot_b, 1L)"))
      .withColumn("gap_bp", col("cum_share_a_bp") - col("cum_share_b_bp"))
      .withColumn("ks_bp", max(abs(col("gap_bp"))).over(wAll))
      .select(col("bin"), col("n_a"), col("n_b"), col("cum_share_a_bp"),
        col("cum_share_b_bp"), col("gap_bp"), col("ks_bp"))
      .orderBy("bin")
  }

  /** Global EQUI-DEPTH histogram (ntile(16)) of event value in exact
    * cents — the statistics-collection primitive every cost-based
    * optimizer and data-profiling pass builds (equi-depth beats
    * equi-width under skew: every bucket carries the same row count,
    * so bucket WIDTH is the density signal). Bucket boundaries are
    * engine-exact: ranks come from the deterministic total order
    * (value, event_id) and SQL ntile's uneven-split rule (first
    * N mod k buckets hold one extra row) is reproduced in integer
    * arithmetic from the rank, so the DuckDB `ntile` mirror matches
    * hash-for-hash.
    *
    * Scale shape: the rank rides [[graft.ops.Linkage.globalRank]]
    * (range repartition + per-partition offsets — NO single-partition
    * window over the data), the 1-row total broadcasts back, and the
    * bucket rollup is one keyed aggregate. The classic naive form —
    * `ntile(16) OVER (ORDER BY v)` — funnels the table through one
    * task at 100 TB; this is its distributed equivalent, exactly.
    */
  private def qEventsEquidepth(s: SparkSession, dir: String): DataFrame = {
    val k = 16
    val base = Tables.events(s, dir)
      .where(col("value").isNotNull)
      .select((col("value").cast("decimal(18,2)") * 100).cast("long").as("v"),
        col("event_id"))
    val ranked = graft.ops.Linkage.globalRank(base, col("v"), col("event_id"))
    val tot = ranked.agg(count(lit(1)).as("n"))
    ranked.crossJoin(broadcast(tot))
      // ntile(k): q = n div k, r = n mod k; buckets 1..r hold q+1 rows
      // (greatest guards the n < k corner where the ELSE divisor would
      // be zero — the branch is unreachable there, but neither engine
      // should be asked to prove that)
      .withColumn("bucket",
        expr(s"""CASE WHEN rank <= (n % $k) * (n div $k + 1)
                 THEN (rank - 1) div (n div $k + 1) + 1
                 ELSE (n % $k) + (rank - 1 - (n % $k) * (n div $k + 1))
                      div greatest(n div $k, 1) + 1 END"""))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_values"),
        min(col("v")).as("lo_x100"), max(col("v")).as("hi_x100"))
      .orderBy("bucket")
  }

  /** CUSUM changepoint monitor (Page, Biometrika 1954) on the daily
    * event-count series — the sequential alarm a pipeline health
    * check runs over ingest volume (a level shift trips the alarm
    * within days even when each single day stays inside its own
    * noise band). Exact integer form, log-free and division-free:
    * deviations are scaled by the day count D so the mean never
    * becomes a fraction (`dev_d = n_d·D − N`, zero-sum by
    * construction), and the one-sided resets ride the prefix-extrema
    * identity — `CUSUM⁺_d = S_d − min(0, min_{j≤d} S_j)` for the
    * running sum S — instead of the recursive max(0, ·) fold, which
    * no window function expresses directly. Alarm thresholds at 2·N
    * scaled units ≈ two mean-days of accumulated excess.
    *
    * Scale shape: ONE shuffle for the daily aggregate; the cumsum /
    * running-extrema windows and the (N, D) scalar all sit on the
    * ≤|days| post-aggregate frame (the parts_abc_analysis rule:
    * global windows only on dimension-sized frames). No division
    * anywhere, so trunc-vs-floor can never split the engines.
    */
  private def qEventsCusum(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val scalar = daily.agg(sum(col("n")).as("total"), count(lit(1)).as("d"))
    val wCum = Window.partitionBy(lit(1)).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(scalar))
      .withColumn("dev", col("n") * col("d") - col("total"))
      .withColumn("s_run", sum(col("dev")).over(wCum))
      .withColumn("cusum_pos",
        col("s_run") - least(lit(0L), min(col("s_run")).over(wCum)))
      .withColumn("cusum_neg",
        greatest(lit(0L), max(col("s_run")).over(wCum)) - col("s_run"))
      .select(col("day"), col("n"), col("dev"),
        col("cusum_pos"), col("cusum_neg"),
        (col("cusum_pos") > lit(2L) * col("total")).as("alarm_hi"),
        (col("cusum_neg") > lit(2L) * col("total")).as("alarm_lo"))
      .orderBy("day")
  }

  /** Half-life-decayed engagement score per user — the recency
    * weighting a freshness-aware sampler or engagement ranker uses
    * (yesterday's event counts double tomorrow's). The decay is
    * EXACT dyadic arithmetic: each event contributes
    * `v_x100 div 2^age_days` (half-life = 1 day), the power riding a
    * bigint shift capped at 40 (beyond that the contribution is 0 at
    * any representable value — the cap bounds the shift, it never
    * changes a result). Dividends clamp non-negative so trunc-vs-
    * floor division can never split the engines under fixture drift.
    *
    * Scale shape: the corpus max-day is a 1-row scan-level aggregate
    * broadcast into the scan stage; contributions are per-row
    * projections folded by ONE user-keyed partial-agg shuffle —
    * per-event division before the sum keeps the fold order-free.
    */
  private def qEventsDecayScore(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .where(col("value").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        greatest((col("value").cast("decimal(18,2)") * 100).cast("long"), lit(0L))
          .as("v_x100"))
    val last = ev.agg(max(col("day")).as("d1"))
    ev.crossJoin(broadcast(last))
      .withColumn("age", datediff(col("d1"), col("day")).cast("long"))
      .withColumn("contrib", expr(
        "v_x100 div shiftleft(CAST(1 AS BIGINT), CAST(least(age, 40) AS INT))"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("v_x100")).as("raw_x100"),
        sum(col("contrib")).as("decayed_x100"))
      .orderBy("user_id")
  }

  /** Lag-k AUTOCORRELATION audit (k = 1..7) of the daily event-count
    * series — the seasonality probe run before trusting any
    * day-over-day drift number (a strong lag-7 says the weekday cycle,
    * not drift, explains the movement). Pearson over calendar-lagged
    * pairs in EXACT integers: per lag, num = n·Σxy − Σx·Σy and the
    * two variance legs den_x/den_y publish as bigints, and the signed
    * effect size r²_bp = sign(num) · (10⁴·num²) div (den_x·den_y)
    * rides DECIMAL(38,0) (num² alone crosses 2^63 at ~3000 daily
    * events over a year) with greatest(·,1) clamps so a constant
    * series yields 0, not an engine-split division.
    *
    * Scale shape: ONE shuffle for the daily aggregate; the lag join
    * explodes the ≤|days| frame 7× and self-joins BROADCAST on the
    * lagged calendar day — every post-aggregate frame is
    * dimension-sized, the 100 TB cost is the daily group-by alone.
    */
  private def qEventsAutocorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .transform(graft.ops.AnnCache.pin) // both sides of the lag join + nothing else
    val lagged = daily
      .withColumn("k", explode(expr("sequence(1, 7)")))
      .withColumn("day_k", date_add(col("day"), col("k")))
      .select(col("k"), col("day_k"), col("x").as("x_t"))
    val pairs = lagged.join(broadcast(daily.select(
        col("day").as("day_k"), col("x").as("x_k"))), Seq("day_k"))
    pairs.groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x_t")).as("sx"), sum(col("x_k")).as("sy"),
        sum(col("x_t") * col("x_t")).as("sxx"),
        sum(col("x_k") * col("x_k")).as("syy"),
        sum(col("x_t") * col("x_k")).as("sxy"))
      .select(col("k").cast("long").as("k"), col("n_pairs"),
        (col("n_pairs") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n_pairs") * col("sxx") - col("sx") * col("sx")).as("den_x"),
        (col("n_pairs") * col("syy") - col("sy") * col("sy")).as("den_y"))
      .withColumn("r2_bp", expr(
        """CAST(sign(num) * ((10000 * CAST(num AS DECIMAL(38,0)) * num)
          | div greatest(CAST(den_x AS DECIMAL(38,0)) * den_y, 1)) AS BIGINT)"""
          .stripMargin))
      .orderBy("k")
  }

  /** LAST-TOUCH ATTRIBUTION — each purchase credits the user's most
    * recent preceding touch event (click / view / signup; purchases
    * and errors are not touches), the standard product-analytics
    * attribution model; purchases with no prior touch credit
    * 'direct'. The carry is `last(touch, ignoreNulls)` over the
    * strictly-preceding rows frame ordered by (ts, event_id) — the
    * conditional last-value idiom both engines implement natively —
    * and revenue lands in exact cents.
    *
    * Scale shape: ONE shuffle (hash by user_id) feeds the window —
    * attribution is embarrassingly parallel across users — then a
    * 4-row channel aggregate. No global window, no self-join.
    */
  private def qEventsAttribution(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, dir)
      .withColumn("touch", last(
        when(col("event_type").isin("click", "view", "signup"),
          col("event_type")), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("direct")).as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
          .as("revenue_x100"))
      .orderBy("touch_type")
  }

  /** Time-BOUND funnel — `events_funnel` with conversion windows,
    * the form product analytics actually ships (a purchase three
    * weeks after the click is not attribution): each stage must land
    * within 3 days of the previous stage's timestamp (a horizon the
    * fixture discriminates: 15 -> 11 -> 8 users at sf0.001, where an
    * unwindowed funnel converts all 15). Same
    * three-conditional-min shape (no self-join over raw events — each
    * pass joins the per-user stage table, dimension-sized, back to
    * one events scan), the window constraint rides inside the
    * conditional. Timestamp-interval arithmetic is engine-exact.
    */
  private def qEventsFunnelWindowed(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
    val s1 = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("ts"))).as("t_signup"))
    val s2 = ev.join(s1, "user_id")
      .groupBy(col("user_id"), col("t_signup"))
      .agg(min(when(col("event_type") === "click" &&
        col("ts") >= col("t_signup") &&
        col("ts") <= col("t_signup") + expr("INTERVAL 3 DAY"),
        col("ts"))).as("t_click"))
    val s3 = ev.join(s2, "user_id")
      .groupBy(col("user_id"), col("t_signup"), col("t_click"))
      .agg(min(when(col("event_type") === "purchase" &&
        col("ts") >= col("t_click") &&
        col("ts") <= col("t_click") + expr("INTERVAL 3 DAY"),
        col("ts"))).as("t_purchase"))
    s3.agg(
        count(when(col("t_signup").isNotNull, 1)).as("n_signup"),
        count(when(col("t_click").isNotNull, 1)).as("n_click_3d"),
        count(when(col("t_purchase").isNotNull, 1)).as("n_purchase_3d"))
      .select(expr("stack(3, 'signup', n_signup, 'click_3d', n_click_3d, " +
        "'purchase_3d', n_purchase_3d) as (stage, n_users)"))
      .orderBy("stage")
  }

  /** Winsorization / robust clipping — the feature-engineering
    * operator that tames heavy-tailed numeric columns before
    * training: per event type, values clip to the exact [p1, p99]
    * rank bounds (the same ⌈q·n⌉ rank arithmetic as
    * events_quantiles_exact, both bounds read from ONE window pass
    * via conditional aggregates), and the query emits per-type
    * clipped-tail counts and the clipped decimal sum. The per-type
    * rank window is the audit-grade exact form; at 100 TB the GK
    * sketch supplies the bounds and the clip itself stays a
    * scan-stage projection against the broadcast bounds row.
    */
  private def qEventsWinsorize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .where(col("value").isNotNull)
      .select(col("event_type"), col("value").cast("decimal(18,2)").as("v"))
    val n = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("v").asc)
    val bounds = ev.withColumn("rn", row_number().over(w).cast("long"))
      .join(broadcast(n), "event_type")
      .groupBy("event_type")
      .agg(min(when(col("rn") === expr("(n + 99) div 100"), col("v"))).as("p1"),
        min(when(col("rn") === expr("(99 * n + 99) div 100"), col("v"))).as("p99"))
    ev.join(broadcast(bounds), "event_type")
      .select(col("event_type"),
        greatest(col("p1"), least(col("p99"), col("v"))).as("cv"),
        (col("v") < col("p1")).as("lo"), (col("v") > col("p99")).as("hi"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("lo"), 1L).otherwise(0L)).as("n_clipped_lo"),
        sum(when(col("hi"), 1L).otherwise(0L)).as("n_clipped_hi"),
        (sum(col("cv")) * 100).cast("long").as("clipped_sum_x100"))
      .orderBy("event_type")
  }

  /** Sketch-served winsorize — the 100 TB form [[qEventsWinsorize]]'s
    * scaladoc promises: the [p1, p99] bounds come from the GK sketch
    * (`percentile_approx`: mergeable bounded state, map-side combine —
    * no per-type rank window anywhere in the plan, guarded by
    * SketchSpec), and the clip is a scan-stage projection against the
    * broadcast 1-row-per-type bounds frame. Payload matches the exact
    * form; the audit pins the GK rank guarantee: each clipped tail
    * can hold at most ⌈n/100⌉ + n/accuracy + 1 rows (the exact tail
    * size plus the sketch's worst-case rank slack). Registered in
    * CERTIFICATE form (sketch-derived bounds are engine-specific):
    * the output carries the oracle-computable group count plus the
    * hard verdict `ok` = [both tails within the GK cap] as BIGINT,
    * mirrored by a literal 1 in the oracle — a sketch regression
    * flips `ok` and fails the driver's hash gate, the
    * events_approx_quantiles pattern. The winsorized payload itself
    * is pinned by the exact twin `events_winsorize`.
    */
  private def qEventsWinsorizeApprox(s: SparkSession, dir: String): DataFrame = {
    val acc = 100
    val ev = Tables.events(s, dir)
      .where(col("value").isNotNull)
      .select(col("event_type"), col("value").cast("decimal(18,2)").as("v"))
    val bounds = ev.groupBy("event_type")
      .agg(percentile_approx(col("v"), lit(0.01), lit(acc)).as("p1"),
        percentile_approx(col("v"), lit(0.99), lit(acc)).as("p99"),
        count(lit(1)).as("n"))
    val tailCap = expr(s"(n + 99) div 100") + col("n") / lit(acc) + lit(1)
    ev.join(broadcast(bounds), "event_type")
      .select(col("event_type"), col("n"),
        greatest(col("p1"), least(col("p99"), col("v"))).as("cv"),
        (col("v") < col("p1")).as("lo"), (col("v") > col("p99")).as("hi"))
      .groupBy("event_type")
      .agg(first(col("n")).as("n"),
        sum(when(col("lo"), 1L).otherwise(0L)).as("n_clipped_lo"),
        sum(when(col("hi"), 1L).otherwise(0L)).as("n_clipped_hi"))
      .select(col("event_type"), col("n"),
        (col("n_clipped_lo") <= tailCap && col("n_clipped_hi") <= tailCap)
          .cast("long").as("ok"))
      .orderBy("event_type")
  }

  /** Experiment power / minimum-detectable-effect readout — the
    * fourth member of the experimentation quartet (srm → ab_test →
    * cuped → power): at the standard 80% power / 5% two-sided alpha
    * (z-combination 2.8016), the smallest conversion-rate lift the
    * current sample can detect, in basis points. mde = 2.8016 ·
    * √(2·p·(1−p)/n_min) with p the pooled rate; squared and scaled,
    * mde_bp² = 156979252·p_bp·(10000−p_bp)/(10⁷·n_min), all integer.
    * The square root is an EXACT integer sqrt: floor(sqrt(double))
    * then a ±1 adjustment against the integer square — so a 1-ulp
    * wobble in either engine's (correctly-rounded) sqrt cannot split
    * the result. One distinct-user fold into a 1-row readout.
    */
  private def qEventsPowerAnalysis(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("converted"))
      .withColumn("a", pmod(col("user_id"), lit(2)) === 0)
      .agg(
        sum(when(col("a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("a"), col("converted")).otherwise(0L)).as("conv_a"),
        sum(when(!col("a"), col("converted")).otherwise(0L)).as("conv_b"))
      .withColumn("pooled_bp",
        expr("(10000 * (conv_a + conv_b)) div (n_a + n_b)"))
      .withColumn("n_min", least(col("n_a"), col("n_b")))
      .withColumn("m2", expr(
        "(156979252 * pooled_bp * (10000 - pooled_bp)) div (10000000 * n_min)"))
      .withColumn("r0", floor(sqrt(col("m2"))).cast("long"))
      .withColumn("mde_bp", expr(
        """CASE WHEN (r0 + 1) * (r0 + 1) <= m2 THEN r0 + 1
          |     WHEN r0 * r0 > m2 THEN r0 - 1 ELSE r0 END""".stripMargin))
      .select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        col("pooled_bp"), col("n_min"), col("mde_bp"))

  /** Inter-arrival burstiness profile — per event type, the exact
    * rank-targeted p50/p90/max of the gap (in whole seconds, the twap
    * truncation convention) between consecutive events: the temporal
    * shape signal behind rate-limiter sizing, sessionization gap
    * choice, and synthetic-traffic detection (a scripted feed shows a
    * collapsed p50≈p90). Same rank convention as
    * events_quantiles_exact ((n+1)//2 and (9n+9)//10 over the sorted
    * multiset — deterministic values under ties). One type-keyed
    * window for the lag, one for the gap ranks; ts normalized before
    * any comparison.
    */
  private def qEventsInterArrival(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val gaps = Tables.events(s, dir)
      .select(col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .where(col("prev_us").isNotNull)
      .select(col("event_type"),
        (expr("unix_micros(ts) div 1000000") - expr("prev_us div 1000000"))
          .as("gap_s"))
    // ONE pass: ranks and the per-type gap count ride the same
    // event_type exchange (two Window specs, one shuffle), and the
    // rank-targeted picks fold in a conditional aggregate — the
    // join-back formulation re-scanned events once per percentile
    val r = gaps
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("gap_s").asc)))
      .withColumn("n_gaps",
        count(lit(1)).over(Window.partitionBy(col("event_type"))))
    r.groupBy(col("event_type"))
      .agg(max(col("n_gaps")).as("n_gaps"),
        max(when(col("rn") === expr("(n_gaps + 1) div 2"), col("gap_s")))
          .as("p50_gap_s"),
        max(when(col("rn") === expr("(9 * n_gaps + 9) div 10"), col("gap_s")))
          .as("p90_gap_s"),
        max(col("gap_s")).as("max_gap_s"))
      .orderBy("event_type")
  }

  /** Bot / automated-traffic screen — the data-hygiene filter an
    * event-derived training corpus runs before anything else (a
    * scripted client at machine rate poisons sessionization, funnels,
    * and any engagement label). Per user: event count, distinct
    * active minutes, and the sustained rate events-per-100-active-
    * minutes in exact integers; flagged when the rate clears 300
    * (≥ 3 events/min sustained) on a support of ≥ 20 events — both
    * thresholds integer-exact on both engines. One distinct pass +
    * one user-keyed aggregate; minute bucketing happens in the scan
    * stage, and ts is normalized before any comparison.
    */
  private def qEventsBotDetection(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        date_trunc("minute", col("ts")).as("m"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("m")).as("active_min"))
      .select(col("user_id"), col("n_events"), col("active_min"),
        expr("(100 * n_events) div active_min").as("rate_x100"))
      .withColumn("bot_flag",
        col("rate_x100") >= 300L && col("n_events") >= 20L)
      .orderBy("user_id")

  /** Sample-ratio-mismatch guardrail — the sanity gate every A/B
    * readout runs FIRST (a biased assignment invalidates ab_test and
    * cuped before any effect is read). Under a 50/50 split the
    * one-degree chi-square statistic collapses to the exact integer
    * form (n_a − n_b)² / n: with e = n/2, both squared deviations are
    * (d/2)², so χ² = 2·(d/2)²/(n/2) = d²/n — no floats anywhere.
    * Flag at the standard α = 0.05 critical value 3.8415 (×10⁴ as an
    * integer threshold). One distinct-user aggregate into a 1-row
    * fold; no window, no join, no re-scan.
    */
  private def qEventsSrmCheck(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id")).distinct()
      .agg(
        sum(when(pmod(col("user_id"), lit(2)) === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(pmod(col("user_id"), lit(2)) =!= 0, 1L).otherwise(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        (col("n_a") + col("n_b")).as("n_users"),
        (col("n_a") - col("n_b")).as("diff"),
        expr("((n_a - n_b) * (n_a - n_b) * 10000) div greatest(n_a + n_b, 1)")
          .as("chi2_x10000"))
      .withColumn("srm_flag", col("chi2_x10000") >= 38415L)

  /** A/B experiment readout in exact integers — the experimentation
    * primitive next to the funnel/retention family: users split by the
    * deterministic id parity (the fixture carries no assignment
    * column, and parity IS how a hash-bucketed assignment behaves),
    * conversion = the user ever purchased; per variant the user and
    * converter counts with the conversion rate in basis points, plus
    * the uplift of B over A cross-multiplied to avoid any division
    * asymmetry. One distinct-user aggregate feeds everything; no
    * window, no self-join.
    */
  private def qEventsAbTest(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("converted"))
      .withColumn("variant",
        when(pmod(col("user_id"), lit(2)) === 0, "A").otherwise("B"))
    // pinned: the 2-row variant frame feeds itself plus BOTH 1-row
    // uplift sides — unpinned, each branch re-runs the per-user fold
    // from the raw scan (3 scans of events; PlanSpec pins 0 scans in
    // the final plan, i.e. every branch reads this materialization)
    val per = users.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_conv"))
      .withColumn("conv_bp", expr("(10000 * n_conv) div n_users"))
      .transform(graft.ops.AnnCache.pin)
    // uplift of B over A in bp of A's rate: (convB·nA − convA·nB)
    // scaled — exact integers, both engines truncate identically on
    // the non-negative clamp
    val a = per.where(col("variant") === "A")
      .select(col("n_users").as("na"), col("n_conv").as("ca"))
    val b = per.where(col("variant") === "B")
      .select(col("n_users").as("nb"), col("n_conv").as("cb"))
    per.crossJoin(broadcast(a)).crossJoin(broadcast(b))
      .select(col("variant"), col("n_users"), col("n_conv"), col("conv_bp"),
        expr("CAST(sign(cb * na - ca * nb) AS BIGINT)").as("uplift_sign"),
        expr("(10000 * abs(cb * na - ca * nb)) div greatest(ca * nb, 1)")
          .as("uplift_abs_bp"))
      .orderBy("variant")
  }

  /** Seasonal-naive forecast BACKTEST — the baseline every capacity /
    * anomaly forecast must beat before it ships (predict each day's
    * event count by the count 7 days earlier), scored over the
    * fixture's own history: per event type the days scored, the total
    * absolute error, and WAPE in basis points (Σ|actual − pred| /
    * Σactual — the weighted form that doesn't explode on quiet days).
    * Exact integers end to end; the daily frame is pinned because the
    * backtest joins it to its own 7-day shift (unpinned, the scan +
    * daily aggregate would run twice).
    *
    * Scale shape: one (type, day) aggregate over the raw events, then
    * everything operates on the dimension-sized daily table — the
    * join and the final fold never touch raw data again.
    */
  private def qEventsForecastBaseline(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .transform(graft.ops.AnnCache.pin)
    daily.join(
        daily.select(col("event_type"), date_add(col("day"), 7).as("day"),
          col("n").as("pred")),
        Seq("event_type", "day"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_scored"),
        sum(abs(col("n") - col("pred"))).cast("long").as("sum_abs_err"),
        sum(col("n")).cast("long").as("sum_actual"))
      .withColumn("wape_bp",
        expr("(10000 * sum_abs_err) div greatest(sum_actual, 1L)"))
      .orderBy("event_type")
  }

  /** LAG FEATURE TABLE — the per-entity calendar-lag features every
    * tabular training pipeline materializes from an event log: for
    * each (user, active day), the day's event count, the CALENDAR
    * lag-1 and lag-7 counts (0 when the user was inactive that day —
    * a keyed self-join on day−k, not a positional lag() over observed
    * rows, which would silently skip gaps), and the trailing 7-day
    * total via a RANGE window over integer day numbers (frame by
    * calendar distance, so gaps shrink the window instead of
    * stretching it).
    *
    * Scale shape: one (user, day) aggregate over raw events, then
    * everything is user-keyed — two keyed self-joins carrying only
    * (user, day, n) and one user-partitioned range window. No global
    * window, no collect.
    */
  private def qEventsLagFeatures(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("d", datediff(col("day"), lit("1970-01-01")))
      .transform(graft.ops.AnnCache.pin) // three consumers below + nothing else
    def lagged(k: Int, as: String) = daily.select(col("user_id"),
      (col("d") + k).as("d"), col("n").as(as))
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
      .rangeBetween(-6, 0)
    daily
      .join(lagged(1, "n_lag1"), Seq("user_id", "d"), "left")
      .join(lagged(7, "n_lag7"), Seq("user_id", "d"), "left")
      .withColumn("n_lag1", coalesce(col("n_lag1"), lit(0L)))
      .withColumn("n_lag7", coalesce(col("n_lag7"), lit(0L)))
      .withColumn("n_7d", sum(col("n")).over(w))
      .select(col("user_id"), col("day"), col("n"), col("n_lag1"),
        col("n_lag7"), col("n_7d"))
      .orderBy("user_id", "day")
  }

  /** Time-series densification (gap fill): the hourly rollup left as a
    * sparse table re-emitted on a dense per-type hour grid with zero
    * fills — what anomaly/window passes need so silence reads as 0, not
    * as a missing row. The per-type (min, max) span is a tiny
    * aggregate; the grid explodes map-side from `sequence()`; one keyed
    * left join fills it. */
  private def qEventsHourlyDense(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val span = hourly.groupBy(col("event_type"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
    val grid = span.select(col("event_type"),
      explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("hour"))
    grid.join(hourly, Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("event_type", "hour")
  }

  /** Skew-safe dimension enrichment via [[graft.ops.Skew.saltedJoin]]:
    * the per-user cohort dim joins back to the fact stream with the
    * build side replicated over 8 salts and the probe side scattered
    * by row hash — a hot user's rows land on 8 reducers, not 1. The
    * oracle runs the PLAIN join: hash equality proves the salted form
    * is row-identical, which is the operator's whole contract. */
  private def qEventsSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(
      col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
    val dim = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    graft.ops.Skew.saltedJoin(ev, dim, Seq("user_id"), 8)
      .groupBy(col("cohort_day"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy("cohort_day", "event_type")
  }

  /** Robust dispersion per event type: exact median and MAD (median
    * absolute deviation — the robust spread statistic behind
    * median±k·MAD outlier fences, which one wild value can't drag the
    * way events_anomaly's σ can). Everything is exact integer
    * arithmetic: x doubles to x200 so the even-integer median is
    * integral, and deviations double again (x400) for the same reason
    * — Spark `percentile` and DuckDB `quantile_cont` agree
    * bit-for-bit on integer inputs (the customer_rfm parity basis).
    * Two keyed aggregations plus a broadcast of the 5-row median
    * table; like customer_rfm, the exact percentile buffers each
    * group's values — at open-ended scale the swap is
    * percentile_approx (text_length_quantiles documents that trade).
    */
  private def qEventsValueMad(s: SparkSession, dir: String): DataFrame = {
    val x2 = (round(col("value") * 100) * 2).cast("long")
    val base = Tables.events(s, dir).select(col("event_type"), x2.as("x2"))
    val med = base.groupBy(col("event_type"))
      .agg(percentile(col("x2"), lit(0.5)).cast("long").as("median_x200"))
    base.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"), col("median_x200"),
        (abs(col("x2") - col("median_x200")) * 2).cast("long").as("d4"))
      .groupBy(col("event_type"), col("median_x200"))
      .agg(percentile(col("d4"), lit(0.5)).cast("long").as("mad_x400"),
        count(lit(1)).cast("long").as("n"))
      .orderBy("event_type")
  }

  /** Explicit GROUPING SETS — the asymmetric-subtotal surface cube()
    * can't express without waste: (type, day) detail, per-day totals,
    * and a grand total, but NO per-type-all-days set. One Expand over
    * the input (3 replicas) feeding a single partial-agg shuffle —
    * same plan family as events_cube, with the replica count equal to
    * the set count rather than 2^dims. Labels come from GROUPING()
    * (never NULL indicators), as events_cube establishes. */
  private def qEventsGroupingSets(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_type"),
      to_date(col("ts")).as("day"), col("value"))
    e.groupingSets(
        Seq(Seq(col("event_type"), col("day")), Seq(col("day")), Seq()),
        col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"),
        SparkEntry.decSumScaled(col("value"), "decimal(18,2)", 100, "total_value_x100"),
        grouping(col("event_type")).as("_gt"),
        grouping(col("day")).as("_gd"))
      .select(
        when(col("_gt") === 1, "ALL").otherwise(col("event_type")).as("event_type"),
        when(col("_gd") === 1, lit("1900-01-01").cast("date")).otherwise(col("day")).as("day"),
        col("n"), col("total_value_x100"))
      .orderBy("event_type", "day")
  }

  /** Native `session_window` (the merging-window operator the
    * STREAMING sessionizer uses, run in batch) pinned against the
    * gaps-and-islands construction events_sessionize hand-rolls: same
    * 30-minute gap, session end = last event + gap by the operator's
    * definition. Two independent implementations of session semantics
    * agreeing on every window is the point — like
    * dedup_clusters_star vs dedup_clusters, the oracle arbitrates
    * both. One keyed shuffle + in-partition merge, no window pass. */
  private def qEventsSessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).cast("long").as("n_events"))
      .select(col("user_id"),
        col("w.start").cast("timestamp_ntz").as("session_start"),
        col("w.end").cast("timestamp_ntz").as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")

  /** Incremental rollup ([[graft.ops.Rollup]]): facts reduce into
    * per-(day, type) MERGEABLE partials in two independent refresh
    * slices (split at mid-month — the incremental-refresh shape), and
    * the read-time merge folds the union to per-type totals. The
    * oracle aggregates the facts directly in one pass: hash equality
    * proves the partial state is a lossless monoid under any split.
    * Value is pre-quantized `round(value*100)` (the covar parity
    * rule), so sums are exact integers on both engines. */
  private def qEventsRollupMerge(s: SparkSession, dir: String): DataFrame = {
    val facts = Tables.events(s, dir).select(col("event_type"),
      to_date(col("ts")).as("day"), round(col("value") * 100).cast("long").as("x"))
    val cut = lit("2024-01-15").cast("date")
    def slicePartials(sl: DataFrame) = graft.ops.Rollup.partials(
      sl, col("day"), Seq(col("event_type")), col("x"))
    // the split must be EXHAUSTIVE or the mergeability proof is void:
    // a NULL day matches neither <= nor >, so it rides the first slice
    // explicitly (the oracle's direct GROUP BY would count it)
    val merged = graft.ops.Rollup.merge(
      slicePartials(facts.where(col("day") <= cut || col("day").isNull))
        .unionByName(slicePartials(facts.where(col("day") > cut))),
      Seq(col("event_type")))
    merged.select(col("event_type"), col("n"), col("total").as("total_x100"),
        col("vmin").as("vmin_x100"), col("vmax").as("vmax_x100"))
      .orderBy("event_type")
  }

  /** Z-order key derivation ([[graft.ops.ZOrder]]): the bit-interleave
    * arithmetic gated bit-for-bit against the same arithmetic in
    * DuckDB. The layout/pruning half (range-partition by z, per-file
    * manifest, box skip ratio) is exercised on real written files in
    * ZOrderSpec — file layout isn't observable through a result
    * DataFrame. */
  private def qEventsZorderKey(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .where(col("event_id") < 200)
      .select(col("event_id"), graft.ops.ZOrder.zValue(
        hour(col("ts")), pmod(col("user_id"), lit(256)), 8).as("z"))
      .orderBy("event_id")

  /** Longest consecutive-day activity streak per user — the retention
    * metric cohort tables can't express (gaps-and-islands over DISTINCT
    * active days: island key = epoch-day − row_number, constant within
    * a consecutive run). One user-keyed window shuffle; the two
    * aggregates above it reuse the same partitioning (no extra
    * exchange). Integer day arithmetic, so streak boundaries are
    * engine-exact.
    */
  private def qEventsUserStreaks(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .withColumn("d", datediff(col("day"), lit("1970-01-01")).cast("long"))
    val grp = days.withColumn("g",
      col("d") - row_number().over(Window.partitionBy("user_id").orderBy("d")))
    grp.groupBy("user_id", "g").agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(max(col("len")).as("longest_streak"),
        sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"))
      .orderBy("user_id")
  }

  /** k-anonymity audit (Sweeney 2002) over the events table: treat
    * (event_type, day) as the quasi-identifier and measure
    * re-identification risk — how many quasi-identifier groups have
    * fewer than k = 5 distinct users, and how many users sit in such
    * groups. The governance-side counterpart of text_pii_redact: one
    * keyed aggregate over (type, day), one rollup — no row-level data
    * leaves the aggregate. Emits one row per k-anonymity status so
    * the risky population is a first-class number.
    */
  private def qEventsKanonymity(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("group_size"))
      .withColumn("anonymous", col("group_size") >= 5)
      .groupBy(col("anonymous"))
      .agg(count(lit(1)).as("n_groups"), sum(col("group_size")).as("n_memberships"))
      .orderBy("anonymous")

  /** Exact ROC-AUC of the activity score as a conversion predictor —
    * the model-evaluation primitive the experimentation family lacked
    * (ab_test/cuped/srm read EFFECTS; a ranking model ships on AUC).
    * Score = events per user, label = ever purchased; AUC computed by
    * the rank-sum (Mann-Whitney) identity with the standard mid-rank
    * tie treatment. All arithmetic stays integral by carrying 2×
    * ranks: a tie group spanning ranks [a, b] has 2·avgrank = a + b,
    * so r2 = Σ_pos 2·avgrank is an integer, 2U = r2 − n_pos(n_pos+1),
    * and AUC×10⁴ = 10⁴·2U div (2·n_pos·n_neg) — bit-identical on both
    * engines where a float AUC is not.
    *
    * Scale shape: one per-user aggregate, then everything runs on the
    * SCORE HISTOGRAM (distinct activity counts — bounded by the max
    * events/user, not by users); the prefix count over the histogram
    * is [[graft.ops.Linkage.globalRunningSum]]'s two-pass exchange,
    * never a single-partition window; the fold is 1 row.
    */
  private def qEventsScoreAuc(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("score"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("label"))
    val hist = users.groupBy(col("score"))
      .agg(count(lit(1)).as("cnt"), sum(col("label")).as("pos"))
    graft.ops.Linkage.globalRunningSum(hist, col("cnt"), col("score"))
      .select(col("score"), col("cnt"), col("pos"),
        (col("cum") - col("cnt")).as("cb"))
      .agg(sum(col("pos")).as("n_pos"),
        sum(col("cnt") - col("pos")).as("n_neg"),
        sum(col("pos") * (lit(2L) * col("cb") + col("cnt") + 1L)).as("r2"))
      .select(col("n_pos"), col("n_neg"),
        (col("r2") - col("n_pos") * (col("n_pos") + 1L)).as("u2"))
      .withColumn("auc_x10000",
        expr("(10000 * u2) div greatest(2 * n_pos * n_neg, 1)"))
  }

  /** Heterogeneous treatment effect — the A/B readout SLICED by
    * activity tier (the first question after a significant ab_test:
    * WHO moved?). Users split by the same id-parity assignment as
    * ab_test/cuped; tiers are integer event-count thresholds
    * (< 60 low, < 72 mid, else high — the fixture's activity rate is
    * ~66 events/user at EVERY SF, so these quartile-ish cuts populate
    * all three tiers at every gate scale); per tier the variant counts and
    * the cross-multiplied uplift of B over A in bp of A's rate —
    * exact integers end to end, same arithmetic as ab_test so the
    * slice rows reconcile with the global readout.
    *
    * Scale shape: one per-user aggregate, one 3-row tier aggregate;
    * no window, no join, no re-scan.
    */
  private def qEventsUpliftSegments(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
      .select(
        when(col("n") < 60, "low").when(col("n") < 72, "mid")
          .otherwise("high").as("tier"),
        (col("user_id") % 2 === 0).as("in_a"), col("converted"))
      .groupBy(col("tier"))
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("in_a"), col("converted")).otherwise(0L)).as("conv_a"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("in_a"), col("converted")).otherwise(0L)).as("conv_b"))
      .withColumn("uplift_sign",
        expr("CAST(sign(conv_b * n_a - conv_a * n_b) AS BIGINT)"))
      .withColumn("uplift_abs_bp",
        expr("(10000 * abs(conv_b * n_a - conv_a * n_b)) " +
          "div greatest(conv_a * n_b, 1)"))
      .orderBy("tier")

  /** Time-to-convert profile per signup cohort — the activation-speed
    * readout next to retention: for every CONVERTING user the gap
    * from first event to first purchase in whole seconds, then p50 /
    * p90 / max across the user's signup-day cohort (exact rank-pick
    * percentiles, the inter_arrival trick: value AT a target rank is
    * deterministic under ties even though rank assignment isn't).
    *
    * Scale shape: one user-keyed aggregate builds (first_ts,
    * first_purchase); ranks and cohort counts ride ONE cohort-day
    * exchange (two Window specs, same partitioning) — the global
    * percentile variant would funnel all users through one task,
    * which is why the profile is per-cohort by design.
    */
  private def qEventsConversionLag(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("first_us"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("conv_us"))
      .where(col("conv_us").isNotNull)
      .select(expr("CAST(to_date(timestamp_micros(first_us)) AS STRING)")
          .as("cohort_day"),
        (expr("conv_us div 1000000") - expr("first_us div 1000000"))
          .as("lag_s"))
    val r = per
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cohort_day")).orderBy(col("lag_s").asc)))
      .withColumn("n_conv",
        count(lit(1)).over(Window.partitionBy(col("cohort_day"))))
    r.groupBy(col("cohort_day"))
      .agg(max(col("n_conv")).as("n_conv"),
        max(when(col("rn") === expr("(n_conv + 1) div 2"), col("lag_s")))
          .as("p50_lag_s"),
        max(when(col("rn") === expr("(9 * n_conv + 9) div 10"), col("lag_s")))
          .as("p90_lag_s"),
        max(col("lag_s")).as("max_lag_s"))
      .orderBy("cohort_day")
  }

  /** Daily growth accounting (the new / returning / resurrected /
    * churned decomposition every growth team reads): per active day,
    * n_new = first-ever-day users, n_returning = also active the
    * previous day, n_resurrected = back after a gap, n_churned =
    * active the previous day but not today. The four numbers
    * reconcile by construction (new + returning + resurrected =
    * active), which makes the output self-auditing.
    *
    * Scale shape: everything runs on the DISTINCT (user, day) frame —
    * one distinct shuffle over raw events, then a per-user min for
    * first days and two (user, day)-keyed equi-joins (previous-day
    * presence, next-day absence). No window over users, no re-scan.
    * Churn into a day with zero actives (the day after the fixture
    * ends) is definitionally out of the output's day domain.
    */
  private def qEventsGrowthAccounting(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .transform(graft.ops.AnnCache.pin) // four consumers below ride one distinct
    val firstD = ud.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    val prevShift = ud.select(col("user_id"), date_add(col("day"), 1).as("day"))
    val labeled = ud.join(firstD, "user_id")
      .join(prevShift.withColumn("had_prev", lit(1L)).distinct(),
        Seq("user_id", "day"), "left")
      .select(col("day"),
        when(col("day") === col("first_day"), "new")
          .when(col("had_prev").isNotNull, "returning")
          .otherwise("resurrected").as("kind"))
    val perDay = labeled.groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("kind") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("kind") === "returning", 1L).otherwise(0L))
          .as("n_returning"),
        sum(when(col("kind") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"))
    val churned = prevShift.join(ud, Seq("user_id", "day"), "left_anti")
      .groupBy(col("day")).agg(count(lit(1)).as("n_churned"))
    perDay.join(churned, Seq("day"), "left")
      .select(col("day").cast("string").as("day"), col("n_active"),
        col("n_new"), col("n_returning"), col("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy("day")
  }

  /** l-diversity audit (Machanavajjhala et al., TKDD'07) — the
    * privacy gate one step past k-anonymity: a quasi-identifier group
    * can be large (k-anonymous) yet expose everyone in it if the
    * SENSITIVE attribute is uniform inside the group. Same QI as
    * events_kanonymity ((event-day, hour-of-day) here — a bucketed
    * observation context), sensitive attribute = event_type; a group
    * is l-diverse at l = 3 when it carries ≥ 3 distinct types. Emits
    * groups and member counts by diversity status so the exposed
    * population is a first-class number next to the k-anonymity row.
    * One (QI)-keyed aggregate + one 2-row rollup.
    */
  private def qEventsLdiversity(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(to_date(col("ts")).as("day"), hour(col("ts")).as("hr"),
        col("event_type"), col("user_id"))
      .groupBy(col("day"), col("hr"))
      .agg(countDistinct(col("event_type")).as("n_types"),
        countDistinct(col("user_id")).as("n_users"))
      .withColumn("diverse", col("n_types") >= 3)
      .groupBy(col("diverse"))
      .agg(count(lit(1)).as("n_groups"), sum(col("n_users")).as("n_memberships"))
      .orderBy("diverse")

  /** Source freshness / staleness audit — the ops gate every
    * ingestion dashboard leads with: per event type the last event
    * seen and its lag in whole minutes behind the corpus frontier,
    * flagged stale past 60. A silently-dead instrumentation source is
    * invisible to every volume metric (its absence is the signal);
    * this readout makes it a row. Two tiny aggregates, frontier joins
    * back as a 1-row broadcast; minute truncation on both engines
    * before the subtraction so the lag is engine-exact.
    */
  private def qEventsFreshness(s: SparkSession, dir: String): DataFrame = {
    // pinned: the frontier fold and the readout both consume this
    // |types|-row frame — unpinned, the frontier branch re-runs the
    // events scan (the PlanSpec pin caught exactly that)
    val last = Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        max(unix_micros(col("ts"))).as("last_us"))
      .transform(graft.ops.AnnCache.pin)
    val frontier = last.agg(max(col("last_us")).as("corpus_us"))
    last.crossJoin(broadcast(frontier))
      .select(col("event_type"), col("n_events"),
        expr("timestamp_micros(last_us)").cast("timestamp_ntz").as("last_ts"),
        expr("corpus_us div 60000000 - last_us div 60000000").as("lag_min"))
      .withColumn("stale", col("lag_min") >= 60L)
      .orderBy("event_type")
  }

  protected def eventsExtQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_freshness" -> (qEventsFreshness _),
    "events_ldiversity" -> (qEventsLdiversity _),
    "events_growth_accounting" -> (qEventsGrowthAccounting _),
    "events_uplift_segments" -> (qEventsUpliftSegments _),
    "events_conversion_lag" -> (qEventsConversionLag _),
    "events_score_auc" -> (qEventsScoreAuc _),
    "events_ab_test" -> (qEventsAbTest _),
    "events_srm_check" -> (qEventsSrmCheck _),
    "events_bot_detection" -> (qEventsBotDetection _),
    "events_power_analysis" -> (qEventsPowerAnalysis _),
    "events_inter_arrival" -> (qEventsInterArrival _),
    "events_approx_quantiles" -> (qEventsApproxQuantiles _),
    "events_asof_join" -> (qEventsAsofJoin _),
    "events_attribution" -> (qEventsAttribution _),
    "events_attribution_first" -> (qEventsAttributionFirst _),
    "events_autocorr" -> (qEventsAutocorr _),
    "events_concurrency" -> (qEventsConcurrency _),
    "events_cuped" -> (qEventsCuped _),
    "events_cusum" -> (qEventsCusum _),
    "events_decay_score" -> (qEventsDecayScore _),
    "events_distinct_users" -> (qEventsDistinctUsers _),
    "events_drift_halves" -> (qEventsDriftHalves _),
    "events_drift_ks" -> (qEventsDriftKs _),
    "events_equidepth" -> (qEventsEquidepth _),
    "events_error_label" -> (qEventsErrorLabel _),
    "events_forecast_baseline" -> (qEventsForecastBaseline _),
    "events_funnel" -> (qEventsFunnel _),
    "events_funnel_by_variant" -> (qEventsFunnelByVariant _),
    "events_funnel_windowed" -> (qEventsFunnelWindowed _),
    "events_grouping_sets" -> (qEventsGroupingSets _),
    "events_hourly_dense" -> (qEventsHourlyDense _),
    "events_kanonymity" -> (qEventsKanonymity _),
    "events_lag_features" -> (qEventsLagFeatures _),
    "events_quantiles_exact" -> (qEventsQuantilesExact _),
    "events_range_join" -> (qEventsRangeJoin _),
    "events_retention" -> (qEventsRetention _),
    "events_rollup_merge" -> (qEventsRollupMerge _),
    "events_salted_join" -> (qEventsSaltedJoin _),
    "events_session_window" -> (qEventsSessionWindow _),
    "events_sliding_window" -> (qEventsSlidingWindow _),
    "events_transitions" -> (qEventsTransitions _),
    "events_type_trigrams" -> (qEventsTypeTrigrams _),
    "events_twap" -> (qEventsTwap _),
    "events_user_streaks" -> (qEventsUserStreaks _),
    "events_user_topk" -> (qEventsUserTopk _),
    "events_value_mad" -> (qEventsValueMad _),
    "events_winsorize" -> (qEventsWinsorize _),
    "events_winsorize_approx" -> (qEventsWinsorizeApprox _),
    "events_zorder_key" -> (qEventsZorderKey _),
  )

  protected def eventsExtOracles: Map[String, String] = Map(
    // exact isqrt both sides: floor(sqrt(double)) then the ±1
    // adjustment against the integer square, so sqrt rounding can't split
    "events_power_analysis" ->
      """WITH u AS (SELECT user_id,
        |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS converted,
        |    user_id % 2 = 0 AS a
        |  FROM events GROUP BY user_id),
        |f AS (SELECT
        |    CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN a THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
        |    CAST(SUM(CASE WHEN NOT a THEN converted ELSE 0 END) AS BIGINT) AS conv_b
        |  FROM u),
        |d AS (SELECT *,
        |    (10000 * (conv_a + conv_b)) // (n_a + n_b) AS pooled_bp,
        |    least(n_a, n_b) AS n_min FROM f),
        |m AS (SELECT *,
        |    (156979252 * pooled_bp * (10000 - pooled_bp)) // (10000000 * n_min)
        |      AS m2 FROM d),
        |r AS (SELECT *, CAST(floor(sqrt(CAST(m2 AS DOUBLE))) AS BIGINT) AS r0
        |      FROM m)
        |SELECT n_a, n_b, conv_a, conv_b, pooled_bp, n_min,
        |       CASE WHEN (r0 + 1) * (r0 + 1) <= m2 THEN r0 + 1
        |            WHEN r0 * r0 > m2 THEN r0 - 1 ELSE r0 END AS mde_bp
        |FROM r""".stripMargin,

    // twap's whole-second truncation for the gap; quantile ranks use
    // the events_quantiles_exact convention ((n+1)//2, (9n+9)//10)
    "events_inter_arrival" ->
      """WITH e AS (SELECT event_type, event_id,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |g AS (SELECT event_type,
        |        us // 1000000 - lag(us) OVER (PARTITION BY event_type
        |          ORDER BY us, event_id) // 1000000 AS gap_s
        |      FROM e),
        |gg AS (SELECT event_type, gap_s FROM g WHERE gap_s IS NOT NULL),
        |n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |        CAST(MAX(gap_s) AS BIGINT) AS max_gap_s FROM gg GROUP BY 1),
        |r AS (SELECT event_type, gap_s, row_number() OVER
        |        (PARTITION BY event_type ORDER BY gap_s) AS rn FROM gg),
        |p50 AS (SELECT r.event_type, CAST(r.gap_s AS BIGINT) AS p50_gap_s
        |        FROM r JOIN n USING (event_type)
        |        WHERE rn = (n_gaps + 1) // 2),
        |p90 AS (SELECT r.event_type, CAST(r.gap_s AS BIGINT) AS p90_gap_s
        |        FROM r JOIN n USING (event_type)
        |        WHERE rn = (9 * n_gaps + 9) // 10)
        |SELECT n.event_type, n.n_gaps, p50.p50_gap_s, p90.p90_gap_s,
        |       n.max_gap_s
        |FROM n JOIN p50 USING (event_type) JOIN p90 USING (event_type)
        |ORDER BY event_type""".stripMargin,

    "events_bot_detection" ->
      """WITH e AS (SELECT user_id, event_id,
        |             date_trunc('minute', CAST(ts AS TIMESTAMP)) AS m
        |           FROM events),
        |u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |        CAST(COUNT(DISTINCT m) AS BIGINT) AS active_min
        |      FROM e GROUP BY 1)
        |SELECT user_id, n_events, active_min,
        |       (100 * n_events) // active_min AS rate_x100,
        |       (100 * n_events) // active_min >= 300
        |         AND n_events >= 20 AS bot_flag
        |FROM u ORDER BY user_id""".stripMargin,

    "events_srm_check" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |c AS (SELECT
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM u)
        |SELECT n_a, n_b, n_a + n_b AS n_users, n_a - n_b AS diff,
        |       ((n_a - n_b) * (n_a - n_b) * 10000) // greatest(n_a + n_b, 1)
        |         AS chi2_x10000,
        |       ((n_a - n_b) * (n_a - n_b) * 10000) // greatest(n_a + n_b, 1)
        |         >= 38415 AS srm_flag
        |FROM c""".stripMargin,

    "events_ab_test" ->
      """WITH u AS (SELECT user_id,
        |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS converted,
        |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant
        |  FROM events GROUP BY user_id),
        |per AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
        |          CAST(SUM(converted) AS BIGINT) AS n_conv
        |        FROM u GROUP BY 1),
        |a AS (SELECT n_users AS na, n_conv AS ca FROM per WHERE variant = 'A'),
        |b AS (SELECT n_users AS nb, n_conv AS cb FROM per WHERE variant = 'B')
        |SELECT variant, n_users, n_conv,
        |       (10000 * n_conv) // n_users AS conv_bp,
        |       CAST(sign(cb * na - ca * nb) AS BIGINT) AS uplift_sign,
        |       (10000 * abs(cb * na - ca * nb)) // greatest(ca * nb, 1)
        |         AS uplift_abs_bp
        |FROM per, a, b ORDER BY variant""".stripMargin,

    "events_approx_quantiles" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       (9 * CAST(COUNT(*) AS BIGINT) + 9) // 10 AS target_rank,
        |       CAST(1 AS BIGINT) AS ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_asof_join" ->
      """WITH clicks AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'click'),
        |signups AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    max(event_id) AS signup_event_id
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
        |SELECT c.user_id, c.event_id, c.ts, s.ts AS asof_ts, s.signup_event_id
        |FROM clicks c ASOF JOIN signups s
        |  ON c.user_id = s.user_id AND c.ts >= s.ts
        |ORDER BY c.user_id, c.event_id""".stripMargin,

    "events_attribution" ->
      """WITH t AS (SELECT *,
        |             last_value(CASE WHEN event_type IN ('click','view','signup')
        |                        THEN event_type END IGNORE NULLS)
        |               OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |               AS touch
        |           FROM events)
        |SELECT COALESCE(touch, 'direct') AS touch_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |       CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |         AS BIGINT) AS revenue_x100
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_attribution_first" ->
      """WITH t AS (SELECT *,
        |             first_value(CASE WHEN event_type IN ('click','view','signup')
        |                        THEN event_type END IGNORE NULLS)
        |               OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |               AS touch
        |           FROM events)
        |SELECT COALESCE(touch, 'direct') AS touch_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |       CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |         AS BIGINT) AS revenue_x100
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_autocorr" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |                      CAST(COUNT(*) AS BIGINT) AS x
        |               FROM events GROUP BY 1),
        |lagged AS (SELECT k, day + CAST(k AS INTEGER) AS day_k, x AS x_t
        |           FROM daily, (SELECT unnest(range(1, 8)) AS k) ks),
        |pairs AS (SELECT l.k, l.x_t, d.x AS x_k
        |          FROM lagged l JOIN daily d ON d.day = l.day_k),
        |a AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |             CAST(SUM(x_t) AS BIGINT) AS sx,
        |             CAST(SUM(x_k) AS BIGINT) AS sy,
        |             CAST(SUM(x_t * x_t) AS BIGINT) AS sxx,
        |             CAST(SUM(x_k * x_k) AS BIGINT) AS syy,
        |             CAST(SUM(x_t * x_k) AS BIGINT) AS sxy
        |      FROM pairs GROUP BY 1),
        |d AS (SELECT CAST(k AS BIGINT) AS k, n_pairs,
        |             n_pairs * sxy - sx * sy AS num,
        |             n_pairs * sxx - sx * sx AS den_x,
        |             n_pairs * syy - sy * sy AS den_y
        |      FROM a)
        |SELECT k, n_pairs, num, den_x, den_y,
        |       CAST(CAST(sign(num) AS HUGEINT)
        |         * ((10000 * CAST(num AS HUGEINT) * num)
        |            // greatest(CAST(den_x AS HUGEINT) * den_y, 1))
        |         AS BIGINT) AS r2_bp
        |FROM d ORDER BY k""".stripMargin,

    "events_concurrency" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |b AS (SELECT *, CASE WHEN us - lag(us) OVER
        |       (PARTITION BY user_id ORDER BY ts, event_id)
        |       > 1800000000 THEN 1 ELSE 0 END AS brk FROM e),
        |s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id
        |       ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM b),
        |sess AS (SELECT user_id, sid, MIN(ts) AS t0, MAX(ts) AS t1
        |         FROM s GROUP BY 1, 2),
        |segs AS (SELECT CAST(d.day AS DATE) AS day,
        |           greatest(t0, CAST(CAST(d.day AS DATE) AS TIMESTAMP)) AS seg_start,
        |           least(t1, CAST(CAST(d.day AS DATE) + INTERVAL 1 DAY
        |                          AS TIMESTAMP)) AS seg_end
        |         FROM sess, LATERAL (SELECT unnest(generate_series(
        |           CAST(t0 AS DATE), CAST(t1 AS DATE), INTERVAL 1 DAY)) AS day) d),
        |bd AS (SELECT day, seg_start AS t, CAST(1 AS BIGINT) AS delta FROM segs
        |       UNION ALL SELECT day, seg_end, -1 FROM segs),
        |r AS (SELECT day, SUM(delta) OVER (PARTITION BY day
        |       ORDER BY t ASC, delta DESC ROWS UNBOUNDED PRECEDING) AS run FROM bd)
        |SELECT day, CAST(MAX(run) AS BIGINT) AS max_concurrent,
        |       CAST(COUNT(*) // 2 AS BIGINT) AS n_active_sessions
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_cuped" ->
      """WITH ev AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |            event_type FROM events),
        |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
        |per AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN ev.day <= b.d0 + CAST((b.d1 - b.d0) // 2 AS INTEGER)
        |             THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN ev.day > b.d0 + CAST((b.d1 - b.d0) // 2 AS INTEGER)
        |             AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
        |  FROM ev CROSS JOIN b GROUP BY user_id),
        |mo AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |         CAST(SUM(x * x) AS BIGINT) AS sxx,
        |         CAST(SUM(x * y) AS BIGINT) AS sxy FROM per),
        |va AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a,
        |         CAST(SUM(x) AS BIGINT) AS sum_x_a,
        |         CAST(SUM(y) AS BIGINT) AS sum_y_a
        |       FROM per WHERE user_id % 2 = 0),
        |vb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b,
        |         CAST(SUM(x) AS BIGINT) AS sum_x_b,
        |         CAST(SUM(y) AS BIGINT) AS sum_y_b
        |       FROM per WHERE user_id % 2 <> 0),
        |t AS (SELECT *, n * sxy - sx * sy AS num, n * sxx - sx * sx AS den
        |      FROM va CROSS JOIN vb CROSS JOIN mo),
        |u AS (SELECT *,
        |        CAST(sign(num) * ((10000 * abs(num)) // greatest(den, 1))
        |          AS BIGINT) AS theta_bp,
        |        (10000 * sum_y_b) // greatest(n_b, 1)
        |          - (10000 * sum_y_a) // greatest(n_a, 1) AS diff_y_bp,
        |        (10000 * sum_x_b) // greatest(n_b, 1)
        |          - (10000 * sum_x_a) // greatest(n_a, 1) AS diff_x_bp
        |      FROM t)
        |SELECT n_a, n_b, sum_x_a, sum_x_b, sum_y_a, sum_y_b, theta_bp,
        |       diff_y_bp, diff_x_bp,
        |       diff_y_bp - CAST(sign(theta_bp * diff_x_bp)
        |         * ((abs(theta_bp) * abs(diff_x_bp)) // 10000) AS BIGINT)
        |         AS adj_uplift_bp
        |FROM u""".stripMargin,

    "events_cusum" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |                      CAST(COUNT(*) AS BIGINT) AS n
        |               FROM events GROUP BY 1),
        |sc AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
        |              CAST(COUNT(*) AS BIGINT) AS d FROM daily),
        |dev AS (SELECT day, n, n * d - total AS dev, total
        |        FROM daily CROSS JOIN sc),
        |runs AS (SELECT *,
        |           CAST(SUM(dev) OVER (ORDER BY day
        |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_run
        |         FROM dev),
        |ex AS (SELECT *,
        |         CAST(MIN(s_run) OVER (ORDER BY day
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_min,
        |         CAST(MAX(s_run) OVER (ORDER BY day
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_max
        |       FROM runs)
        |SELECT day, n, dev,
        |       s_run - least(CAST(0 AS BIGINT), run_min) AS cusum_pos,
        |       greatest(CAST(0 AS BIGINT), run_max) - s_run AS cusum_neg,
        |       (s_run - least(CAST(0 AS BIGINT), run_min)) > 2 * total AS alarm_hi,
        |       (greatest(CAST(0 AS BIGINT), run_max) - s_run) > 2 * total AS alarm_lo
        |FROM ex ORDER BY day""".stripMargin,

    "events_decay_score" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |                   greatest(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT),
        |                            CAST(0 AS BIGINT)) AS v_x100
        |            FROM events WHERE value IS NOT NULL),
        |l AS (SELECT MAX(day) AS d1 FROM ev),
        |c AS (SELECT user_id, v_x100,
        |             v_x100 // (CAST(1 AS BIGINT) <<
        |               least(CAST(d1 - day AS BIGINT), 40)) AS contrib
        |      FROM ev CROSS JOIN l)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(SUM(v_x100) AS BIGINT) AS raw_x100,
        |       CAST(SUM(contrib) AS BIGINT) AS decayed_x100
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_distinct_users" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_drift_halves" ->
      """WITH ev AS (SELECT CAST(ts AS DATE) AS day, CAST(value AS DECIMAL(18,2)) AS v
        |            FROM events WHERE value IS NOT NULL),
        |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
        |h AS (SELECT CASE WHEN ev.day <= b.d0 + CAST((b.d1 - b.d0) // 2 AS INTEGER)
        |             THEN 1 ELSE 0 END AS in_a,
        |             least(15, greatest(CAST(v * 100 AS BIGINT), 0) // 2000) AS bin
        |      FROM ev CROSS JOIN b),
        |g AS (SELECT bin, CAST(SUM(in_a) AS BIGINT) AS n_a,
        |             CAST(SUM(1 - in_a) AS BIGINT) AS n_b FROM h GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_a) AS BIGINT) AS tot_a,
        |             CAST(SUM(n_b) AS BIGINT) AS tot_b FROM g)
        |SELECT bin, n_a, n_b,
        |       (10000 * n_a) // greatest(tot_a, 1) AS share_a_bp,
        |       (10000 * n_b) // greatest(tot_b, 1) AS share_b_bp,
        |       (10000 * n_a) // greatest(tot_a, 1)
        |         - (10000 * n_b) // greatest(tot_b, 1) AS drift_bp
        |FROM g CROSS JOIN t ORDER BY bin""".stripMargin,

    "events_drift_ks" ->
      """WITH ev AS (SELECT CAST(ts AS DATE) AS day,
        |                   CAST(value AS DECIMAL(18,2)) AS v
        |            FROM events WHERE value IS NOT NULL),
        |b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
        |g AS (SELECT least(15, greatest(CAST(v * 100 AS BIGINT), 0) // 2000)
        |               AS bin,
        |             CAST(SUM(CASE WHEN day <= d0 + CAST((d1 - d0) // 2 AS INTEGER)
        |                      THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |             CAST(SUM(CASE WHEN day <= d0 + CAST((d1 - d0) // 2 AS INTEGER)
        |                      THEN 0 ELSE 1 END) AS BIGINT) AS n_b
        |      FROM ev CROSS JOIN b GROUP BY 1),
        |cu AS (SELECT *,
        |         CAST(SUM(n_a) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
        |           AS BIGINT) AS cum_a,
        |         CAST(SUM(n_b) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
        |           AS BIGINT) AS cum_b,
        |         CAST(SUM(n_a) OVER () AS BIGINT) AS tot_a,
        |         CAST(SUM(n_b) OVER () AS BIGINT) AS tot_b
        |       FROM g),
        |sh AS (SELECT bin, n_a, n_b,
        |              (10000 * cum_a) // greatest(tot_a, 1) AS cum_share_a_bp,
        |              (10000 * cum_b) // greatest(tot_b, 1) AS cum_share_b_bp
        |       FROM cu)
        |SELECT bin, n_a, n_b, cum_share_a_bp, cum_share_b_bp,
        |       cum_share_a_bp - cum_share_b_bp AS gap_bp,
        |       CAST(MAX(abs(cum_share_a_bp - cum_share_b_bp)) OVER ()
        |         AS BIGINT) AS ks_bp
        |FROM sh ORDER BY bin""".stripMargin,

    "events_equidepth" ->
      """WITH v AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |             AS v, event_id
        |           FROM events WHERE value IS NOT NULL),
        |nt AS (SELECT v, ntile(16) OVER (ORDER BY v, event_id) AS bucket FROM v)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |       CAST(COUNT(*) AS BIGINT) AS n_values,
        |       MIN(v) AS lo_x100, MAX(v) AS hi_x100
        |FROM nt GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_error_label" ->
      """WITH w AS (SELECT event_id, user_id,
        |    CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    min(CASE WHEN event_type = 'error'
        |             THEN CAST(ts AS TIMESTAMP) END) OVER (
        |      PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_err_ts
        |  FROM events)
        |SELECT event_id, user_id, ts, next_err_ts,
        |       CAST(next_err_ts IS NOT NULL AND
        |            next_err_ts <= ts + INTERVAL 7 DAY AS BIGINT) AS label
        |FROM w WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    "events_forecast_baseline" ->
      """WITH d AS MATERIALIZED (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_scored,
        |       CAST(SUM(abs(a.n - b.n)) AS BIGINT) AS sum_abs_err,
        |       CAST(SUM(a.n) AS BIGINT) AS sum_actual,
        |       (10000 * CAST(SUM(abs(a.n - b.n)) AS BIGINT))
        |         // greatest(CAST(SUM(a.n) AS BIGINT), 1) AS wape_bp
        |FROM d a JOIN d b
        |  ON a.event_type = b.event_type AND a.day = b.day + 7
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |s1 AS (SELECT user_id,
        |    MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
        |  FROM ev GROUP BY 1),
        |s2 AS (SELECT e.user_id, s1.t_signup,
        |    MIN(CASE WHEN e.event_type = 'click' AND e.ts >= s1.t_signup
        |        THEN e.ts END) AS t_click
        |  FROM ev e JOIN s1 ON e.user_id = s1.user_id GROUP BY 1, 2),
        |s3 AS (SELECT e.user_id, s2.t_signup, s2.t_click,
        |    MIN(CASE WHEN e.event_type = 'purchase' AND e.ts >= s2.t_click
        |        THEN e.ts END) AS t_purchase
        |  FROM ev e JOIN s2 ON e.user_id = s2.user_id GROUP BY 1, 2, 3),
        |agg AS (SELECT
        |    COUNT(CASE WHEN t_signup IS NOT NULL THEN 1 END) AS n_signup,
        |    COUNT(CASE WHEN t_click IS NOT NULL THEN 1 END) AS n_click_after,
        |    COUNT(CASE WHEN t_purchase IS NOT NULL THEN 1 END) AS n_purchase_after
        |  FROM s3)
        |SELECT stage, n_users FROM (
        |  SELECT 'signup' AS stage, n_signup AS n_users FROM agg
        |  UNION ALL SELECT 'click_after', n_click_after FROM agg
        |  UNION ALL SELECT 'purchase_after', n_purchase_after FROM agg)
        |ORDER BY stage""".stripMargin,

    "events_funnel_by_variant" ->
      """WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |s1 AS (SELECT user_id,
        |    MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
        |  FROM ev GROUP BY 1),
        |s2 AS (SELECT e.user_id, s1.t_signup,
        |    MIN(CASE WHEN e.event_type = 'click' AND e.ts >= s1.t_signup
        |        THEN e.ts END) AS t_click
        |  FROM ev e JOIN s1 ON e.user_id = s1.user_id GROUP BY 1, 2),
        |s3 AS (SELECT e.user_id, s2.t_signup, s2.t_click,
        |    MIN(CASE WHEN e.event_type = 'purchase' AND e.ts >= s2.t_click
        |        THEN e.ts END) AS t_purchase
        |  FROM ev e JOIN s2 ON e.user_id = s2.user_id GROUP BY 1, 2, 3),
        |agg AS (SELECT
        |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
        |    CAST(COUNT(CASE WHEN t_signup IS NOT NULL THEN 1 END) AS BIGINT)
        |      AS n_signup,
        |    CAST(COUNT(CASE WHEN t_click IS NOT NULL THEN 1 END) AS BIGINT)
        |      AS n_click_after,
        |    CAST(COUNT(CASE WHEN t_purchase IS NOT NULL THEN 1 END) AS BIGINT)
        |      AS n_purchase_after
        |  FROM s3 GROUP BY 1)
        |SELECT variant, stage, n_users, step_conv_bp FROM (
        |  SELECT variant, 'signup' AS stage, n_signup AS n_users,
        |         CAST(10000 AS BIGINT) AS step_conv_bp FROM agg
        |  UNION ALL SELECT variant, 'click_after', n_click_after,
        |         (10000 * n_click_after) // greatest(n_signup, 1) FROM agg
        |  UNION ALL SELECT variant, 'purchase_after', n_purchase_after,
        |         (10000 * n_purchase_after) // greatest(n_click_after, 1)
        |    FROM agg)
        |ORDER BY variant, stage""".stripMargin,

    "events_funnel_windowed" ->
      """WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |s1 AS (SELECT user_id,
        |    MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
        |  FROM ev GROUP BY 1),
        |s2 AS (SELECT e.user_id, s1.t_signup,
        |    MIN(CASE WHEN e.event_type = 'click' AND e.ts >= s1.t_signup
        |        AND e.ts <= s1.t_signup + INTERVAL 3 DAY
        |        THEN e.ts END) AS t_click
        |  FROM ev e JOIN s1 ON e.user_id = s1.user_id GROUP BY 1, 2),
        |s3 AS (SELECT e.user_id, s2.t_signup, s2.t_click,
        |    MIN(CASE WHEN e.event_type = 'purchase' AND e.ts >= s2.t_click
        |        AND e.ts <= s2.t_click + INTERVAL 3 DAY
        |        THEN e.ts END) AS t_purchase
        |  FROM ev e JOIN s2 ON e.user_id = s2.user_id GROUP BY 1, 2, 3),
        |agg AS (SELECT
        |    COUNT(CASE WHEN t_signup IS NOT NULL THEN 1 END) AS n_signup,
        |    COUNT(CASE WHEN t_click IS NOT NULL THEN 1 END) AS n_click_3d,
        |    COUNT(CASE WHEN t_purchase IS NOT NULL THEN 1 END) AS n_purchase_3d
        |  FROM s3)
        |SELECT stage, n_users FROM (
        |  SELECT 'signup' AS stage, n_signup AS n_users FROM agg
        |  UNION ALL SELECT 'click_3d', n_click_3d FROM agg
        |  UNION ALL SELECT 'purchase_3d', n_purchase_3d FROM agg)
        |ORDER BY stage""".stripMargin,

    // GROUPING() labels (not NULL indicators), as events_cube; the
    // per-day and grand-total sets get sentinel labels on both sides
    "events_grouping_sets" ->
      """SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END AS event_type,
        |       CASE WHEN GROUPING(day) = 1 THEN DATE '1900-01-01' ELSE day END AS day,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_value_x100
        |FROM (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, value
        |      FROM events)
        |GROUP BY GROUPING SETS ((event_type, day), (day), ())
        |ORDER BY 1, 2""".stripMargin,

    "events_hourly_dense" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
        |         COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
        |         FROM hourly GROUP BY 1),
        |grid AS (SELECT event_type,
        |           unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        |         FROM span)
        |SELECT g.event_type, g.hour, COALESCE(h.n, 0) AS n
        |FROM grid g LEFT JOIN hourly h
        |  ON g.event_type = h.event_type AND g.hour = h.hour
        |ORDER BY 1, 2""".stripMargin,

    "events_kanonymity" ->
      """WITH d AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id FROM events),
        |g AS (SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS group_size
        |      FROM d GROUP BY 1, 2)
        |SELECT (group_size >= 5) AS anonymous, CAST(COUNT(*) AS BIGINT) AS n_groups,
        |       CAST(SUM(group_size) AS BIGINT) AS n_memberships
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_lag_features" ->
      """WITH d AS MATERIALIZED (SELECT user_id,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |dd AS MATERIALIZED (SELECT user_id, day, n,
        |    datediff('day', DATE '1970-01-01', day) AS dnum FROM d)
        |SELECT a.user_id, a.day, a.n,
        |       COALESCE(l1.n, 0) AS n_lag1,
        |       COALESCE(l7.n, 0) AS n_lag7,
        |       CAST(SUM(a.n) OVER (PARTITION BY a.user_id ORDER BY a.dnum
        |         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d
        |FROM dd a
        |LEFT JOIN dd l1 ON l1.user_id = a.user_id AND l1.dnum = a.dnum - 1
        |LEFT JOIN dd l7 ON l7.user_id = a.user_id AND l7.dnum = a.dnum - 7
        |ORDER BY a.user_id, a.day""".stripMargin,

    "events_quantiles_exact" ->
      """WITH ev AS (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v
        |            FROM events WHERE value IS NOT NULL),
        |n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ev GROUP BY 1),
        |r AS (SELECT event_type, v,
        |        row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn FROM ev)
        |SELECT r.event_type, n.n, CAST(r.v * 100 AS BIGINT) AS p90_x100,
        |       rn AS target_rank
        |FROM r JOIN n USING (event_type)
        |WHERE rn = (9 * n.n + 9) // 10 ORDER BY 1""".stripMargin,

    "events_range_join" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE event_type = 'click'),
        |b AS (SELECT *, CASE WHEN us - lag(us) OVER
        |     (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |     > 1800000000 THEN 1 ELSE 0 END AS brk FROM e),
        |s AS (SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id
        |     ORDER BY ts ASC, event_id ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM b),
        |sess AS (SELECT user_id, session_id, MIN(ts) AS session_start,
        |    MAX(ts) + INTERVAL 30 MINUTE AS session_end
        |  FROM s GROUP BY 1, 2),
        |p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id, sess.session_id, p.event_id, p.ts,
        |       sess.session_start, sess.session_end
        |FROM p JOIN sess ON p.user_id = sess.user_id
        | AND p.ts BETWEEN sess.session_start AND sess.session_end
        |ORDER BY p.user_id, sess.session_id, p.event_id""".stripMargin,

    "events_retention" ->
      """WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |cohort AS (SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        |  FROM ev WHERE event_type = 'signup' GROUP BY 1),
        |active AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM ev)
        |SELECT c.cohort_week, CAST(floor(date_diff('day', c.cohort_week, a.week) / 7) AS BIGINT) AS week_offset,
        |       COUNT(DISTINCT a.user_id) AS n_users
        |FROM active a JOIN cohort c ON a.user_id = c.user_id
        |WHERE a.week >= c.cohort_week
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the engine merges two-slice partials; the oracle aggregates the
    // facts directly — equality pins partial-state mergeability
    "events_rollup_merge" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS total_x100,
        |       CAST(MIN(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS vmin_x100,
        |       CAST(MAX(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS vmax_x100
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // the PLAIN join — equality pins the salted join's row-identity
    "events_salted_join" ->
      """WITH ev AS (SELECT user_id, event_type,
        |              CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
        |dim AS (SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY 1)
        |SELECT cohort_day, event_type, CAST(COUNT(*) AS BIGINT) AS n
        |FROM ev JOIN dim USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // gaps-and-islands reconstruction of session_window's semantics:
    // break on gap > 30 min, end = last event + gap
    "events_session_window" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |x AS (SELECT user_id, ts,
        |        CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                  <= INTERVAL 30 MINUTE
        |             THEN 0 ELSE 1 END AS brk FROM e),
        |g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM x)
        |SELECT user_id, MIN(ts) AS session_start,
        |       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |       CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "events_sliding_window" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
        |w AS (SELECT event_type, value,
        |    make_timestamp((epoch_us(ts) // 1800000000) * 1800000000
        |                   - k * 1800000000) AS w_start
        |  FROM e, LATERAL (SELECT unnest([0, 1]) AS k) s)
        |SELECT w_start, w_start + INTERVAL 1 HOUR AS w_end, event_type,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_value_x100
        |FROM w GROUP BY 1, 2, 3 ORDER BY w_start, event_type""".stripMargin,

    "events_transitions" ->
      """WITH o AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS from_type
        |  FROM events)
        |SELECT from_type, event_type AS to_type, COUNT(*) AS n
        |FROM o WHERE from_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "events_type_trigrams" ->
      """WITH o AS (SELECT event_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS t2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS t3
        |  FROM events),
        |g AS (SELECT event_type || '>' || t2 || '>' || t3 AS trigram,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM o WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        |  GROUP BY 1 ORDER BY n DESC, trigram LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY n DESC, trigram) AS BIGINT)
        |         AS rank,
        |       trigram, n
        |FROM g ORDER BY rank""".stripMargin,

    "events_freshness" ->
      """WITH l AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
        |  FROM events GROUP BY 1),
        |f AS (SELECT MAX(last_us) AS corpus_us FROM l)
        |SELECT event_type, n_events,
        |       make_timestamp(last_us) AS last_ts,
        |       corpus_us // 60000000 - last_us // 60000000 AS lag_min,
        |       corpus_us // 60000000 - last_us // 60000000 >= 60 AS stale
        |FROM l, f ORDER BY event_type""".stripMargin,

    "events_ldiversity" ->
      """WITH g AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    hour(CAST(ts AS TIMESTAMP)) AS hr,
        |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM events GROUP BY 1, 2)
        |SELECT n_types >= 3 AS diverse, CAST(COUNT(*) AS BIGINT) AS n_groups,
        |       CAST(SUM(n_users) AS BIGINT) AS n_memberships
        |FROM g GROUP BY 1 ORDER BY diverse""".stripMargin,

    "events_growth_accounting" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events),
        |fd AS (SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY 1),
        |pv AS (SELECT DISTINCT user_id, day + 1 AS day FROM ud),
        |lab AS (SELECT ud.day,
        |    CASE WHEN ud.day = fd.first_day THEN 'new'
        |         WHEN pv.user_id IS NOT NULL THEN 'returning'
        |         ELSE 'resurrected' END AS kind
        |  FROM ud JOIN fd ON ud.user_id = fd.user_id
        |  LEFT JOIN pv ON pv.user_id = ud.user_id AND pv.day = ud.day),
        |per AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_active,
        |    CAST(SUM(CASE WHEN kind = 'new' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new,
        |    CAST(SUM(CASE WHEN kind = 'returning' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_returning,
        |    CAST(SUM(CASE WHEN kind = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_resurrected
        |  FROM lab GROUP BY 1),
        |ch AS (SELECT pv.day, CAST(COUNT(*) AS BIGINT) AS n_churned
        |  FROM pv LEFT JOIN ud ON ud.user_id = pv.user_id AND ud.day = pv.day
        |  WHERE ud.user_id IS NULL GROUP BY 1)
        |SELECT CAST(per.day AS VARCHAR) AS day, n_active, n_new, n_returning,
        |       n_resurrected, COALESCE(ch.n_churned, 0) AS n_churned
        |FROM per LEFT JOIN ch ON ch.day = per.day
        |ORDER BY day""".stripMargin,

    "events_uplift_segments" ->
      """WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS converted
        |  FROM events GROUP BY user_id),
        |t AS (SELECT CASE WHEN n < 60 THEN 'low'
        |               WHEN n < 72 THEN 'mid' ELSE 'high' END AS tier,
        |        user_id % 2 = 0 AS in_a, converted FROM u),
        |p AS (SELECT tier,
        |    CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN in_a THEN converted ELSE 0 END) AS BIGINT)
        |      AS conv_a,
        |    CAST(SUM(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN NOT in_a THEN converted ELSE 0 END) AS BIGINT)
        |      AS conv_b
        |  FROM t GROUP BY 1)
        |SELECT tier, n_a, conv_a, n_b, conv_b,
        |       CAST(sign(conv_b * n_a - conv_a * n_b) AS BIGINT) AS uplift_sign,
        |       (10000 * abs(conv_b * n_a - conv_a * n_b))
        |         // greatest(conv_a * n_b, 1) AS uplift_abs_bp
        |FROM p ORDER BY tier""".stripMargin,

    // rank-pick percentiles: the value AT a target rank is unique under
    // ties even though which row carries the rank isn't
    "events_conversion_lag" ->
      """WITH u AS (SELECT user_id,
        |    MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
        |    MIN(CASE WHEN event_type = 'purchase'
        |      THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS conv_us
        |  FROM events GROUP BY user_id),
        |c AS (SELECT
        |    CAST(CAST(make_timestamp(first_us) AS DATE) AS VARCHAR)
        |      AS cohort_day,
        |    conv_us // 1000000 - first_us // 1000000 AS lag_s
        |  FROM u WHERE conv_us IS NOT NULL),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY cohort_day ORDER BY lag_s) AS rn,
        |    COUNT(*) OVER (PARTITION BY cohort_day) AS n_conv
        |  FROM c)
        |SELECT cohort_day, CAST(MAX(n_conv) AS BIGINT) AS n_conv,
        |       MAX(CASE WHEN rn = (n_conv + 1) // 2 THEN lag_s END) AS p50_lag_s,
        |       MAX(CASE WHEN rn = (9 * n_conv + 9) // 10 THEN lag_s END)
        |         AS p90_lag_s,
        |       MAX(lag_s) AS max_lag_s
        |FROM r GROUP BY cohort_day ORDER BY cohort_day""".stripMargin,

    // mid-rank Mann-Whitney carried at 2× scale so ties stay integral;
    // cb = ranks strictly before this tie group (prefix count)
    "events_score_auc" ->
      """WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS score,
        |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS label
        |  FROM events GROUP BY user_id),
        |h AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    CAST(SUM(label) AS BIGINT) AS pos
        |  FROM u GROUP BY 1),
        |c AS (SELECT *, COALESCE(SUM(cnt) OVER (ORDER BY score
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM h),
        |f AS (SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
        |    CAST(SUM(cnt - pos) AS BIGINT) AS n_neg,
        |    CAST(SUM(pos * (2 * cb + cnt + 1)) AS BIGINT) AS r2
        |  FROM c)
        |SELECT n_pos, n_neg, r2 - n_pos * (n_pos + 1) AS u2,
        |       (10000 * (r2 - n_pos * (n_pos + 1)))
        |         // greatest(2 * n_pos * n_neg, 1) AS auc_x10000
        |FROM f""".stripMargin,

    "events_twap" ->
      """WITH ev AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |                   greatest(CAST(CAST(value AS DECIMAL(18,2)) * 100
        |                     AS BIGINT), CAST(0 AS BIGINT)) AS v
        |            FROM events WHERE value IS NOT NULL),
        |l AS (SELECT *,
        |        lead(ts) OVER (PARTITION BY event_type
        |          ORDER BY ts, event_id) AS next_ts
        |      FROM ev),
        |wgt AS (SELECT event_type, v,
        |          CASE WHEN next_ts IS NOT NULL
        |               THEN epoch_us(next_ts) // 1000000
        |                  - epoch_us(ts) // 1000000 END AS wsec
        |        FROM l),
        |a AS (SELECT event_type,
        |        CAST(COUNT(*) AS BIGINT) AS n_readings,
        |        CAST(SUM(CASE WHEN wsec IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_open,
        |        CAST(COALESCE(SUM(wsec), 0) AS BIGINT) AS total_sec,
        |        CAST(COALESCE(SUM(CAST(v AS HUGEINT) * wsec), 0) AS HUGEINT)
        |          AS vw,
        |        CAST(SUM(v) AS BIGINT) AS sv
        |      FROM wgt GROUP BY 1)
        |SELECT event_type, n_readings, n_open, total_sec,
        |       CAST(vw // greatest(CAST(total_sec AS HUGEINT), 1) AS BIGINT)
        |         AS twap_x100,
        |       sv // n_readings AS naive_mean_x100
        |FROM a ORDER BY event_type""".stripMargin,

    "events_user_streaks" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |d AS (SELECT user_id, CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT) AS d
        |      FROM days),
        |g AS (SELECT user_id,
        |        d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS g FROM d),
        |s AS (SELECT user_id, g, CAST(COUNT(*) AS BIGINT) AS len FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(MAX(len) AS BIGINT) AS longest_streak,
        |       CAST(SUM(len) AS BIGINT) AS n_active_days,
        |       CAST(COUNT(*) AS BIGINT) AS n_streaks
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_user_topk" ->
      """WITH t AS (SELECT event_type, user_id,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_x100,
        |    COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY total_x100 DESC, user_id ASC) AS rk FROM t)
        |SELECT event_type, CAST(rk AS BIGINT) AS rk, user_id, total_x100, n_events
        |FROM r WHERE rk <= 5 ORDER BY event_type, rk""".stripMargin,

    // doubled scales keep every median integral: x200 values are even
    // ints, deviations double again to x400 — quantile_cont on integer
    // inputs matches Spark `percentile` bit-for-bit (customer_rfm rule)
    "events_value_mad" ->
      """WITH e AS (SELECT event_type,
        |             CAST(round(value * 100, 0) AS BIGINT) * 2 AS x2 FROM events),
        |m AS (SELECT event_type, CAST(quantile_cont(x2, 0.5) AS BIGINT) AS median_x200
        |      FROM e GROUP BY 1),
        |d AS (SELECT e.event_type, median_x200, abs(x2 - median_x200) * 2 AS d4
        |      FROM e JOIN m USING (event_type))
        |SELECT event_type, median_x200,
        |       CAST(quantile_cont(d4, 0.5) AS BIGINT) AS mad_x400,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM d GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    "events_winsorize" ->
      """WITH ev AS (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v
        |            FROM events WHERE value IS NOT NULL),
        |n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ev GROUP BY 1),
        |r AS (SELECT event_type, v,
        |        row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn FROM ev),
        |b AS (SELECT r.event_type,
        |        MIN(CASE WHEN rn = (n.n + 99) // 100 THEN v END) AS p1,
        |        MIN(CASE WHEN rn = (99 * n.n + 99) // 100 THEN v END) AS p99
        |      FROM r JOIN n USING (event_type) GROUP BY 1),
        |c AS (SELECT ev.event_type,
        |        greatest(b.p1, least(b.p99, ev.v)) AS cv,
        |        (ev.v < b.p1) AS lo, (ev.v > b.p99) AS hi
        |      FROM ev JOIN b USING (event_type))
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CASE WHEN lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
        |       CAST(SUM(CASE WHEN hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
        |       CAST(SUM(cv) * 100 AS BIGINT) AS clipped_sum_x100
        |FROM c GROUP BY 1 ORDER BY event_type""".stripMargin,

    "events_winsorize_approx" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(1 AS BIGINT) AS ok
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_zorder_key" ->
      s"""SELECT event_id,
         |  ${graft.ops.ZOrder.zValueSql("hour(CAST(ts AS TIMESTAMP))", "((user_id % 256 + 256) % 256)", 8)} AS z
         |FROM events WHERE event_id < 200 ORDER BY event_id""".stripMargin,

  )
}
