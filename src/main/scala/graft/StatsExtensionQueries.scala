package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Extension queries — statistical modeling over the event stream
  * (survival analysis, seasonality, concentration, adoption): the
  * lifecycle readouts a growth/analytics team runs beside the
  * experimentation family. Builders + their DuckDB oracle mirrors;
  * shared fragments come from [[ExtensionQueriesBase]]. Registered
  * into the single public registry by [[ExtensionQueries]].
  *
  * Exactness conventions as everywhere: integer/decimal arithmetic
  * only, identical truncation (`div` / `//`, both toward zero) on both
  * engines, BIGINT/STRING/BOOLEAN/DATE outputs.
  */
private[graft] trait StatsExtensionQueries extends ExtensionQueriesBase {

  /** Discrete-time survival of time-to-first-purchase — the
    * Kaplan-Meier-style life table (at-risk / died / censored per day
    * since first activity) behind every retention-curve readout. A
    * user "dies" at their first purchase, measured in whole days from
    * their first event; non-converters are right-censored at the
    * corpus frontier. The per-day hazard is emitted in bp
    * ((10⁴·died) div at_risk — exact, both engines); the cumulative
    * survival product is left to the reader because a running product
    * is not integer-exact, and the life table IS the standard
    * publishable artifact.
    *
    * Scale shape: one per-user aggregate (the only data-sized
    * shuffle), then everything runs on the DAY HISTOGRAM — bounded by
    * the date span, not by users. The running exit count rides
    * [[graft.ops.Linkage.globalRunningSum]]'s two-pass exchange, never
    * a single-partition window; the frontier and the user total are
    * 1-row broadcasts.
    */
  private def qEventsSurvivalHazard(s: SparkSession, dir: String): DataFrame = {
    // one scan: the frontier derives from the per-user frame's own max
    // day instead of a second pass over events (plan-audited r18)
    val u = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("f_day"),
        min(when(col("event_type") === "purchase", col("day"))).as("c_day"),
        max(col("day")).as("m_day"))
      .transform(graft.ops.AnnCache.pin) // read by the frontier fold and the lifetimes
    val frontier = u.agg(max(col("m_day")).as("l_day"))
    val t = u.crossJoin(broadcast(frontier))
      .select(datediff(col("c_day"), col("f_day")).cast("long").as("t_conv"),
        datediff(col("l_day"), col("f_day")).cast("long").as("t_cens"))
      .select(coalesce(col("t_conv"), col("t_cens")).as("day_t"),
        when(col("t_conv").isNotNull, 1L).otherwise(0L).as("died"))
    val hist = t.groupBy(col("day_t"))
      .agg(count(lit(1)).as("exits"), sum(col("died")).as("died"))
    val tot = hist.agg(sum(col("exits")).as("n_users"))
    graft.ops.Linkage.globalRunningSum(hist, col("exits"), col("day_t"))
      .crossJoin(broadcast(tot))
      .select(col("day_t"),
        (col("n_users") - col("cum") + col("exits")).as("at_risk"),
        col("died"), (col("exits") - col("died")).as("censored"),
        expr("(10000 * died) div (n_users - cum + exits)").as("hazard_bp"))
      .orderBy("day_t")
  }

  /** Hour-of-week seasonality with an exact χ² uniformity test per ISO
    * weekday — the traffic-shaping readout (when to schedule batch
    * windows, whether weekday load is flat). χ² against the uniform
    * 24-hour profile is computed in the cross-multiplied integer form
    * χ²·10⁴ = (10⁴·(24·Σo² − n²)) div n (algebraically Σ(o−n/24)²
    * normalized — no per-cell division, no floats); operands ride
    * DECIMAL(38)/HUGEINT because n² clears 2⁶³ near 3G rows per
    * weekday. `nonuniform` flags χ² above the df=23, α=0.05 critical
    * value 35.172. ISO weekday comes from epoch-day arithmetic
    * (((days+3) mod 7)+1) so both engines share one definition instead
    * of their differing dayofweek conventions.
    *
    * Scale shape: ONE (dow, hour)-keyed aggregate over the scan (168
    * output rows); the χ² fold and the peak-hour window both run on
    * that dimension-sized frame. Nothing else touches the data.
    */
  private def qEventsSeasonality(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pinned: the peak window and the χ² fold both consume this
    // 168-row frame — unpinned, the second branch re-runs the full
    // events scan (the PlanSpec pin caught exactly that)
    val cells = Tables.events(s, dir)
      .select(to_date(col("ts")).as("day"), hour(col("ts")).cast("long").as("hr"))
      .select((((datediff(col("day"), lit("1970-01-01").cast("date")) + 3) % 7) + 1)
        .cast("long").as("iso_dow"), col("hr"))
      .groupBy(col("iso_dow"), col("hr")).agg(count(lit(1)).as("cnt"))
      .transform(graft.ops.AnnCache.pin)
    val peak = cells.withColumn("rk", row_number().over(
        Window.partitionBy(col("iso_dow")).orderBy(col("cnt").desc, col("hr"))))
      .where(col("rk") === 1)
      .select(col("iso_dow"), col("hr").as("peak_hour"), col("cnt").as("peak_n"))
    cells.groupBy(col("iso_dow"))
      .agg(sum(col("cnt")).as("n_events"),
        sum(col("cnt") * col("cnt")).cast("decimal(38,0)").as("ss"))
      .join(peak, "iso_dow")
      .select(col("iso_dow"), col("n_events"), col("peak_hour"),
        expr("(10000 * peak_n) div n_events").as("peak_share_bp"),
        expr("CAST((10000 * (24 * ss - CAST(n_events AS DECIMAL(38,0)) * n_events)) " +
          "div n_events AS BIGINT)").as("chi2_x10000"))
      .withColumn("nonuniform", col("chi2_x10000") >= 351720L)
      .orderBy("iso_dow")
  }

  /** Per-event-type user concentration — the supplier_hhi readout
    * turned on the event stream: is a type's volume produced by a
    * broad base or a handful of users (bot farms, power users,
    * instrumentation loops)? Shares in bp of the type's events per
    * user, HHI = Σ share_bp² on the bp² scale with the DOJ-equivalent
    * flag at 2500·100² = 25,000,000 (same scale discipline as
    * supplier_hhi), plus the top user's share.
    *
    * Scale shape: one (type, user) aggregate over the scan, then
    * everything runs on that frame — type totals join back broadcast,
    * the fold is per type. No window over data.
    */
  private def qEventsTypeConcentration(s: SparkSession, dir: String): DataFrame = {
    // pinned: the type totals and the share join both consume this
    // (type, user) frame — unpinned, each branch re-scans events
    val per = Tables.events(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .transform(graft.ops.AnnCache.pin)
    val tot = per.groupBy(col("event_type")).agg(sum(col("n")).as("total"))
    per.join(broadcast(tot), "event_type")
      .select(col("event_type"),
        expr("(10000 * n) div greatest(total, 1)").as("share_bp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("share_bp") * col("share_bp")).as("hhi"),
        max(col("share_bp")).as("top_share_bp"))
      .withColumn("concentrated", col("hhi") >= 25000000L)
      .orderBy("event_type")
  }

  /** Feature-adoption curves — per event type and day, how many users
    * performed it for the FIRST time (new adopters) and the running
    * adopter total: the product-analytics S-curve that tells a launch
    * review whether usage is still acquiring new users or saturating.
    *
    * Scale shape: one (type, user) MIN-day aggregate over the scan,
    * one (type, day) rollup, then the cumulative sum runs on the
    * (types × days)-sized frame — the window partitions by type, so
    * no single-partition exchange, and the frame it orders is bounded
    * by the date span, not the data.
    */
  private def qEventsAdoptionCurve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstDay = Tables.events(s, dir)
      .select(col("event_type"), col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("user_id"))
      .agg(min(col("day")).as("day"))
    firstDay.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("new_adopters"))
      .withColumn("cum_adopters", sum(col("new_adopters")).over(
        Window.partitionBy(col("event_type")).orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("event_type", "day")
  }

  /** Single-changepoint detection on the daily event series — the
    * first step of binary segmentation (Scott & Knott; the CUSUM
    * family's localization half): the split k maximizing the exact
    * between-segment score (s_l·n_r − s_r·n_l)² div (n_l·n_r·n), i.e.
    * the scaled two-sample mean gap. All cross-multiplied integers on
    * DECIMAL(38)/HUGEINT (the squared diff reaches ~10²⁶), identical
    * truncation, full (score DESC, day ASC) tiebreak — so the argmax
    * row is engine-exact where a float scan is not.
    *
    * Scale shape: one day-keyed aggregate over the scan; rank and
    * prefix sum are the two-pass exchanges
    * ([[graft.ops.Linkage.globalRank]]/globalRunningSum) on the
    * DAY HISTOGRAM (bounded by the calendar span); the final argmax is
    * a TakeOrdered over that frame.
    */
  private def qEventsChangepoint(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("y"))
    val ranked = graft.ops.Linkage.globalRank(hist, col("day"))
    val cum = graft.ops.Linkage.globalRunningSum(ranked, col("y"), col("day"))
    val tot = hist.agg(count(lit(1)).as("n_days"), sum(col("y")).as("s_tot"))
    cum.crossJoin(broadcast(tot))
      .where(col("rank") < col("n_days"))
      .select(col("day").as("split_day"), col("rank").as("n_left"),
        (col("n_days") - col("rank")).as("n_right"),
        col("cum").as("s_left"), (col("s_tot") - col("cum")).as("s_right"),
        col("n_days"))
      .withColumn("score", expr(
        "CAST(((CAST(s_left AS DECIMAL(38,0)) * n_right - " +
          "CAST(s_right AS DECIMAL(38,0)) * n_left) * " +
          "(CAST(s_left AS DECIMAL(38,0)) * n_right - " +
          "CAST(s_right AS DECIMAL(38,0)) * n_left)) div " +
          "(CAST(n_left AS DECIMAL(38,0)) * n_right * n_days) AS BIGINT)"))
      .withColumn("mean_left_x100", expr("(100 * s_left) div n_left"))
      .withColumn("mean_right_x100", expr("(100 * s_right) div n_right"))
      .orderBy(col("score").desc, col("split_day").asc).limit(1)
      .select(col("split_day"), col("n_left"), col("n_right"),
        col("mean_left_x100"), col("mean_right_x100"), col("score"))
  }

  /** Peak-day detection — strict local maxima of the daily event
    * series (above both neighbors), annotated with whether each peak
    * also clears the series median (rank-picked, exact): the incident/
    * campaign spike shortlist an on-call review reads.
    *
    * Scale shape: one day-keyed aggregate; lag/lead and the median
    * rank-pick run on the day histogram. The unpartitioned windows are
    * bounded by the CALENDAR SPAN, not the data (the cdc_active_sweep
    * precedent), so the single partition holds thousands of rows at
    * any SF.
    */
  private def qEventsPeakDays(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pinned: the median rank-pick and the neighbor windows both read
    // this day histogram — unpinned, each branch re-scans events
    val hist = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n_events"))
      .transform(graft.ops.AnnCache.pin)
    val w = Window.orderBy(col("day"))
    val med = hist
      .withColumn("rn", row_number().over(Window.orderBy(col("n_events"), col("day"))))
      .crossJoin(broadcast(hist.agg(count(lit(1)).as("nd"))))
      .where(col("rn") === expr("(nd + 1) div 2"))
      .select(col("n_events").as("median_n"))
    hist
      .withColumn("prev_n", lag(col("n_events"), 1).over(w))
      .withColumn("next_n", lead(col("n_events"), 1).over(w))
      .where(col("prev_n").isNotNull && col("next_n").isNotNull &&
        col("n_events") > col("prev_n") && col("n_events") > col("next_n"))
      .crossJoin(broadcast(med))
      .select(col("day"), col("n_events"), col("prev_n"), col("next_n"),
        (col("n_events") > col("median_n")).as("above_median"))
      .orderBy("day")
  }

  /** Dwell-time attribution per event type — the engagement readout
    * behind "where do users actually spend time": each event owns the
    * gap to the user's NEXT event, capped at the 30-minute session
    * bound (the same 1800 s gap events_sessionize breaks on, so an
    * overnight absence doesn't credit the last page with twelve
    * hours); a user's final event is open-ended and reported, not
    * guessed. Mean dwell ×100 via the shared integer truncation.
    *
    * Scale shape: ONE user-keyed window shuffle (the lead rides it),
    * one type-keyed aggregate with map-side partials. Same shape as
    * events_transitions.
    */
  private def qEventsDwellTime(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_us", lead(unix_micros(col("ts")), 1).over(w))
      // explicit null guard: Spark's least() SKIPS nulls (returns the
      // least non-null), so an open-ended row would otherwise be
      // credited the 1800 s cap instead of nothing
      .withColumn("gap_s", when(col("next_us").isNotNull,
        expr("least((next_us - unix_micros(ts)) div 1000000, 1800)")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("next_us").isNull, 1L).otherwise(0L)).as("n_open"),
        sum(coalesce(col("gap_s"), lit(0L))).as("dwell_s"))
      .withColumn("mean_dwell_s_x100",
        expr("(100 * dwell_s) div greatest(n_events - n_open, 1)"))
      .orderBy("event_type")
  }

  /** POSITIONAL (U-shaped) multi-touch attribution — the third member
    * of the attribution family (first-touch and last-touch already
    * ship): each purchase's revenue splits 40/20/40 across its touch
    * path (the touches since the user's previous purchase), with exact
    * integer credits — first = rev·4000 div 10⁴, each middle =
    * (rev·2000 div 10⁴) div (k−2), and the LAST touch takes the
    * remainder, so per-purchase credits sum to the revenue EXACTLY
    * (single-touch paths take it all; two-touch paths split 50/50 with
    * the remainder on the last). Purchases with no touch path report
    * as 'direct'.
    *
    * Scale shape: ONE user-keyed window pass builds the purchase
    * segments (running purchase count) and path ranks; one
    * (user, segment) aggregate sizes each path; the credit arithmetic
    * is scan-stage; the final fold is per touch type. No self-joins
    * over raw events.
    */
  private def qEventsAttributionPosition(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        // coalesce: a NULL-value purchase still converts its path, it
        // just carries zero revenue to split
        coalesce((col("value").cast("decimal(18,2)") * 100).cast("long"), lit(0L))
          .as("rev"))
      .withColumn("is_p", when(col("event_type") === "purchase", 1L).otherwise(0L))
      // seg BEFORE this row: touches in segment s convert at purchase s+1
      .withColumn("seg", coalesce(sum(col("is_p")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .transform(graft.ops.AnnCache.pin) // touches, purchases, and path sizes all read it
    val touches = ev
      .where(col("event_type").isin("click", "view", "signup"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("seg"))
          .orderBy(col("ts"), col("event_id"))).cast("long"))
    val paths = touches.groupBy(col("user_id"), col("seg"))
      .agg(count(lit(1)).as("k"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("seg"), col("rev"))
    val joined = purchases.join(paths, Seq("user_id", "seg"), "left")
    val direct = joined.where(col("k").isNull)
      .groupBy(lit("direct").as("touch_type"))
      .agg(count(lit(1)).as("n_credits"), sum(col("rev")).as("credit_x100"))
    val credited = joined.where(col("k").isNotNull)
      .join(touches.select(col("user_id"), col("seg"), col("event_type"), col("rn")),
        Seq("user_id", "seg"))
      .withColumn("first_c",
        expr("CASE WHEN k = 1 THEN rev WHEN k = 2 THEN (rev * 5000) div 10000 " +
          "ELSE (rev * 4000) div 10000 END"))
      .withColumn("mid_c",
        expr("CASE WHEN k > 2 THEN ((rev * 2000) div 10000) div (k - 2) " +
          "ELSE CAST(0 AS BIGINT) END"))
      .withColumn("credit", expr(
        "CASE WHEN rn = 1 THEN first_c " +
          "WHEN rn = k THEN rev - first_c - (k - 2) * mid_c " +
          "ELSE mid_c END"))
      .groupBy(col("event_type").as("touch_type"))
      .agg(count(lit(1)).as("n_credits"), sum(col("credit")).as("credit_x100"))
    credited.unionByName(direct).orderBy("touch_type")
  }

  protected def statsExtQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_attribution_position" -> (qEventsAttributionPosition _),
    "events_dwell_time" -> (qEventsDwellTime _),
    "events_changepoint" -> (qEventsChangepoint _),
    "events_peak_days" -> (qEventsPeakDays _),
    "events_survival_hazard" -> (qEventsSurvivalHazard _),
    "events_seasonality" -> (qEventsSeasonality _),
    "events_type_concentration" -> (qEventsTypeConcentration _),
    "events_adoption_curve" -> (qEventsAdoptionCurve _),
  )

  protected def statsExtOracles: Map[String, String] = Map(
    "events_attribution_position" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    event_type,
        |    COALESCE(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), 0)
        |      AS rev,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
        |  FROM events),
        |sg AS (SELECT *, CAST(COALESCE(SUM(is_p) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS seg FROM ev),
        |tch AS (SELECT user_id, seg, event_type,
        |    CAST(row_number() OVER (PARTITION BY user_id, seg
        |      ORDER BY ts, event_id) AS BIGINT) AS rn
        |  FROM sg WHERE event_type IN ('click', 'view', 'signup')),
        |pth AS (SELECT user_id, seg, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM tch GROUP BY 1, 2),
        |pur AS (SELECT user_id, seg, rev FROM sg
        |  WHERE event_type = 'purchase'),
        |j AS (SELECT p.user_id, p.seg, p.rev, pth.k
        |  FROM pur p LEFT JOIN pth ON p.user_id = pth.user_id
        |    AND p.seg = pth.seg),
        |direct AS (SELECT 'direct' AS touch_type,
        |    CAST(COUNT(*) AS BIGINT) AS n_credits,
        |    CAST(SUM(rev) AS BIGINT) AS credit_x100
        |  FROM j WHERE k IS NULL),
        |cr AS (SELECT t.event_type AS touch_type, t.rn, j.k, j.rev,
        |    CASE WHEN j.k = 1 THEN j.rev
        |         WHEN j.k = 2 THEN (j.rev * 5000) // 10000
        |         ELSE (j.rev * 4000) // 10000 END AS first_c,
        |    CASE WHEN j.k > 2 THEN ((j.rev * 2000) // 10000) // (j.k - 2)
        |         ELSE 0 END AS mid_c
        |  FROM j JOIN tch t ON j.user_id = t.user_id AND j.seg = t.seg
        |  WHERE j.k IS NOT NULL),
        |cred AS (SELECT touch_type,
        |    CASE WHEN rn = 1 THEN first_c
        |         WHEN rn = k THEN rev - first_c - (k - 2) * mid_c
        |         ELSE mid_c END AS credit
        |  FROM cr)
        |SELECT touch_type, CAST(COUNT(*) AS BIGINT) AS n_credits,
        |       CAST(SUM(credit) AS BIGINT) AS credit_x100
        |FROM cred GROUP BY 1
        |UNION ALL
        |SELECT * FROM direct WHERE n_credits > 0
        |ORDER BY touch_type""".stripMargin,

    "events_dwell_time" ->
      """WITH o AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
        |      PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next_us
        |  FROM events),
        |g AS (SELECT event_type,
        |    CASE WHEN next_us IS NULL THEN NULL
        |         ELSE least((next_us - us) // 1000000, 1800) END AS gap_s,
        |    CASE WHEN next_us IS NULL THEN 1 ELSE 0 END AS open
        |  FROM o)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(SUM(open) AS BIGINT) AS n_open,
        |       CAST(COALESCE(SUM(gap_s), 0) AS BIGINT) AS dwell_s,
        |       (100 * CAST(COALESCE(SUM(gap_s), 0) AS BIGINT))
        |         // greatest(COUNT(*) - CAST(SUM(open) AS BIGINT), 1)
        |         AS mean_dwell_s_x100
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_changepoint" ->
      """WITH h AS (SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |r AS (SELECT day, y,
        |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rank,
        |    CAST(SUM(y) OVER (ORDER BY day) AS BIGINT) AS cum FROM h),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(y) AS BIGINT) AS s_tot FROM h),
        |c AS (SELECT day AS split_day, rank AS n_left, n_days - rank AS n_right,
        |    cum AS s_left, s_tot - cum AS s_right, n_days
        |  FROM r, t WHERE rank < n_days),
        |sc AS (SELECT split_day, n_left, n_right,
        |    (100 * s_left) // n_left AS mean_left_x100,
        |    (100 * s_right) // n_right AS mean_right_x100,
        |    CAST(((CAST(s_left AS HUGEINT) * n_right
        |           - CAST(s_right AS HUGEINT) * n_left)
        |        * (CAST(s_left AS HUGEINT) * n_right
        |           - CAST(s_right AS HUGEINT) * n_left))
        |      // (CAST(n_left AS HUGEINT) * n_right * n_days) AS BIGINT)
        |      AS score
        |  FROM c)
        |SELECT split_day, n_left, n_right, mean_left_x100, mean_right_x100,
        |       score
        |FROM sc ORDER BY score DESC, split_day LIMIT 1""".stripMargin,

    "events_peak_days" ->
      """WITH h AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1),
        |m AS (SELECT n_events AS median_n FROM (
        |    SELECT n_events, row_number() OVER (ORDER BY n_events, day) AS rn,
        |           COUNT(*) OVER () AS nd FROM h)
        |  WHERE rn = (nd + 1) // 2),
        |x AS (SELECT day, n_events,
        |    lag(n_events) OVER (ORDER BY day) AS prev_n,
        |    lead(n_events) OVER (ORDER BY day) AS next_n FROM h)
        |SELECT day, n_events, prev_n, next_n, n_events > m.median_n AS above_median
        |FROM x, m
        |WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
        |  AND n_events > prev_n AND n_events > next_n
        |ORDER BY day""".stripMargin,

    "events_survival_hazard" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, event_type
        |  FROM events),
        |u AS (SELECT user_id, MIN(day) AS f_day,
        |    MIN(CASE WHEN event_type = 'purchase' THEN day END) AS c_day
        |  FROM ev GROUP BY 1),
        |l AS (SELECT MAX(day) AS l_day FROM ev),
        |t AS (SELECT CAST(date_diff('day', f_day, c_day) AS BIGINT) AS t_conv,
        |    CAST(date_diff('day', f_day, l_day) AS BIGINT) AS t_cens
        |  FROM u, l),
        |x AS (SELECT COALESCE(t_conv, t_cens) AS day_t,
        |    CASE WHEN t_conv IS NOT NULL THEN 1 ELSE 0 END AS died FROM t),
        |h AS (SELECT day_t, CAST(COUNT(*) AS BIGINT) AS exits,
        |    CAST(SUM(died) AS BIGINT) AS died FROM x GROUP BY 1),
        |c AS (SELECT *, CAST(SUM(exits) OVER (ORDER BY day_t) AS BIGINT) AS cum,
        |    (SELECT CAST(SUM(exits) AS BIGINT) FROM h) AS n_users FROM h)
        |SELECT day_t, n_users - cum + exits AS at_risk, died,
        |       exits - died AS censored,
        |       (10000 * died) // (n_users - cum + exits) AS hazard_bp
        |FROM c ORDER BY day_t""".stripMargin,

    "events_seasonality" ->
      """WITH cells AS (SELECT
        |    ((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 3) % 7) + 1
        |      AS iso_dow,
        |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |peak AS (SELECT iso_dow, hr AS peak_hour, cnt AS peak_n FROM (
        |    SELECT *, row_number() OVER (PARTITION BY iso_dow
        |      ORDER BY cnt DESC, hr) AS rk FROM cells) WHERE rk = 1),
        |agg AS (SELECT iso_dow, CAST(SUM(cnt) AS BIGINT) AS n_events,
        |    CAST(SUM(CAST(cnt AS HUGEINT) * cnt) AS HUGEINT) AS ss
        |  FROM cells GROUP BY 1)
        |SELECT CAST(a.iso_dow AS BIGINT) AS iso_dow, a.n_events, p.peak_hour,
        |       (10000 * p.peak_n) // a.n_events AS peak_share_bp,
        |       CAST((10000 * (24 * a.ss - CAST(a.n_events AS HUGEINT) * a.n_events))
        |         // a.n_events AS BIGINT) AS chi2_x10000,
        |       CAST((10000 * (24 * a.ss - CAST(a.n_events AS HUGEINT) * a.n_events))
        |         // a.n_events AS BIGINT) >= 351720 AS nonuniform
        |FROM agg a JOIN peak p ON a.iso_dow = p.iso_dow
        |ORDER BY iso_dow""".stripMargin,

    "events_type_concentration" ->
      """WITH per AS (SELECT event_type, user_id,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS total
        |  FROM per GROUP BY 1),
        |sh AS (SELECT per.event_type,
        |    (10000 * n) // greatest(total, 1) AS share_bp
        |  FROM per JOIN t ON per.event_type = t.event_type)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
        |       CAST(SUM(share_bp * share_bp) AS BIGINT) AS hhi,
        |       CAST(MAX(share_bp) AS BIGINT) AS top_share_bp,
        |       CAST(SUM(share_bp * share_bp) AS BIGINT) >= 25000000
        |         AS concentrated
        |FROM sh GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_adoption_curve" ->
      """WITH f AS (SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS day
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS new_adopters
        |  FROM f GROUP BY 1, 2)
        |SELECT event_type, day, new_adopters,
        |       CAST(SUM(new_adopters) OVER (PARTITION BY event_type
        |         ORDER BY day) AS BIGINT) AS cum_adopters
        |FROM d ORDER BY event_type, day""".stripMargin,
  )
}
