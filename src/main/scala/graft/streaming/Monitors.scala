package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** foreachBatch twins of batch registry queries (`events_adoption_curve`,
  * `events_retention`, `events_funnel`, `events_approx_distinct`): each
  * body keeps its state in an external parquet store under
  * batchId-keyed partitions and rewrites its output so that a
  * crash-replayed batch replaces its own rows. With day-ordered batches
  * the accumulated output equals the batch query row for row under any
  * day-aligned split; the specs named on each body pin that contract.
  */
object Monitors {

  /** The store's rows from every batch except `batchId` (a replay must
    * not see its own earlier write), or an empty frame when nothing
    * has been written yet. The explicit schema makes a footerless
    * crashed write read as empty instead of failing inference. */
  private def prior(storeDir: String, batchId: Long,
      fields: Seq[StructField])(s: org.apache.spark.sql.SparkSession): DataFrame = {
    val withBatch = StructType(fields :+ StructField("batch", LongType))
    try s.read.schema(withBatch).parquet(storeDir)
      .where(col("batch") =!= batchId)
      .select(fields.map(f => col(f.name)): _*)
    catch { case e: Exception with org.apache.spark.SparkThrowable
      if e.getCondition == "PATH_NOT_FOUND" =>
        s.createDataFrame(s.sparkContext.emptyRDD[Row], StructType(fields))
    }
  }

  /** Per-partition dynamic overwrite: a replayed or late batch replaces
    * exactly the output partitions it recomputes. */
  private def overwritePartitions(out: DataFrame, outDir: String,
      partCols: String*): Unit = {
    val s = out.sparkSession
    val prevMode = s.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "DYNAMIC")
    try out.write.mode("overwrite").partitionBy(partCols: _*).parquet(outDir)
    finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
  }

  /** foreachBatch body for streaming adoption curves, the continuous
    * form of `events_adoption_curve`: the store holds (event_type,
    * user_id, day) presence, and each batch (re)emits, for exactly the
    * days it carries, the per-type first-time adopter count and the
    * running adopter total, both against everything seen so far.
    * A late batch that reopens a day rewrites that day; later days'
    * cum_adopters go stale until the batch query is rerun over the
    * store. AdoptionStreamSpec pins the contract.
    */
  def adoptionBatch(storeDir: String, outDir: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val prev = prior(storeDir, batchId, Seq(StructField("event_type", StringType),
      StructField("user_id", LongType), StructField("day", DateType)))(batch.sparkSession)
    val ud = batch.select(col("event_type"),
        col("user_id").cast("long").as("user_id"),
        to_date(col("ts")).as("day")).distinct()
      .localCheckpoint(true) // read by the union, the day list, the store write
    val first = prev.unionByName(ud).distinct()
      .groupBy(col("event_type"), col("user_id"))
      .agg(min(col("day")).as("first_day"))
      .localCheckpoint(true) // read by the new-adopter and cum branches
    val batchDays = ud.select(col("day")).distinct()
    val newAd = first.join(batchDays, col("first_day") === col("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("new_adopters"))
    val cum = first.crossJoin(broadcast(batchDays))
      .where(col("first_day") <= col("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("cum_adopters"))
    // inner join: the batch query emits a (type, day) row only when at
    // least one user adopted that day — the streaming form must match
    overwritePartitions(newAd.join(cum, Seq("event_type", "day"))
      .select(col("event_type"), col("new_adopters"), col("cum_adopters"),
        col("day").cast("string").as("day")), outDir, "day")
    ud.write.mode("overwrite").parquet(s"$storeDir/batch=$batchId")
  }

  /** [[retentionBatch]]'s late-data recovery: the full retention matrix
    * from the two stores' rows. The incremental path is exact even for
    * a signup arriving after its user's activity, but not for a signup
    * that moves an already-known cohort earlier — the user's emitted
    * cells keep their old week_offset until this recompute repairs
    * them. Output in the store layout: (n_users, cohort_week string,
    * week_offset).
    */
  def retentionBackfill(presence: DataFrame, signup: DataFrame): DataFrame = {
    val cohort = signup.groupBy(col("user_id"))
      .agg(min(col("sig_week")).as("cohort_week"))
    presence.select(col("user_id"), col("week")).distinct()
      .join(cohort, "user_id")
      .where(col("week") >= col("cohort_week"))
      .groupBy(col("cohort_week"),
        floor(datediff(col("week"), col("cohort_week")) / 7)
          .cast("long").as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(col("n_users"), col("cohort_week").cast("string").as("cohort_week"),
        col("week_offset"))
  }

  /** foreachBatch body for streaming cohort retention, the continuous
    * form of `events_retention`: two stores (weekly presence
    * `(user_id, week)` and per-user earliest signup week), and each
    * batch recomputes exactly the matrix cells its rows can have
    * changed — the cells its own (user, week) pairs land in, plus
    * every cell of a user whose cohort became defined in this batch
    * (their earlier presence was invisible until the signup arrived).
    * Cell values are exact `countDistinct` over everything seen so
    * far. Day-ordered arrival makes a user's cohort week write-once,
    * which bounds the recompute set; an out-of-order signup needs
    * [[retentionBackfill]]. RetentionStreamSpec pins the contract.
    */
  def retentionBatch(storeDir: String, outDir: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    // this batch's facts: weekly presence over ALL event types, and the
    // earliest signup week per user (min over dates = week of min ts)
    val udB = batch.select(col("user_id").cast("long").as("user_id"),
        to_date(date_trunc("week", col("ts"))).as("week")).distinct()
      .localCheckpoint(true) // read by cells, the presence union, the store write
    val sigB = batch.where(col("event_type") === "signup")
      .groupBy(col("user_id").cast("long").as("user_id"))
      .agg(min(to_date(date_trunc("week", col("ts")))).as("sig_week"))
      .localCheckpoint(true) // read by newCoh, the cohort union, the store write
    val priorSig = prior(s"$storeDir/signup", batchId, Seq(
        StructField("user_id", LongType), StructField("sig_week", DateType)))(s)
      .localCheckpoint(true) // newCoh + cohort map
    val cohort = priorSig.unionByName(sigB)
      .groupBy(col("user_id")).agg(min(col("sig_week")).as("cohort_week"))
    val allPres = prior(s"$storeDir/presence", batchId, Seq(
        StructField("user_id", LongType), StructField("week", DateType)))(s)
      .unionByName(udB).distinct()
      .localCheckpoint(true) // read by the newCoh backfill and the recompute
    // users first cohorted by THIS batch: all their presence enters the
    // matrix at once (activity weeks seen before the signup arrived)
    val newCoh = sigB.join(priorSig, Seq("user_id"), "left_anti").select(col("user_id"))
    val touched = udB.unionByName(allPres.join(newCoh, Seq("user_id"), "left_semi"))
    val off = floor(datediff(col("week"), col("cohort_week")) / 7)
      .cast("long").as("week_offset")
    val cells = touched.join(cohort, "user_id")
      .where(col("week") >= col("cohort_week"))
      .select(col("cohort_week"), off).distinct()
      .localCheckpoint(true) // read by the cohort prune and the cell semi-join
    // exact recompute of exactly the touched cells, pruned cohort-first
    val cohTouched = cohort.join(
      cells.select(col("cohort_week")).distinct(), Seq("cohort_week"), "left_semi")
    overwritePartitions(allPres.join(cohTouched, "user_id")
      .where(col("week") >= col("cohort_week"))
      .select(col("cohort_week"), off, col("user_id"))
      .join(cells, Seq("cohort_week", "week_offset"), "left_semi")
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(col("n_users"), col("cohort_week").cast("string").as("cohort_week"),
        col("week_offset")), outDir, "cohort_week", "week_offset")
    udB.write.mode("overwrite").parquet(s"$storeDir/presence/batch=$batchId")
    sigB.write.mode("overwrite").parquet(s"$storeDir/signup/batch=$batchId")
  }

  /** foreachBatch body for the streaming signup→click→purchase funnel,
    * the continuous form of `events_funnel`. The state is a per-user
    * sufficient statistic, the chained conditional-min triple
    * (t_signup, t_click ≥ t_signup, t_purchase ≥ t_click). Under
    * day-ordered arrival each component is write-once, so folding the
    * stored triple (as three virtual events) with the new batch
    * reproduces the full-history chain exactly. The triple is lossy on
    * purpose (it keeps state O(users)), so true late arrival is
    * repaired by the batch query over raw events, not over this store.
    *
    * Stores: `state/batch=N` holds the touched users' updated triples
    * (the merged view is a per-component MIN across partitions);
    * `delta/batch=N` holds one row of stage-flip counts. The emitted
    * 3-row funnel is the running SUM of the deltas, rewritten whole,
    * so replay is idempotent. FunnelStreamSpec pins the contract.
    */
  def funnelBatch(storeDir: String, outDir: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val evB = batch
      .where(col("event_type").isin("signup", "click", "purchase"))
      .select(col("user_id").cast("long").as("user_id"),
        col("event_type"), col("ts").cast("timestamp_ntz").as("ts"))
      .localCheckpoint(true) // read by the user list and the chain fold
    val users = evB.select(col("user_id")).distinct()
    // write-once components ⇒ the merged state is a per-component min;
    // pruned to this batch's users BEFORE the fold
    val oldTouched = prior(s"$storeDir/state", batchId,
        StructField("user_id", LongType) +: Seq("t_signup", "t_click", "t_purchase")
          .map(StructField(_, TimestampNTZType)))(s)
      .join(users, Seq("user_id"), "left_semi")
      .groupBy(col("user_id"))
      .agg(min(col("t_signup")).as("t_signup"), min(col("t_click")).as("t_click"),
        min(col("t_purchase")).as("t_purchase"))
      .localCheckpoint(true) // read by the virtual events and the flip count
    // the stored triple re-enters the chain as three virtual events
    val virtual = Seq(("t_signup", "signup"), ("t_click", "click"),
        ("t_purchase", "purchase")).map { case (c, t) =>
      oldTouched.where(col(c).isNotNull)
        .select(col("user_id"), lit(t).as("event_type"), col(c).as("ts"))
    }.reduce(_.unionByName(_))
    val ev = evB.unionByName(virtual)
    // the batch query's chained conditional mins, verbatim, over the
    // touched slice (EventsExtensionQueries.qEventsFunnel)
    val s1 = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("ts"))).as("t_signup"))
    val s2 = ev.join(s1, "user_id")
      .groupBy(col("user_id"), col("t_signup"))
      .agg(min(when(col("event_type") === "click" && col("ts") >= col("t_signup"),
        col("ts"))).as("t_click"))
    val triples = ev.join(s2, "user_id")
      .groupBy(col("user_id"), col("t_signup"), col("t_click"))
      .agg(min(when(col("event_type") === "purchase" && col("ts") >= col("t_click"),
        col("ts"))).as("t_purchase"))
      .localCheckpoint(true) // read by the state write and the flip count
    triples.write.mode("overwrite").parquet(s"$storeDir/state/batch=$batchId")
    // stage flips: users whose component went null→set THIS batch
    def flips(c: String) = sum(when(col(c).isNotNull && col(s"old_$c").isNull,
      1L).otherwise(0L))
    val delta = triples.join(
        oldTouched.select(col("user_id"), col("t_signup").as("old_t_signup"),
          col("t_click").as("old_t_click"), col("t_purchase").as("old_t_purchase")),
        Seq("user_id"), "left")
      .agg(flips("t_signup").as("d_signup"), flips("t_click").as("d_click"),
        flips("t_purchase").as("d_purchase"))
      .na.fill(0L, Seq("d_signup", "d_click", "d_purchase"))
    delta.coalesce(1).write.mode("overwrite")
      .parquet(s"$storeDir/delta/batch=$batchId")
    // running funnel = Σ deltas (including this batch's, read back so
    // the sum sees exactly the partitions on disk)
    val deltaF = Seq("d_signup", "d_click", "d_purchase", "batch")
      .map(StructField(_, LongType))
    s.read.schema(StructType(deltaF)).parquet(s"$storeDir/delta")
      .agg(sum(col("d_signup")).as("n_signup"), sum(col("d_click")).as("n_click"),
        sum(col("d_purchase")).as("n_purchase"))
      .select(expr("stack(3, 'signup', n_signup, 'click_after', n_click, " +
        "'purchase_after', n_purchase) as (stage, n_users)"))
      .coalesce(1).write.mode("overwrite").parquet(outDir)
  }

  /** foreachBatch body for streaming approximate distinct users per
    * event type: the store holds one HLL sketch per (event_type,
    * batch), and the emitted count reads `hll_union_agg` over the
    * partials. HLL registers merge by elementwise MAX, so the union of
    * per-batch sketches is state-identical to a single-shot sketch over
    * the concatenated stream (DistinctStreamSpec pins it under two
    * split shapes, plus replay idempotence).
    */
  def distinctCountBatch(storeDir: String, outDir: String)(
      batch: DataFrame, batchId: Long): Unit = {
    batch.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id").cast("long"), lit(12)).as("sk"))
      .coalesce(1).write.mode("overwrite").parquet(s"$storeDir/batch=$batchId")
    // readout over exactly the partitions on disk (own batch included
    // via its just-written partition, so replay reads its own rewrite)
    batch.sparkSession.read.parquet(storeDir)
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
        .as("n_approx"))
      .coalesce(1).write.mode("overwrite").parquet(outDir)
  }
}
