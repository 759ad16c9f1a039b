package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.cdc.{CdcWire, Routing}
import graft.sinks.Sinks.{SnapshotStore, recoverSwap}

/** The streaming assembly (SURVEY §3.2 restated for Spark; the
  * foreachBatch/incremental-execution model follows "Structured
  * Streaming: A Declarative API for Real-Time Applications in Apache
  * Spark", SIGMOD 2018):
  * wire stream → decode → validate-split → [DLQ sink | latest-per-key →
  * snapshot merge].
  *
  * One `foreachBatch` handles both branches so the source is read once
  * per micro-batch (the persist/unpersist pair).
  *
  * Note: validation runs on EVERY message including deletes
  * (reference-faithful, consumer.py:47-48) — a delete event whose row
  * image fails F2 goes to the DLQ and does not delete. Real
  * trigger-produced deletes carry the OLD row image
  * (project2_dag.py:45-72), which passes validation for rows that were
  * valid at insert time. Each batch is one
  * atomic merge into the snapshot — replacing the reference's
  * per-message autocommit (consumer.py:60-91) and its
  * commit-before-write loss window (§2.9): with checkpointing, a
  * crashed batch replays and the keyed merge is idempotent.
  *
  * Scale: with a snapshot in place, one batch plans three shuffle
  * exchanges (counted in the executed plans): the latest-per-key
  * window by emp_id inside `store.merge` (pre-reduced map-side by
  * `WindowGroupLimit`), the snapshot side of the full-outer merge join
  * by emp_id (the batch side reuses the window's partitioning), and
  * the totals `groupBy` by emp_city after a map-side partial
  * aggregate. The first batch has no snapshot to join, so two. DLQ and
  * corrupt branches are narrow filters over the persisted batch. State
  * lives in the snapshot store, not the driver.
  */
object CdcStream {

  /** Name of the per-batch observed-metrics row surfaced in
    * `StreamingQueryProgress.observedMetrics`: `n_wire` = messages
    * entering the batch. Computed inline on the executors by the
    * `observe` node — zero extra passes — and read by monitoring via
    * the progress listener; at fleet scale this is the per-batch
    * throughput/health signal without a second aggregation query. */
  val MetricsName = "cdc_wire"

  /** Start the pipeline from a Kafka-shaped (`key`,`value`) stream.
    *
    * @param wire      streaming DataFrame with a string `value` column
    * @param store     keyed snapshot destination (D1)
    * @param dlqPath   parquet dead-letter dir (K2 analog); receives both
    *                  validation failures and corrupt JSON
    * @param checkpoint checkpoint dir (replaces producer.py:15's
    *                  process-local watermark, which lost state on
    *                  restart — SURVEY §2.9)
    */
  def start(wire: DataFrame, store: SnapshotStore, dlqPath: String,
            checkpoint: String, trigger: Trigger = Trigger.AvailableNow(),
            totalsPath: Option[String] = None): StreamingQuery = {
    // the stores recover their own dirs on open; the totals dir is the
    // pipeline's
    totalsPath.foreach(tp => recoverSwap(java.nio.file.Paths.get(tp)))
    wire.observe(MetricsName, count(lit(1)).as("n_wire"))
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, store, dlqPath, totalsPath, batchId)
      }
      .start()
  }

  /** One micro-batch: decode, split, route. Factored out so batch
    * replays and tests hit the identical code path.
    *
    * `totalsPath` maintains the D2 aggregate table (per-city salary
    * totals, the project-1 A4 analog): derived from the merged snapshot
    * state rather than accumulated from the raw stream, so deletes and
    * updates retract correctly (SURVEY §7.5 risk 1 — plain streaming
    * groupBy cannot retract): the store re-aggregates its snapshot.
    *
    * `batchId` must be unique per batch (streaming supplies the
    * checkpointed epoch): the DLQ write is `overwrite` into a
    * batchId-keyed subdir, so reusing an id replaces that batch's DLQ
    * slice — which is exactly right for a REPLAY of the same batch and
    * exactly wrong for two different batches.
    */
  def applyBatch(batch: DataFrame, store: SnapshotStore, dlqPath: String,
                 totalsPath: Option[String], batchId: Long): Unit = {
    val decoded = CdcWire.fromWire(batch).persist()
    try {
      val corrupt = decoded.where(col("corrupt"))
      val split = Routing.validateSplit(decoded.where(!col("corrupt")))
      val dlq = split.invalid
        .select(col("emp_id"), col("action"), col("emp_dob"), col("emp_salary"),
          col("last_updated_at"), col("bad_dob"), col("bad_salary"), col("bad_id"))
      // batchId-keyed subdir + overwrite: a replayed batch after a crash
      // rewrites its own DLQ slice instead of appending duplicates, so
      // the whole pipeline (not just the snapshot) is effectively
      // exactly-once under checkpointed replay. Clean batches skip the
      // write entirely (isEmpty is a limit-1 probe on the persisted
      // batch; a parquet write is a full job).
      if (!dlq.isEmpty)
        dlq.write.mode("overwrite").parquet(s"$dlqPath/batch=$batchId")
      if (!corrupt.isEmpty)
        corrupt.select(col("emp_id"), col("action"), col("last_updated_at"))
          .write.mode("overwrite").parquet(s"${dlqPath}_corrupt/batch=$batchId")
      val valid = split.valid.drop("corrupt")
      if (!valid.isEmpty) {
        store.merge(valid, tsCol = "last_updated_at", tieBreak = Seq("action_id"))
        totalsPath.foreach(tp => store.writeTotals(tp, "emp_city", "emp_salary"))
      }
    } finally decoded.unpersist()
  }
}
