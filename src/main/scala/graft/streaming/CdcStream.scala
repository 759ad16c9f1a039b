package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.cdc.{CdcWire, Routing}
import graft.cdc.Routing.Counts
import graft.sinks.Sinks.{SnapshotStore, recoverSwap, writeParquet}

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
  * Routing: one job over the persisted batch counts its corrupt,
  * invalid and valid rows ([[Routing.branchCounts]]); it also fills
  * the cache the writes read. A branch with no rows writes nothing, so
  * a clean batch skips the DLQ write and an all-invalid batch skips
  * the merge.
  *
  * Scale: one batch plans two shuffle exchanges (counted in the
  * executed plans), with or without a snapshot in place: the
  * latest-per-key window by emp_id inside `store.merge`, over the
  * stored rows and the batch together (pre-reduced map-side by
  * `WindowGroupLimit`), and the totals `groupBy` by emp_city after a
  * map-side partial aggregate. DLQ and corrupt branches are narrow
  * filters over the persisted batch. State lives in the snapshot
  * store, not the driver.
  */
object CdcStream {

  /** Name of the per-batch observed-metrics row surfaced in
    * `StreamingQueryProgress.observedMetrics`: `n_wire` = messages
    * entering the batch. Computed inline on the executors by the
    * `observe` node — zero extra passes — and read by monitoring via
    * the progress listener; at fleet scale this is the per-batch
    * throughput/health signal without a second aggregation query. */
  val MetricsName = "cdc_wire"

  private val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Start the pipeline from a Kafka-shaped (`key`,`value`) stream.
    *
    * @param wire      streaming DataFrame with a string `value` column
    * @param store     keyed snapshot destination (D1)
    * @param dlqPath   parquet dead-letter dir (K2 analog); receives both
    *                  validation failures and corrupt JSON
    * @param checkpoint checkpoint dir (replaces producer.py:15's
    *                  process-local watermark, which lost state on
    *                  restart — SURVEY §2.9)
    *
    * Side effect on the session: for a `file:` checkpoint, when
    * `spark.sql.streaming.checkpointFileManagerClass` is unset, it is
    * set to Spark's `FileSystemBasedCheckpointFileManager`. The default
    * `FileContext` manager forks `readlink` processes for every log
    * file it renames on a host without the native Hadoop library;
    * `FileSystem.rename` of a local file is an atomic `rename(2)`. The
    * stream builds its offset, commit and source logs on its own thread
    * after `start` returns, so the setting cannot be scoped to this
    * call; it stays for later streams of the session.
    */
  def start(wire: DataFrame, store: SnapshotStore, dlqPath: String,
            checkpoint: String, trigger: Trigger = Trigger.AvailableNow(),
            totalsPath: Option[String] = None): StreamingQuery = {
    // the stores recover their own dirs on open; the totals dir is the
    // pipeline's
    totalsPath.foreach(tp => recoverSwap(java.nio.file.Paths.get(tp)))
    val spark = wire.sparkSession
    if (spark.conf.getOption(CheckpointManagerKey).isEmpty &&
        new Path(checkpoint).getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getScheme == "file")
      spark.conf.set(CheckpointManagerKey, classOf[FileSystemBasedCheckpointFileManager].getName)
    wire.observe(MetricsName, count(lit(1)).as("n_wire"))
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, store, dlqPath, totalsPath, batchId)
        ()
      }
      .start()
  }

  /** One micro-batch: decode, count the branches in one job, write the
    * non-empty ones. Factored out so batch replays and tests hit the
    * identical code path.
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
                 totalsPath: Option[String], batchId: Long): Counts = {
    val decoded = CdcWire.fromWire(batch).persist()
    try {
      val n = Routing.branchCounts(decoded)
      val split = Routing.validateSplit(decoded.where(!col("corrupt")))
      // batchId-keyed subdir + overwrite: a replayed batch after a crash
      // rewrites its own DLQ slice instead of appending duplicates, so
      // the whole pipeline (not just the snapshot) is effectively
      // exactly-once under checkpointed replay
      if (n.invalid > 0)
        writeParquet(split.invalid.select(col("emp_id"), col("action"), col("emp_dob"),
          col("emp_salary"), col("last_updated_at"), col("bad_dob"), col("bad_salary"),
          col("bad_id")), s"$dlqPath/batch=$batchId")
      if (n.corrupt > 0)
        writeParquet(decoded.where(col("corrupt"))
          .select(col("emp_id"), col("action"), col("last_updated_at")),
          s"${dlqPath}_corrupt/batch=$batchId")
      if (n.valid > 0) {
        store.merge(split.valid.drop("corrupt"), tsCol = "last_updated_at",
          tieBreak = Seq("action_id"))
        totalsPath.foreach(tp => store.writeTotals(tp, "emp_city", "emp_salary"))
      }
      n
    } finally decoded.unpersist()
  }
}
