package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.cdc.{ApplyChanges, CdcWire, Fixtures, Routing}
import graft.sinks.Sinks.{ParquetSnapshotStore, SnapshotStore}
import graft.sources.CdcSources
import graft.streaming.CdcStream

/** `cdc_burst`: a ts-ordered slice of the CDC log replayed as 100-event
  * wire files through `CdcSources.wireJsonStream` -> `CdcStream.start`
  * into a `ParquetSnapshotStore` with totals. Closed loop: publish a
  * burst by atomic rename, wait for its micro-batch commit, publish the
  * next. Every 20th burst carries one undecodable message.
  *
  * cold = a freshly started stream (new checkpoint, empty store) through
  * the commit of its first pass of bursts; warm = the median
  * visible-to-commit latency of the bursts of the passes after the
  * second (a stream's second pass still runs slower, so it settles
  * untimed). */
object CdcBurst {
  val BurstSize = 100 // the reference consumer's burst size
  val CorruptEvery = 20
  val PassBursts = 3
  val FirstWarm = 2 * PassBursts // cold pass, settling pass
  val WarmupBursts = 12
  val Scale = "sf0.1"
  private val CommitTimeoutNs = 60e9

  /** The encoded slice: burst files' contents and what went into them. */
  final case class Slice(start: Long, bursts: IndexedSeq[String], corrupt: Set[Int])

  def run(o: Main.Opts, r: Result, bootMs: Long): Unit = {
    val capacity = 20 + (o.seconds * 5).toInt // bursts; each is >= 9 Spark jobs
    val rnd = new scala.util.Random(o.seed)
    val startDraw = rnd.nextDouble()
    val corruptPhase = rnd.nextInt(CorruptEvery)
    val corruptPos = Array.fill(capacity)(rnd.nextInt(BurstSize + 1))
    val (spark, slice) = Main.setup(r, bootMs)(() => Main.session(o, 4, extensions = false)) {
      s => encode(s, o, capacity, startDraw, corruptPhase, corruptPos)
    }
    r.detail("slice_start") = slice.start

    // JIT warm-up: a throwaway stream over the first bursts
    val w0 = System.nanoTime()
    val warm = new Pipeline(spark, s"${o.work}/cdc/warmup", None)
    (0 until (WarmupBursts min slice.bursts.size)).foreach(i => warm.step(i, slice.bursts(i)))
    warm.stop()
    r.detail("warmup_s") = (System.nanoTime() - w0) / 1e9

    val trace = if (o.trace) Some(ExecTrace.install(spark.sparkContext)) else None
    val p = new Pipeline(spark, s"${o.work}/cdc/timed", trace.map(_ => new TimedStore))
    val lat = mutable.ArrayBuffer.empty[Double]
    var n = 0
    var lastS = 0.0 // wall of the last burst, publish to commit
    def burst(): Boolean = {
      r.attempted += 1
      val b0 = System.nanoTime()
      val ok = n < slice.bursts.size && p.step(n, slice.bursts(n)).exists { l =>
        if (n >= FirstWarm) lat += l
        true
      }
      lastS = (System.nanoTime() - b0) / 1e9
      if (!ok) r.failed += 1
      n += 1
      ok
    }
    def pass(): Boolean = (0 until PassBursts).forall(_ => burst())
    val e0 = trace.map(_.snapshot())
    val t0 = System.nanoTime()
    p.start()
    var ok = pass()
    val coldS = (System.nanoTime() - t0) / 1e9
    val e1 = trace.map(_.snapshot())
    ok = ok && pass()
    val e2 = trace.map(_.snapshot())
    val warmStart = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // warm bursts (at least a pass of them) while the run's seconds last;
    // one burst at a time, so a slower run loses one sample, not a pass
    while (ok && (lat.size < PassBursts || elapsed + lastS <= o.seconds) &&
        n < slice.bursts.size) ok = burst()
    val warmWallS = (System.nanoTime() - warmStart) / 1e9
    val e3 = trace.map(_.snapshot())
    p.stop()
    r.detail("bursts") = n
    r.detail("latencies_ms") = lat
    if (!ok) r.check("all_bursts_committed", ok = false, s"burst ${n - 1} did not commit")

    r.e2e("cold_s") = coldS
    // the p50 sync latency: too few samples in a run for a tail percentile
    r.e2e("warm_s") = if (lat.nonEmpty) Stats.median(lat.toSeq) / 1e3 else Double.NaN
    r.layers("cdc.events_per_s") = lat.size * BurstSize / warmWallS
    r.layers("streaming.sync_samples") = lat.size
    r.layers("streaming.sync_max_ms") = if (lat.nonEmpty) lat.max else 0.0

    val committed = p.committedBatches
    checks(spark, o, r, p, slice, committed)
    for (a <- e0; b <- e1; c <- e2; d <- e3; ts <- p.timed) {
      ExecTrace.layers(r.layers, "", ExecTrace.delta(a, b), coldS, o.cores)
      ExecTrace.layers(r.layers, "_warm", ExecTrace.delta(c, d), warmWallS, o.cores)
      ExecTrace.perOp(r.layers, ExecTrace.delta(c, d), n - FirstWarm)
      layers(spark, r, p, lat.toSeq, ExecTrace.delta(c, d), ts, committed)
    }
  }

  /** Set-up: the CDC log, a seeded ts-ordered slice of it, encoded once
    * with `CdcWire.toWire` and cut into burst files. */
  private def encode(spark: SparkSession, o: Main.Opts, capacity: Int, startDraw: Double,
                     corruptPhase: Int, corruptPos: Array[Int]): Slice = {
    val log = cdcLog(spark, o)
    val total = log.count()
    // a small fixture (the self-test's) caps the slice at what it holds
    val need = math.min(capacity.toLong * BurstSize, total / BurstSize * BurstSize)
    require(need >= (FirstWarm + PassBursts) * BurstSize, s"CDC log has only $total events")
    val start = (startDraw * (total - need + 1)).toLong
    val lines = CdcWire.toWire(sliceOf(log, start, need))
      .select(to_json(struct(col("key"), col("value"))))
      .collect().map(_.getString(0))
    // toWire keeps the slice's (ts, event_id) order; a misordered replay
    // fails the snapshot check
    val corrupt = (0 until capacity).filter(_ % CorruptEvery == corruptPhase).toSet
    val bursts = lines.grouped(BurstSize).zipWithIndex.map { case (b, i) =>
      val msgs = if (corrupt(i)) {
        val (pre, post) = b.splitAt(corruptPos(i) min b.length)
        (pre :+ s"""{"key":"corrupt-$i","value":"{\\"emp_id\\": \\"$i\\", trunc"}""") ++ post
      } else b
      msgs.mkString("", "\n", "\n")
    }.toIndexedSeq
    Slice(start, bursts, corrupt)
  }

  private def cdcLog(spark: SparkSession, o: Main.Opts): DataFrame =
    Fixtures.employeeCdcLog(spark, s"${o.data}/${o.scale.getOrElse(Scale)}").withColumn("action_id", lit(0))

  private def sliceOf(log: DataFrame, start: Long, n: Long): DataFrame =
    log.orderBy(col("last_updated_at"), col("event_id")).offset(start.toInt).limit(n.toInt)

  /** One stream instance: its own wire/checkpoint/store/DLQ dirs. */
  final class Pipeline(spark: SparkSession, root: String, val timed: Option[TimedStore]) {
    private val wire = Paths.get(root, "wire")
    private val staging = Paths.get(root, "staging")
    private val commits = Paths.get(root, "ckpt", "commits")
    Files.createDirectories(wire)
    Files.createDirectories(staging)
    val store = new ParquetSnapshotStore(spark, s"$root/snapshot", Seq("emp_id"))
    val dlq = s"$root/dlq"
    val totals = s"$root/totals"
    var committedBatches = 0
    private var q: Option[StreamingQuery] = None

    def start(): Unit = if (q.isEmpty) {
      val sink: SnapshotStore = timed.map { t => t.wrap(store, Paths.get(root)); t }.getOrElse(store)
      q = Some(CdcStream.start(CdcSources.wireJsonStream(spark, wire.toString), sink, dlq,
        s"$root/ckpt", Trigger.ProcessingTime(0L), Some(totals)))
    }

    /** Publish burst `i` and wait for its commit; the visible-to-commit
      * latency in ms, or None if the batch did not commit. */
    def step(i: Int, content: String): Option[Double] = {
      start()
      val name = f"burst-$i%05d.json"
      val tmp = staging.resolve(name)
      Files.writeString(tmp, content)
      Files.move(tmp, wire.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      val visible = System.nanoTime()
      val commit = commits.resolve(committedBatches.toString)
      while (!Files.exists(commit)) {
        if (System.nanoTime() - visible > CommitTimeoutNs || q.exists(!_.isActive)) return None
        LockSupport.parkNanos(1000000L)
      }
      val l = (System.nanoTime() - visible) / 1e6
      timed.foreach(_.endBatch())
      committedBatches += 1
      Some(l)
    }

    def progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
      q.toSeq.flatMap(_.recentProgress.toSeq)

    private var finalProgress = Seq.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    /** Stops the stream once the last committed batch's progress is
      * recorded (it is reported just after the commit). */
    def stop(): Unit = q.foreach { s =>
      val deadline = System.nanoTime() + 10e9
      while (committedBatches > 0 && !progress.exists(_.batchId == committedBatches - 1) &&
          System.nanoTime() < deadline) LockSupport.parkNanos(1000000L)
      finalProgress = progress
      s.stop()
    }
    def dataProgress = finalProgress.filter(_.numInputRows > 0)
  }

  /** Untimed checks: the final snapshot equals `ApplyChanges.applyLog`
    * over the valid events consumed, totals equal a group-by of that
    * snapshot, and wire/valid/DLQ/corrupt counts reconcile. */
  private def checks(spark: SparkSession, o: Main.Opts, r: Result, p: Pipeline,
                     slice: Slice, committed: Int): Unit = {
    val consumed = sliceOf(cdcLog(spark, o), slice.start, committed.toLong * BurstSize)
    val split = Routing.validateSplit(consumed)
    val snap = p.store.load().getOrElse(spark.emptyDataFrame)
    val cols = snap.schema.fields.toSeq
    val expected = ApplyChanges.applyLog(split.valid, Seq("emp_id"), col("last_updated_at"),
      tieBreak = Seq(col("action_id"))).select(cols.map(f => col(f.name).cast(f.dataType)): _*)
    val snapRows = snap.collect().toSeq
    val expRows = expected.collect().toSeq
    val (missing, extra) = (expRows.diff(snapRows).size, snapRows.diff(expRows).size)
    r.check("snapshot_equals_applyLog", missing == 0 && extra == 0 && snapRows.nonEmpty,
      s"rows=${snapRows.size} missing=$missing extra=$extra")

    val byCity = snapRows.groupBy(_.getAs[String]("emp_city")).map { case (c, rs) =>
      (c, rs.map(_.getAs[Long]("emp_salary")).sum, rs.size.toLong)
    }.toSet
    val totals = spark.read.parquet(p.totals).collect().map(t =>
      (t.getAs[String]("emp_city"), t.getAs[Long]("total_salary"), t.getAs[Long]("n_emps"))).toSet
    r.check("totals_equal_groupby", totals == byCity,
      s"groups=${totals.size} differing=${(totals diff byCity).size + (byCity diff totals).size}")

    val nWire = p.dataProgress.map(nWireOf).sum
    val nCorruptSent = (0 until committed).count(slice.corrupt).toLong
    val published = committed.toLong * BurstSize + nCorruptSent
    val nValid = split.valid.count()
    val expectedDlq = split.invalid.count()
    val nDlq = countDir(spark, p.dlq)
    val nCorrupt = countDir(spark, p.dlq + "_corrupt")
    r.check("counts_reconcile",
      nWire == published && nWire == nValid + nDlq + nCorrupt &&
        nDlq == expectedDlq && nCorrupt == nCorruptSent,
      s"n_wire=$nWire published=$published n_valid=$nValid n_dlq=$nDlq " +
        s"(expected $expectedDlq) n_corrupt=$nCorrupt (expected $nCorruptSent)")
    r.detail("counts") = Map("n_wire" -> nWire, "n_valid" -> nValid, "n_dlq" -> nDlq,
      "n_corrupt" -> nCorrupt)
    r.layers("sinks.snapshot_rows") = snapRows.size.toDouble
  }

  private def nWireOf(pr: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
    Option(pr.observedMetrics.get(CdcStream.MetricsName)).map(_.getAs[Long]("n_wire")).getOrElse(0L)

  private def countDir(spark: SparkSession, dir: String): Long =
    if (Files.exists(Paths.get(dir))) spark.read.parquet(dir).count() else 0L

  /** Per-layer numbers of a traced run (warm bursts only). */
  private def layers(spark: SparkSession, r: Result, p: Pipeline, lat: Seq[Double],
                     ex: Map[String, Long], ts: TimedStore, committed: Int): Unit = {
    val warm = p.dataProgress.filter(_.batchId >= FirstWarm)
    def phase(k: String): Seq[Double] =
      warm.map(pr => Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val batches = ts.batches.drop(FirstWarm).toSeq
    val merge = batches.map(_.mergeMs)
    val totals = batches.map(_.totalsMs)
    val addBatch = phase("addBatch")
    val trig = phase("triggerExecution")
    val L = r.layers
    L("sources.latest_offset_ms") = med(phase("latestOffset"))
    L("sources.get_batch_ms") = med(phase("getBatch"))
    L("streaming.query_planning_ms") = med(phase("queryPlanning"))
    L("streaming.wal_commit_ms") = med(phase("walCommit"))
    L("streaming.add_batch_ms") = med(addBatch)
    L("streaming.commit_offsets_ms") = med(phase("commitOffsets"))
    L("streaming.trigger_ms") = med(trig)
    L("streaming.wait_ms") = med(lat.zip(trig).map { case (l, t) => l - t })
    L("sinks.merge_ms") = med(merge)
    L("sinks.totals_ms") = med(totals)
    L("cdc.route_ms") = med(addBatch.zip(merge.zip(totals)).map { case (a, (m, t)) => a - m - t })
    val events = warm.map(_.numInputRows).sum.toDouble
    L("sinks.bytes_written_per_event") = ex("output_bytes") / events.max(1)
    val dlqFiles = (FirstWarm until committed).map { b =>
      countFiles(Paths.get(s"${p.dlq}/batch=$b")) + countFiles(Paths.get(s"${p.dlq}_corrupt/batch=$b"))
    }
    L("sinks.files_written_per_batch") =
      med(batches.map(_.files.toDouble).zip(dlqFiles).map { case (a, b) => a + b })
    // layer self-times inside a trigger: the named phases should cover it
    val named = Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch",
      "commitOffsets").map(phase)
    val covered = named.transpose.map(_.sum).sum
    L("trace.gap_share") = if (trig.sum > 0) (trig.sum - covered) / trig.sum else 0.0
    r.check("layers_cover_wall", L("trace.gap_share").abs <= ExecTrace.GapBound,
      f"trigger phases cover ${covered}%.0f of ${trig.sum}%.0f ms (bound ${ExecTrace.GapBound * 100}%.0f%%)")
    val perBatch = warm.map { pr =>
      val b = pr.batchId.toInt
      Map("batch" -> b, "n_wire" -> nWireOf(pr),
        "n_dlq" -> countDir(spark, s"${p.dlq}/batch=$b"),
        "n_corrupt" -> countDir(spark, s"${p.dlq}_corrupt/batch=$b"),
        "phases_ms" -> pr.durationMs.asScala.map { case (k, v) => k -> v.longValue })
    }
    r.detail("per_batch") = perBatch
    Seq("n_wire", "n_dlq", "n_corrupt").foreach { k =>
      L(s"cdc.$k") = perBatch.map(_(k).asInstanceOf[Long]).sum.toDouble
    }
    L("cdc.n_valid") = L("cdc.n_wire") - L("cdc.n_dlq") - L("cdc.n_corrupt")
  }

  private def countFiles(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.count(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".")).toLong
      finally s.close()
    }

  /** The `sinks` span recorder: a delegating `SnapshotStore` that times
    * `merge` and `writeTotals` and counts the files they leave. */
  final class TimedStore extends SnapshotStore {
    final case class Batch(mergeMs: Double, totalsMs: Double, files: Long)
    private var inner: SnapshotStore = _
    private var root: Path = _
    private var mergeMs, totalsMs = 0.0
    val batches = mutable.ArrayBuffer.empty[Batch]

    def wrap(s: SnapshotStore, dir: Path): Unit = { inner = s; root = dir }
    def exists: Boolean = inner.exists
    def load(): Option[DataFrame] = inner.load()
    def merge(changes: DataFrame, tsCol: String, tieBreak: Seq[String]): Unit = {
      val t0 = System.nanoTime()
      inner.merge(changes, tsCol, tieBreak)
      mergeMs += (System.nanoTime() - t0) / 1e6
    }
    def writeTotals(totalsPath: String, groupCol: String, valueCol: String): Unit = {
      val t0 = System.nanoTime()
      inner.writeTotals(totalsPath, groupCol, valueCol)
      totalsMs += (System.nanoTime() - t0) / 1e6
    }
    /** Called by the harness after each commit (one batch in flight). */
    def endBatch(): Unit = {
      batches += Batch(mergeMs, totalsMs,
        countFiles(root.resolve("snapshot")) + countFiles(root.resolve("totals")))
      mergeMs = 0.0
      totalsMs = 0.0
    }
  }
}
