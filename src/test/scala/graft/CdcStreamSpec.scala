package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.cdc.{CdcEvent, CdcWire}
import graft.sinks.Sinks.ParquetSnapshotStore
import graft.streaming.CdcStream

/** Streaming pipeline: wire JSON files → decode → split → DLQ + snapshot
  * merge, via the real `writeStream.foreachBatch` path with
  * Trigger.AvailableNow (the reference's externally-scheduled burst,
  * SURVEY §2.9).
  */
class CdcStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(i: Int) = Timestamp.valueOf(f"2024-01-01 00:00:0$i")

  test("two-batch streaming run reaches the golden end-state") {
    goldenStreamingRun(root => new ParquetSnapshotStore(spark, s"$root/snapshot", Seq("emp_id")))
  }

  private def goldenStreamingRun(
      mkStore: String => graft.sinks.Sinks.SnapshotStore): Unit = {
    val root = Files.createTempDirectory("cdcstream").toString
    val wireDir = s"$root/wire"
    Files.createDirectories(java.nio.file.Paths.get(wireDir))

    val batch1 = Seq(
      CdcEvent(0, 1L, "Alice", "Johnson", "2012-04-10", "San Francisco", 80000L, "insert", ts(1)),
      CdcEvent(0, 2L, "Emma", "Wood", "2015-07-01", "Boston", 72000L, "insert", ts(2)),
      CdcEvent(0, 3L, "Too", "Low", "2000-01-01", "LA", 50L, "insert", ts(3)),
      CdcEvent(0, 4L, "Too", "Old", "1900-01-01", "San Jose", 50000L, "insert", ts(4)),
      CdcEvent(0, -100L, "Wrong", "ID", "2000-01-01", "Chicago", 45000L, "insert", ts(5)))
    val batch2 = Seq(
      CdcEvent(0, 1L, "Alice", "Johnson", "2012-04-10", "San Francisco", 75000L, "update", ts(6)),
      CdcEvent(0, 1L, "Alice", "Johnson", "2012-04-10", "San Francisco", 75000L, "delete", ts(7)))

    // write each batch as one wire-format JSON file; later mod-time on
    // the second file fixes processing order under maxFilesPerTrigger=1
    def writeWire(events: Seq[CdcEvent], name: String): Unit = {
      val lines = CdcWire.toWire(events.toDF())
        .select(to_json(struct(col("key"), col("value"))))
        .as[String].collect()
      Files.write(java.nio.file.Paths.get(s"$wireDir/$name"),
        String.join("\n", lines: _*).getBytes)
    }
    writeWire(batch1, "b1.json")
    Thread.sleep(1100)
    writeWire(batch2, "b2.json")

    val store = mkStore(root)
    val wire = graft.sources.CdcSources.wireJsonStream(spark, wireDir, maxFilesPerTrigger = 1)
    val q = CdcStream.start(wire, store, s"$root/dlq", s"$root/ckpt",
      totalsPath = Some(s"$root/totals"))
    q.awaitTermination(120000)

    // per-batch observed metrics reached the progress reports: the
    // inline `observe` node counted every wire message with no extra pass
    val observed = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get(CdcStream.MetricsName)))
      .map(_.getAs[Long]("n_wire"))
    assert(observed.sum === 7L, s"observed wire counts per batch: $observed")

    val snap = store.load().get
    val rows = snap.select("emp_id", "emp_FN", "emp_salary").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(2L))
    assert(rows.head.getString(1) === "Emma")
    val dlq = spark.read.parquet(s"$root/dlq")
    assert(dlq.count() === 3)
    assert(dlq.select("emp_id").as[Long].collect().toSet === Set(3L, 4L, -100L))
    // D2 aggregate table tracked the snapshot: only Emma's city remains
    val totals = spark.read.parquet(s"$root/totals").collect()
    assert(totals.length === 1)
    assert(totals.head.getAs[String]("emp_city") === "Boston")
    assert(totals.head.getAs[Long]("total_salary") === 72000L)
  }

  test("checkpoint restart resumes at the committed offset without re-applying") {
    val root = Files.createTempDirectory("cdcrestart").toString
    val wireDir = s"$root/wire"
    Files.createDirectories(java.nio.file.Paths.get(wireDir))
    val store = new ParquetSnapshotStore(spark, s"$root/snap", Seq("emp_id"))

    def writeWire(events: Seq[CdcEvent], name: String): Unit = {
      val lines = CdcWire.toWire(events.toDF())
        .select(to_json(struct(col("key"), col("value")))).as[String].collect()
      Files.write(java.nio.file.Paths.get(s"$wireDir/$name"),
        String.join("\n", lines: _*).getBytes)
    }
    val totals = java.nio.file.Paths.get(s"$root/totals")
    def run(): Unit = {
      val wire = graft.sources.CdcSources.wireJsonStream(spark, wireDir, maxFilesPerTrigger = 1)
      val q = CdcStream.start(wire, store, s"$root/dlq", s"$root/ckpt",
        totalsPath = Some(totals.toString))
      q.awaitTermination(120000)
    }
    def totalSalary(): Long =
      spark.read.parquet(totals.toString).select("total_salary").as[Long].collect().sum

    writeWire(Seq(
      CdcEvent(0, 1L, "Ann", "A", "2012-01-01", "SF", 50000L, "insert", ts(1)),
      CdcEvent(0, 9L, "Bad", "Dob", "1900-01-01", "LA", 50000L, "insert", ts(2))), "b1.json")
    run() // first process: applies 1, routes 9 to DLQ; commits offsets
    assert(store.load().get.select("emp_id").as[Long].collect().toSeq === Seq(1L))
    assert(spark.read.parquet(s"$root/dlq").count() === 1)

    Thread.sleep(1100)
    writeWire(Seq(
      CdcEvent(0, 1L, "Ann", "A", "2012-01-01", "SF", 60000L, "update", ts(3))), "b2.json")
    run() // RESTART with the same checkpoint: only b2 is processed
    val snap = store.load().get.select("emp_id", "emp_salary").as[(Long, Long)]
      .collect().toMap
    assert(snap === Map(1L -> 60000L))
    // b1's invalid row was NOT replayed: still exactly one DLQ record
    assert(spark.read.parquet(s"$root/dlq").count() === 1)
    assert(totalSalary() === 60000L)

    // the state a totals swap cut between its two moves leaves: only
    // totals.old. Opening the stream restores it, even with nothing to
    // process
    Files.move(totals, java.nio.file.Paths.get(s"$totals.old"))
    run()
    assert(totalSalary() === 60000L)
  }

  test("corrupt wire messages are quarantined, not dropped") {
    val root = Files.createTempDirectory("cdccorrupt").toString
    val store = new ParquetSnapshotStore(spark, s"$root/snap", Seq("emp_id"))
    val batch = Seq(
      ("1", """{"action_id":"0","emp_id":"1","emp_FN":"A","emp_LN":"B","emp_dob":"2012-04-10","emp_city":"SF","emp_salary":"80000","action":"insert","last_updated_at":"2024-01-01 00:00:01"}"""),
      ("2", "this is not json at all"))
      .toDF("key", "value")
    CdcStream.applyBatch(batch, store, s"$root/dlq", None, batchId = 0L)
    assert(store.load().get.select("emp_id").as[Long].collect().toSeq === Seq(1L))
    assert(spark.read.parquet(s"$root/dlq_corrupt").count() === 1)
  }

  test("wire codec round-trips all fields (P2/P3)") {
    val events = Seq(
      CdcEvent(0, 42L, "Ann", "Lee", "2010-05-06", "Oslo", 1234L, "INSERT", ts(1)))
    val back = CdcWire.fromWire(CdcWire.toWire(events.toDF()))
    val r = back.collect().head
    assert(r.getAs[Long]("emp_id") === 42L)
    assert(r.getAs[String]("emp_FN") === "Ann")
    assert(r.getAs[String]("action") === "insert") // P5 lowercased
    assert(r.getAs[Long]("emp_salary") === 1234L)
    assert(r.getAs[Timestamp]("last_updated_at") === ts(1))
    assert(!r.getAs[Boolean]("corrupt"))
  }
}
