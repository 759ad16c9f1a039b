package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.cdc.{CdcEvent, CdcWire}
import graft.sinks.Sinks.ParquetSnapshotStore
import graft.streaming.CdcStream
import graft.cdc.Routing.Counts

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

  /** A wire message's JSON value; `salary = None` leaves the field out. */
  private def message(id: Long, dob: String, salary: Option[String], sec: Int): String =
    s"""{"action_id":"0","emp_id":"$id","emp_FN":"F$id","emp_LN":"L$id",""" +
      s""""emp_dob":"$dob","emp_city":"c${id % 5}",""" +
      salary.fold("")(v => s""""emp_salary":"$v",""") +
      f""""action":"insert","last_updated_at":"2024-01-01 00:00:$sec%02d"}"""

  private def wireBatch(values: Seq[String]) =
    values.zipWithIndex.map { case (v, i) => (i.toString, v) }.toDF("key", "value")

  private def rows(dir: String): Long =
    if (Files.exists(java.nio.file.Paths.get(dir))) spark.read.parquet(dir).count() else 0L

  test("routing is total: a missing or unparseable salary commits to the DLQ") {
    val root = Files.createTempDirectory("cdcpoison").toString
    val wireDir = java.nio.file.Paths.get(s"$root/wire")
    Files.createDirectories(wireDir)
    // no emp_salary: F2 is SQL NULL for it (dob and id pass); "abc":
    // a plain cast of it throws CAST_INVALID_INPUT under ANSI mode
    val burst = wireBatch(Seq(message(1, "2012-01-01", Some("5000"), 1),
      message(2, "2012-01-01", None, 2), message(3, "2012-01-01", Some("abc"), 3)))
      .select(to_json(struct(col("key"), col("value")))).as[String].collect()
    Files.write(wireDir.resolve("b1.json"), String.join("\n", burst: _*).getBytes)
    val store = new ParquetSnapshotStore(spark, s"$root/snap", Seq("emp_id"))
    val q = CdcStream.start(graft.sources.CdcSources.wireJsonStream(spark, wireDir.toString),
      store, s"$root/dlq", s"$root/ckpt")
    q.awaitTermination(120000)
    assert(q.exception.isEmpty, s"the stream died: ${q.exception}")
    assert(Files.exists(java.nio.file.Paths.get(s"$root/ckpt/commits/0")), "burst not committed")
    assert(store.load().get.select("emp_id").as[Long].collect().toSeq === Seq(1L))
    val dlq = spark.read.parquet(s"$root/dlq")
    assert(dlq.select("emp_id").as[Long].collect().toSet === Set(2L, 3L))
    assert(dlq.where(col("emp_salary").isNotNull).count() === 0)
  }

  /** A 100-event batch: ids `from` .. `from + 99`, every fourth with a
    * 1990 dob (DLQ), so a quarter fails validation like the CDC log. */
  private def hundred(from: Long): Seq[String] =
    (0 until 100).map { i =>
      message(from + i, if (i % 4 == 0) "1990-01-01" else "2012-01-01", Some(s"${5000 + i}"), i % 60)
    }

  test("applyBatch's branch counts reconcile with the wire count") {
    val root = Files.createTempDirectory("cdccounts").toString
    val store = new ParquetSnapshotStore(spark, s"$root/snap", Seq("emp_id"))
    val dlq = s"$root/dlq"
    // 97 events, a corrupt line, a salary-less and an unparseable one
    val values = hundred(1).take(97) ++ Seq("not json",
      message(901, "2012-01-01", None, 1), message(902, "2012-01-01", Some("abc"), 2))
    val n = CdcStream.applyBatch(wireBatch(values), store, dlq, Some(s"$root/totals"), 0L)
    assert(n.wire === values.size.toLong)
    assert(n === Counts(corrupt = 1, invalid = 25 + 2, valid = 72), s"counts $n")
    assert(rows(s"${dlq}_corrupt/batch=0") === n.corrupt)
    assert(rows(s"$dlq/batch=0") === n.invalid)
    assert(store.load().get.count() === n.valid)
  }

  test("a warm applyBatch with DLQ rows, totals and a snapshot runs 6 stages") {
    val root = Files.createTempDirectory("cdcstages").toString
    val store = new ParquetSnapshotStore(spark, s"$root/snap", Seq("emp_id"))
    def apply(from: Long, id: Long): Counts = CdcStream.applyBatch(wireBatch(hundred(from)),
      store, s"$root/dlq", Some(s"$root/totals"), id)
    apply(1, 0L)
    // one routing job, the DLQ write, the merge (one window shuffle
    // over the stored rows and the batch, window + write) and totals
    // (shuffle, write)
    val (n, stages) = Capture.stages(spark)(apply(51, 1L))
    assert(n === Counts(corrupt = 0, invalid = 25, valid = 75))
    assert(stages.size === 6, stages.map(_.name).mkString("stages: ", "; ", ""))
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
