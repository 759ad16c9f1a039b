package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cdc._
import graft.sinks.Sinks.ParquetSnapshotStore

/** End-to-end replica of the reference DAG's 7-mutation scenario
  * (airflow_dags/project2_dag.py:99-135; FIXTURES.md §1): expected
  * destination = exactly the Emma Wood row, DLQ = 3 events.
  */
class CdcGoldenSpec extends SparkSpec {
  import spark.implicits._

  private def ts(i: Int) = Timestamp.valueOf(f"2024-01-01 00:00:0$i")

  lazy val golden: DataFrame = Seq(
    CdcEvent(0, 1L, "Alice", "Johnson", "2012-04-10", "San Francisco", 80000L, "insert", ts(1)),
    CdcEvent(0, 2L, "Emma", "Wood", "2015-07-01", "Boston", 72000L, "insert", ts(2)),
    CdcEvent(0, 3L, "Too", "Low", "2000-01-01", "LA", 50L, "insert", ts(3)),
    CdcEvent(0, 4L, "Too", "Old", "1900-01-01", "San Jose", 50000L, "insert", ts(4)),
    CdcEvent(0, -100L, "Wrong", "ID", "2000-01-01", "Chicago", 45000L, "insert", ts(5)),
    CdcEvent(0, 1L, "Alice", "Johnson", "2012-04-10", "San Francisco", 75000L, "update", ts(6)),
    CdcEvent(0, 1L, "Alice", "Johnson", "2012-04-10", "San Francisco", 75000L, "delete", ts(7))
  ).toDF()

  test("validation split routes the 3 seeded-invalid events to DLQ") {
    val split = Routing.validateSplit(golden)
    assert(split.invalid.count() === 3)
    assert(split.invalid.select("emp_id").as[Long].collect().toSet === Set(3L, 4L, -100L))
    assert(split.valid.count() === 4)
  }

  test("applyLog (latest-wins) yields exactly the Emma Wood row") {
    val snap = ApplyChanges.applyLog(Routing.validateSplit(golden).valid,
      Seq("emp_id"), col("last_updated_at"))
    val rows = snap.select("emp_id", "emp_FN", "emp_LN", "emp_salary").collect()
    assert(rows.length === 1)
    assert(rows.head.getLong(0) === 2L)
    assert(rows.head.getString(1) === "Emma")
    assert(rows.head.getLong(3) === 72000L)
  }

  test("applyLogDispatch agrees on the golden (well-formed) log") {
    val snap = ApplyChanges.applyLogDispatch(Routing.validateSplit(golden).valid,
      Seq("emp_id"), col("last_updated_at"))
    val rows = snap.select("emp_id", "emp_LN").collect()
    assert(rows.length === 1 && rows.head.getLong(0) === 2L)
  }

  private def store(): ParquetSnapshotStore = new ParquetSnapshotStore(spark,
    Files.createTempDirectory("golden").resolve("snap").toString, Seq("emp_id"))

  test("incremental merge across two batches matches the one-shot fold") {
    val valid = Routing.validateSplit(golden).valid
    val s = store()
    s.merge(valid.where(col("last_updated_at") <= ts(5)), "last_updated_at")
    s.merge(valid.where(col("last_updated_at") > ts(5)), "last_updated_at")
    assert(s.load().get.select("emp_id").as[Long].collect().toSeq === Seq(2L))
  }

  test("delete of an absent key is a no-op in the merge") {
    val s = store()
    s.merge(Seq((2L, "Emma", "insert", 1L)).toDF("emp_id", "emp_FN", "action", "ts"), "ts")
    s.merge(Seq((99L, "Ghost", "delete", 2L)).toDF("emp_id", "emp_FN", "action", "ts"), "ts")
    assert(s.load().get.select("emp_id").as[Long].collect().toSeq === Seq(2L))
  }
}
