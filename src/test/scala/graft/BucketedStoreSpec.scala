package graft

import java.nio.file.{Files, Path, Paths}
import graft.sinks.Sinks.{ParquetSnapshotStore, SnapshotStore}

/** The snapshot store: recovery on open from a crash inside the dir
  * swap, and a totals table that follows a snapshot emptied by
  * deletes. */
class BucketedStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmpdir(): String =
    Files.createTempDirectory("bucketed").toString + "/snap"

  private def batch(rows: (Int, String, Long, String)*) =
    rows.toDF("emp_id", "emp_city", "ts", "action")

  private val crashBatches = Seq(
    batch((1 to 12).map(i => (i, s"c${i % 3}", i.toLong, "insert")): _*),
    batch((1, "c9", 50L, "update"), (2, "c0", 50L, "delete"), (13, "c1", 50L, "insert")))

  /** Snapshot rows and totals after every batch merges with totals
    * written; `crash` runs between the two batches and returns the
    * store that merges the second one. */
  private def runBatches(open: String => SnapshotStore, path: String)(
      crash: SnapshotStore => SnapshotStore): (Set[(Int, String, Long)], Map[String, (Long, Long)]) = {
    val totals = path + "_totals"
    val first = open(path)
    first.merge(crashBatches(0), "ts")
    first.writeTotals(totals, "emp_city", "ts")
    val second = crash(first)
    second.merge(crashBatches(1), "ts")
    second.writeTotals(totals, "emp_city", "ts")
    (second.load().get.select("emp_id", "emp_city", "ts").as[(Int, String, Long)].collect().toSet,
      spark.read.parquet(totals).select("emp_city", "total_salary", "n_emps")
        .as[(String, Long, Long)].collect().map { case (k, s, n) => k -> (s, n) }.toMap)
  }

  /** The state a crash between swapInto's two moves leaves behind. */
  private def cutSwap(target: Path): Unit =
    Files.move(target, Paths.get(target.toString + ".old"))

  test("simple store: a crash inside the snapshot swap recovers on open") {
    val open = (p: String) => new ParquetSnapshotStore(spark, p, Seq("emp_id"))
    val want = runBatches(open, tmpdir())(identity)
    val path = tmpdir()
    val got = runBatches(open, path) { _ =>
      cutSwap(Paths.get(path))
      open(path)
    }
    assert(got === want)
    assert(!Files.exists(Paths.get(path + ".old")))
  }

  test("simple store: deleting every key leaves an empty totals table") {
    val path = tmpdir()
    val totals = path + "_totals"
    val store = new ParquetSnapshotStore(spark, path, Seq("emp_id"))
    store.merge(batch((1, "a", 1L, "insert"), (2, "b", 1L, "insert")), "ts")
    store.writeTotals(totals, "emp_city", "ts")
    assert(spark.read.parquet(totals).count() === 2)
    store.merge(batch((1, "a", 2L, "delete"), (2, "b", 2L, "delete")), "ts")
    assert(store.load().get.count() === 0)
    // the totals table follows the empty snapshot instead of going stale
    store.writeTotals(totals, "emp_city", "ts")
    val after = spark.read.parquet(totals)
    assert(after.columns.toSeq === Seq("emp_city", "total_salary", "n_emps"))
    assert(after.count() === 0)
  }
}
