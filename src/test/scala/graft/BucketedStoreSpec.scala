package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._
import graft.sinks.Sinks.{BucketedSnapshotStore, ParquetSnapshotStore, SnapshotStore}

/** BucketedSnapshotStore: merge correctness, touched-bucket-only
  * rewrites, whole-bucket deletion, and incremental D2 totals; plus
  * recovery on open from a crash inside a dir swap, for both stores. */
class BucketedStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmpdir(): String =
    Files.createTempDirectory("bucketed").toString + "/snap"

  private def batch(rows: (Int, String, Long, String)*) =
    rows.toDF("emp_id", "emp_city", "ts", "action")

  /** bucket dir → sorted parquet file names (a rewrite changes the
    * random part-file names). */
  private def listing(path: String): Map[String, Seq[String]] = {
    val root = Paths.get(path)
    if (!Files.exists(root)) Map.empty
    else {
      val it = Files.list(root).iterator()
      var m = Map.empty[String, Seq[String]]
      while (it.hasNext) {
        val d = it.next()
        val name = d.getFileName.toString
        if (name.matches("b=\\d+")) {
          val files = Files.list(d).iterator()
          var fs = List.empty[String]
          while (files.hasNext) fs ::= files.next().getFileName.toString
          m += name -> fs.sorted
        }
      }
      m
    }
  }

  test("merge applies insert/update/delete and only rewrites touched buckets") {
    val path = tmpdir()
    val store = new BucketedSnapshotStore(spark, path, Seq("emp_id"), numBuckets = 8)

    store.merge(batch((1 to 12).map(i => (i, s"c${i % 3}", 1L, "insert")): _*), "ts")
    assert(store.load().get.count() === 12)
    val before = listing(path)
    assert(before.nonEmpty)

    store.merge(batch((1, "newcity", 2L, "update"), (2, "c2", 2L, "delete")), "ts")
    val touched = store.lastTouched.map(b => s"b=$b").toSet
    assert(touched.nonEmpty && touched.size <= 2)
    val after = listing(path)
    before.foreach { case (dir, files) =>
      if (touched.contains(dir)) assert(after.getOrElse(dir, Nil) !== files,
        s"touched bucket $dir should have been rewritten")
      else assert(after(dir) === files, s"untouched bucket $dir was rewritten")
    }

    val snap = store.load().get.select("emp_id", "emp_city").as[(Int, String)]
      .collect().toMap
    assert(snap.size === 11)
    assert(snap(1) === "newcity")
    assert(!snap.contains(2))
  }

  test("deleting every key removes all bucket dirs") {
    val path = tmpdir()
    val totals = path + "_totals"
    val store = new BucketedSnapshotStore(spark, path, Seq("emp_id"), numBuckets = 4)
    store.merge(batch((1, "a", 1L, "insert"), (2, "b", 1L, "insert")), "ts")
    assert(store.exists)
    store.writeTotals(totals, "emp_city", "ts")
    assert(spark.read.parquet(totals).count() === 2)
    store.merge(batch((1, "a", 2L, "delete"), (2, "b", 2L, "delete")), "ts")
    assert(!store.exists && store.load().isEmpty)
    // the totals table follows the empty snapshot instead of going stale
    store.writeTotals(totals, "emp_city", "ts")
    val after = spark.read.parquet(totals)
    assert(after.columns.toSeq === Seq("emp_city", "total_salary", "n_emps"))
    assert(after.count() === 0)
  }

  test("incremental totals equal a full recompute after every merge") {
    val path = tmpdir()
    val totals = path + "_totals"
    val store = new BucketedSnapshotStore(spark, path, Seq("emp_id"), numBuckets = 8)

    def check(): Unit = {
      store.writeTotals(totals, "emp_city", "ts")
      val got = spark.read.parquet(totals)
        .select("emp_city", "total_salary", "n_emps")
        .as[(String, Long, Long)].collect().map { case (k, s, n) => k -> (s, n) }.toMap
      val want = store.load().get.groupBy($"emp_city")
        .agg(sum($"ts").as("s"), count(lit(1)).as("n"))
        .as[(String, Long, Long)].collect().map { case (k, s, n) => k -> (s, n) }.toMap
      assert(got === want)
    }

    store.merge(batch((1 to 10).map(i => (i, s"c${i % 2}", i.toLong * 100, "insert")): _*), "ts")
    check()
    store.merge(batch((3, "c1", 5000L, "update"), (4, "c0", 5000L, "delete")), "ts")
    check()
    // two merges with no totals write in between: staleness must
    // accumulate across both, not just the latest merge
    store.merge(batch((11, "c9", 7L, "insert")), "ts")
    store.merge(batch((5, "c1", 9999L, "update")), "ts")
    check()
  }

  test("a fresh instance does not trust stale on-disk totals partials") {
    val path = tmpdir(); val totals = path + "_totals"
    val a = new BucketedSnapshotStore(spark, path, Seq("emp_id"), numBuckets = 4)
    a.merge(batch((1, "c0", 100L, "insert"), (2, "c1", 200L, "insert")), "ts")
    a.writeTotals(totals, "emp_city", "ts") // partials on disk reflect this state
    a.merge(batch((3, "c0", 700L, "insert")), "ts") // partials now stale on disk
    // restart: a NEW instance with no in-memory staleness knowledge
    val b = new BucketedSnapshotStore(spark, path, Seq("emp_id"), numBuckets = 4)
    b.writeTotals(totals, "emp_city", "ts")
    val got = spark.read.parquet(totals).select("emp_city", "total_salary")
      .as[(String, Long)].collect().toMap
    assert(got === Map("c0" -> 800L, "c1" -> 200L))
  }

  test("bucketed and simple stores converge to the same snapshot") {
    val pathB = tmpdir(); val pathS = tmpdir()
    val b = new BucketedSnapshotStore(spark, pathB, Seq("emp_id"), numBuckets = 8)
    val s = new graft.sinks.Sinks.ParquetSnapshotStore(spark, pathS, Seq("emp_id"))
    val batches = Seq(
      batch((1, "a", 1L, "insert"), (2, "b", 1L, "insert"), (3, "c", 1L, "insert")),
      batch((2, "b2", 2L, "update"), (3, "c", 2L, "delete")),
      batch((3, "c3", 3L, "insert"), (4, "d", 3L, "insert")))
    batches.foreach { bt => b.merge(bt, "ts"); s.merge(bt, "ts") }
    val got = b.load().get.select("emp_id", "emp_city", "ts").as[(Int, String, Long)]
      .collect().toSet
    val want = s.load().get.select("emp_id", "emp_city", "ts").as[(Int, String, Long)]
      .collect().toSet
    assert(got === want)
  }

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

  test("bucketed store: a crash inside a bucket and partials swap recovers on open") {
    val open = (p: String) => new BucketedSnapshotStore(spark, p, Seq("emp_id"), numBuckets = 4)
    val want = runBatches(open, tmpdir())(identity)
    val path = tmpdir()
    val cut = "b=0" // cutSwap throws if the first batch left it empty
    val got = runBatches(open, path) { _ =>
      cutSwap(Paths.get(path, cut))
      cutSwap(Paths.get(path + "_parts", cut))
      open(path)
    }
    assert(got === want)
    assert(!Files.exists(Paths.get(path, cut + ".old")))
  }
}
