package graft

import java.nio.file.Files
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.functions._
import graft.cdc.ApplyChanges
import graft.sinks.Sinks.ParquetSnapshotStore

/** Property-style tests: the distributed apply operators must equal a
  * row-at-a-time fold in event order — the reference's execution model
  * (consumer.py:70-91), implemented here as a plain Scala Map oracle.
  */
case class Ev(emp_id: Long, seq: Long, action: String, payload: Long)

class ApplyChangesOracleSpec extends SparkSpec {
  import spark.implicits._

  /** Reference-procedural fold: insert-if-absent, update-if-present,
    * delete, unknown no-op. */
  private def foldOracle(events: Seq[Ev]): Map[Long, Ev] = {
    val state = mutable.Map[Long, Ev]()
    events.sortBy(_.seq).foreach { e =>
      e.action match {
        case "insert" => if (!state.contains(e.emp_id)) state(e.emp_id) = e
        case "update" => if (state.contains(e.emp_id)) state(e.emp_id) = e
        case "delete" => state.remove(e.emp_id)
        case _ => ()
      }
    }
    state.toMap
  }

  test("applyLogDispatch == procedural fold on random ill-formed logs") {
    val rnd = new Random(42)
    val actions = Seq("insert", "update", "delete", "insert", "update", "REORG")
    for (trial <- 1 to 3) {
      val events = (0 until 2000).map { i =>
        Ev(rnd.nextInt(40).toLong, i.toLong, actions(rnd.nextInt(actions.size)), rnd.nextLong(1000000))
      }
      val expected = foldOracle(events).map { case (k, e) => k -> e.seq }
      val got = ApplyChanges.applyLogDispatch(events.toDF(), Seq("emp_id"), col("seq"))
        .select("emp_id", "seq").as[(Long, Long)].collect().toMap
      assert(got === expected, s"trial $trial")
    }
  }

  test("applyLog (latest-wins) == fold on well-formed (trigger-shaped) logs") {
    val rnd = new Random(7)
    for (trial <- 1 to 3) {
      val alive = mutable.Set[Long]()
      val events = (0 until 2000).map { i =>
        val k = rnd.nextInt(40).toLong
        val action =
          if (!alive(k)) { alive += k; "insert" }
          else if (rnd.nextInt(4) == 0) { alive -= k; "delete" }
          else "update"
        Ev(k, i.toLong, action, rnd.nextLong(1000000))
      }
      val expected = foldOracle(events).map { case (k, e) => k -> e.seq }
      val got = ApplyChanges.applyLog(events.toDF(), Seq("emp_id"), col("seq"))
        .select("emp_id", "seq").as[(Long, Long)].collect().toMap
      assert(got === expected, s"trial $trial")
      val gotDispatch = ApplyChanges.applyLogDispatch(events.toDF(), Seq("emp_id"), col("seq"))
        .select("emp_id", "seq").as[(Long, Long)].collect().toMap
      assert(gotDispatch === expected, s"dispatch trial $trial")
    }
  }

  test("incremental merge over k batches == one-shot fold (any batch split)") {
    val rnd = new Random(11)
    val alive = mutable.Set[Long]()
    val events = (0 until 1500).map { i =>
      val k = rnd.nextInt(30).toLong
      val action =
        if (!alive(k)) { alive += k; "insert" }
        else if (rnd.nextInt(4) == 0) { alive -= k; "delete" }
        else "update"
      Ev(k, i.toLong, action, rnd.nextLong(1000000))
    }
    val expected = foldOracle(events).map { case (k, e) => k -> e.seq }
    for (nBatches <- Seq(2, 5)) {
      val store = new ParquetSnapshotStore(spark,
        Files.createTempDirectory("kbatch").resolve("snap").toString, Seq("emp_id"))
      events.grouped(math.ceil(events.size.toDouble / nBatches).toInt)
        .foreach(b => store.merge(b.toDF(), "seq"))
      val got = store.load().get.select("emp_id", "seq").as[(Long, Long)].collect().toMap
      assert(got === expected, s"nBatches=$nBatches")
    }
  }

  test("snapshot store == applyLog over the whole log: any split, arrival order, re-sends") {
    // the at-least-once producer's contract (producer.py:17-76): batches
    // arrive in any order and may repeat earlier events, yet the store
    // must end at "latest event per key wins" over the whole log
    val rnd = new Random(31)
    val actions = Seq("insert", "update", "delete", "update")
    // ts alone ties (three sequence ids per tick); (ts, seq) is total
    def frame(evs: Seq[Ev]) = evs.toDF()
      .withColumn("ts", expr("seq div 3"))
      .withColumn("city", expr("concat('c', emp_id % 4)"))
    val cols = Seq("emp_id", "seq", "action", "payload", "ts", "city").map(col)
    for (trial <- 1 to 3) {
      val events = (0 until 600).map { i =>
        Ev(rnd.nextInt(40).toLong, i.toLong, actions(rnd.nextInt(actions.size)), rnd.nextLong(1000))
      }
      val arrival = rnd.shuffle(events ++ events.filter(_ => rnd.nextInt(5) == 0))
      val cuts = (Seq(0, arrival.size) ++ Seq.fill(2 + rnd.nextInt(5))(rnd.nextInt(arrival.size)))
        .distinct.sorted
      val root = Files.createTempDirectory("storeprop")
      val store = new ParquetSnapshotStore(spark, root.resolve("snap").toString, Seq("emp_id"))
      val totals = root.resolve("totals").toString
      cuts.sliding(2).foreach { case Seq(a, b) =>
        store.merge(frame(arrival.slice(a, b)), "ts", Seq("seq"))
        store.writeTotals(totals, "city", "payload")
      }
      val want = ApplyChanges.applyLog(frame(events), Seq("emp_id"), col("ts"),
        tieBreak = Seq(col("seq")))
      val got = store.load().get.select(cols: _*).collect().map(_.toString).toSet
      assert(got === want.select(cols: _*).collect().map(_.toString).toSet,
        s"trial $trial, ${cuts.size - 1} batches")
      val byCity = want.groupBy("city").agg(sum("payload"), count(lit(1)))
        .as[(String, Long, Long)].collect().toSet
      assert(spark.read.parquet(totals).as[(String, Long, Long)].collect().toSet === byCity,
        s"trial $trial totals")
    }
  }

  test("firstPerKey keeps the earliest event per key") {
    val events = Seq(Ev(1, 5, "insert", 10), Ev(1, 2, "insert", 20), Ev(2, 9, "insert", 30))
    val got = ApplyChanges.firstPerKey(events.toDF(), Seq("emp_id"), col("seq"))
      .select("emp_id", "seq").as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 2L, 2L -> 9L))
  }

  test("time travel at the end of time equals the plain apply") {
    // cdc_time_travel cuts at a fixed timestamp; the operator identity
    // worth pinning is that the SAME construction with the cutoff past
    // the last event reproduces cdc_apply_changes exactly
    val dir = "/root/testdata/sf0.001"
    val log = graft.cdc.Routing.validateSplit(
      graft.cdc.Fixtures.employeeCdcLog(spark, dir)).valid
    val full = ApplyChanges.applyLog(log, Seq("emp_id"),
        col("last_updated_at"), tieBreak = Seq(col("event_id")))
      .select("emp_id", "emp_salary", "action")
      .collect().map(_.toString).sorted.toSeq
    val cutAtEnd = ApplyChanges.applyLog(
        log.where(col("last_updated_at") <= lit("2099-01-01").cast("timestamp")),
        Seq("emp_id"), col("last_updated_at"), tieBreak = Seq(col("event_id")))
      .select("emp_id", "emp_salary", "action")
      .collect().map(_.toString).sorted.toSeq
    assert(full === cutAtEnd)
  }

  test("SCD2 history partitions each key's timeline: no gaps, no overlaps, one current") {
    // invariant over the registered query's real output: per key,
    // versions ordered by version number chain exactly —
    // valid_to(v_n) == valid_from(v_n+1), the last valid_to is NULL,
    // and at most one version is current (zero when the key ended in
    // a delete)
    val hist = SparkEntry.queries("cdc_scd2_history")(spark, "/root/testdata/sf0.001")
      .select(col("emp_id"), col("version"), col("valid_from"), col("valid_to"),
        col("is_current"), col("action"))
      .as[(Long, Long, java.sql.Timestamp, Option[java.sql.Timestamp], Boolean, String)]
      .collect()
    assert(hist.nonEmpty)
    hist.groupBy(_._1).foreach { case (k, vs) =>
      val sorted = vs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to vs.length).toSeq,
        s"key $k: version numbers must be dense from 1")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4.contains(b._3),
            s"key $k: version ${a._2} must close exactly at version ${b._2}'s start")
        case _ => ()
      }
      assert(sorted.last._4.isEmpty, s"key $k: last version must be open-ended")
      val current = sorted.filter(_._5)
      assert(current.length <= 1, s"key $k: at most one current version")
      assert((current.length == 1) == (sorted.last._6 != "delete"),
        s"key $k: current exists iff the key did not end in a delete")
    }
  }

  test("snapshotDiff == two latest-wins reconstructions on random logs (with ts ties)") {
    val rnd = new Random(23)
    val actions = Seq("insert", "update", "delete", "update", "REORG")
    // tsDiv = 4 collapses every 4 sequence ids onto one timestamp —
    // the conditional last must resolve ties via the tieBreak, exactly
    // like the fixture's (last_updated_at, event_id) order
    for (tsDiv <- Seq(1L, 4L)) {
      val events = (0 until 2000).map { i =>
        // small payload domain so unchanged present-present keys occur
        Ev(rnd.nextInt(50).toLong, i.toLong,
          actions(rnd.nextInt(actions.size)), rnd.nextLong(40))
      }
      val t1 = 1000L / tsDiv
      val df = events.toDF().withColumn("ts", expr(s"seq div $tsDiv"))
      val got = ApplyChanges.snapshotDiff(df, Seq("emp_id"), col("ts"),
          lit(t1), Seq("payload"), tieBreak = Seq(col("seq")))
        .select(col("emp_id"), col("status"), col("changed_cols"),
          col("s1.payload").as("p1"), col("s2.payload").as("p2"))
        .collect()
        .map(r => r.getAs[Long]("emp_id") -> (r.getAs[String]("status"),
          r.getAs[String]("changed_cols"),
          if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4))).toMap
      val expect = events.groupBy(_.emp_id).flatMap { case (k, evs) =>
        val sorted = evs.sortBy(e => (e.seq / tsDiv, e.seq))
        val s2 = sorted.last
        val s1 = sorted.filter(_.seq / tsDiv <= t1).lastOption
        val pr1 = s1.exists(_.action != "delete")
        val pr2 = s2.action != "delete"
        val ch = s1.exists(_.payload != s2.payload)
        val status =
          if (!pr1 && pr2) Some("added")
          else if (pr1 && !pr2) Some("removed")
          else if (pr1 && pr2 && ch) Some("changed")
          else None
        status.map(st => k -> (st, if (st == "changed") "payload" else "",
          s1.map(_.payload).getOrElse(-1L), s2.payload))
      }
      assert(got === expect, s"tsDiv $tsDiv")
      // the random domain genuinely exercises all three statuses and
      // drops some keys (unchanged / never-present)
      assert(got.values.map(_._1).toSet == Set("added", "removed", "changed"),
        s"tsDiv $tsDiv statuses")
      assert(got.size < events.map(_.emp_id).distinct.size,
        s"tsDiv $tsDiv: some keys must be unchanged and dropped")
    }
  }
}
