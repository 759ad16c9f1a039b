package graft

import org.apache.spark.sql.functions._
import graft.streaming.Monitors

/** Streaming approximate distinct users ([[Monitors.distinctCountBatch]]):
  * the mergeable-sketch store. The load-bearing claim is STATE
  * equality, not estimate proximity — HLL registers merge by
  * elementwise max, so the union of per-batch sketches must yield the
  * SAME estimate as one single-shot sketch over all events, under any
  * batch split. Plus the family contracts (replay idempotence) and
  * the ±2% certificate versus the exact count.
  */
class DistinctStreamSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val events = Tables.events(spark, dir)
    .select(col("event_type"), col("user_id"), col("ts"),
      to_date(col("ts")).as("d"))
    .localCheckpoint(true)
  private lazy val days: Seq[java.sql.Date] =
    events.select(col("d")).distinct().orderBy("d")
      .as[java.sql.Date].collect().toSeq

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-hll-$name").toString

  private def outRows(outDir: String): Map[String, Long] =
    spark.read.parquet(outDir)
      .select(col("event_type"), col("n_approx").cast("long"))
      .as[(String, Long)].collect().toMap

  private lazy val singleShot: Map[String, Long] =
    events.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col("user_id").cast("long"), lit(12))).cast("long")
        .as("n"))
      .as[(String, Long)].collect().toMap

  private lazy val exact: Map[String, Long] =
    events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .as[(String, Long)].collect().toMap

  test("per-day sketch union equals the single-shot sketch exactly") {
    val (store, out) = (tmp("a") + "/store", tmp("a") + "/out")
    days.zipWithIndex.foreach { case (d, i) =>
      Monitors.distinctCountBatch(store, out)(
        events.where(col("d") === d), i.toLong)
    }
    assert(outRows(out) === singleShot)
    // the certificate bound the batch query pins: within 2%·3σ of exact
    assert(outRows(out).forall { case (t, est) =>
      math.abs(est - exact(t)) * 10000 <= 600L * exact(t)
    })
  }

  test("mega-batch split and replay produce the same estimates") {
    val (store, out) = (tmp("b") + "/store", tmp("b") + "/out")
    days.grouped(10).zipWithIndex.foreach { case (grp, i) =>
      Monitors.distinctCountBatch(store, out)(
        events.where(col("d").isin(grp.map(_.toString): _*)), i.toLong)
    }
    assert(outRows(out) === singleShot)
    val nBatches = days.grouped(10).size
    Monitors.distinctCountBatch(store, out)(
      events.where(col("d").isin(
        days.grouped(10).toSeq.last.map(_.toString): _*)), (nBatches - 1).toLong)
    assert(outRows(out) === singleShot)
  }
}
