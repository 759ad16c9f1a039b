package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.cdc.{CdcEvent, CdcWire}
import graft.sinks.Sinks.ParquetSnapshotStore
import graft.streaming.CdcStream

/** The reference DAG restated as one Spark driver (SURVEY §3.3):
  * setup → seed the 7 golden mutations (project2_dag.py:99-135) →
  * producer (events → keyed-JSON wire, producer.py semantics) →
  * consumer (streaming validate/route/apply, consumer.py semantics) →
  * verification scan (SELECT *, project2_dag.py:152-156).
  *
  * Run: sbt "runMain graft.PipelineDemo [workdir]"
  * Exits nonzero if the end-state differs from the reference golden
  * (destination = exactly Emma Wood; DLQ = 3 events).
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
      extensions = false).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val root = args.headOption.getOrElse(Files.createTempDirectory("graft-demo").toString)
    val wireDir = s"$root/wire"
    Files.createDirectories(Paths.get(wireDir))
    def ts(i: Int) = Timestamp.valueOf(f"2024-01-01 00:00:0$i")

    // -- seed: the DAG's 7 mutations --------------------------------
    val mutations = Seq(
      CdcEvent(0, 1L, "Alice", "Johnson", "2012-04-10", "San Francisco", 80000L, "insert", ts(1)),
      CdcEvent(0, 2L, "Emma", "Wood", "2015-07-01", "Boston", 72000L, "insert", ts(2)),
      CdcEvent(0, 3L, "Too", "Low", "2000-01-01", "LA", 50L, "insert", ts(3)),
      CdcEvent(0, 4L, "Too", "Old", "1900-01-01", "San Jose", 50000L, "insert", ts(4)),
      CdcEvent(0, -100L, "Wrong", "ID", "2000-01-01", "Chicago", 45000L, "insert", ts(5)),
      CdcEvent(0, 1L, "Alice", "Johnson", "2012-04-10", "San Francisco", 75000L, "update", ts(6)),
      CdcEvent(0, 1L, "Alice", "Johnson", "2012-04-10", "San Francisco", 75000L, "delete", ts(7)))

    // -- producer: change log → keyed JSON wire (K1) ----------------
    val wireLines = CdcWire.toWire(mutations.toDF())
      .select(to_json(struct(col("key"), col("value")))).as[String].collect()
    Files.write(Paths.get(s"$wireDir/batch.json"),
      String.join("\n", wireLines: _*).getBytes)
    println(s"[demo] produced ${wireLines.length} wire messages → $wireDir")

    // -- consumer: stream → validate/route → snapshot + DLQ + totals -
    val store = new ParquetSnapshotStore(spark, s"$root/snapshot", Seq("emp_id"))
    val q = CdcStream.start(
      graft.sources.CdcSources.wireJsonStream(spark, wireDir),
      store, s"$root/dlq", s"$root/ckpt", totalsPath = Some(s"$root/totals"))
    q.awaitTermination(120000)

    // -- verification scan ------------------------------------------
    val dest = store.load().get.orderBy("emp_id")
    println("[demo] destination table:")
    dest.show(false)
    val dlq = spark.read.parquet(s"$root/dlq")
    println("[demo] DLQ:")
    dlq.orderBy("emp_id").show(false)

    val destIds = dest.select("emp_id").as[Long].collect().toSeq
    val dlqIds = dlq.select("emp_id").as[Long].collect().toSet
    val ok = destIds == Seq(2L) && dlqIds == Set(3L, 4L, -100L)
    println(s"[demo] golden end-state ${if (ok) "MATCHES" else "MISMATCH"} " +
      s"(dest=$destIds, dlq=$dlqIds)")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
