package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.Tables

/** JVM side of the benchmark: runs one workload through the program's
  * public entry points and writes one JSON result file. `run.py` builds
  * this, launches it, adds the DuckDB oracle compare and prints the
  * metrics.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --work DIR --out FILE --cores C [--scale sfX]
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, out: String, cores: Int,
                        scale: Option[String])

  def main(args: Array[String]): Unit = {
    val bootMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("data"), kv("work"), kv("out"), kv("cores").toInt, kv.get("scale"))
    val r = new Result
    r.detail("cores") = o.cores
    try o.workload match {
      case "cdc_burst" => CdcBurst.run(o, r, bootMs)
      case "batch_passes" => Batch.run(o, r, bootMs)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally SparkSession.getActiveSession.foreach(_.stop())
    Files.writeString(Paths.get(o.out), Json.render(r.toMap))
  }

  /** One local session per set-up round. `shufflePartitions` and the
    * extension switch follow the entry point the workload stands for
    * (PipelineDemo for the stream, Bench/Verify for the batch passes). */
  def session(o: Opts, shufflePartitions: Int, extensions: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config(Tables.nanosConf, "true")
    if (extensions) b.config("spark.sql.extensions", "graft.GraftExtensions")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `setup_s`: the median of `rounds` set-ups, each a fresh session
    * plus the workload's fixture load; the JVM's boot time counts toward
    * the first round. The last round's session and fixtures are kept. */
  def setup[T](r: Result, bootMs: Long, rounds: Int = 3)(start: () => SparkSession)
              (load: SparkSession => T): (SparkSession, T) = {
    var kept: Option[(SparkSession, T)] = None
    val times = (1 to rounds).map { i =>
      kept.foreach(_._1.stop())
      val t0 = System.nanoTime()
      val s = start()
      kept = Some(s -> load(s))
      (System.nanoTime() - t0) / 1e9 + (if (i == 1) bootMs / 1e3 else 0.0)
    }
    r.e2e("setup_s") = Stats.median(times)
    r.detail("setup_rounds_s") = times
    kept.get
  }
}

/** What one run reports: end-to-end and per-layer metrics, operations
  * attempted/failed, the correctness checks, and per-op detail for the
  * artifact. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val detail = mutable.LinkedHashMap.empty[String, Any]

  def check(name: String, ok: Boolean, info: String): Unit =
    checks += Map("name" -> name, "ok" -> ok, "info" -> info)

  def toMap: Map[String, Any] = Map("e2e" -> e2e, "layers" -> layers,
    "attempted" -> attempted, "failed" -> failed, "checks" -> checks, "detail" -> detail)
}
