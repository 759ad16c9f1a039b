package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The `exec` layer as the benchmark sees it from outside the program:
  * Spark's listener bus. Counts jobs/stages/tasks and sums the stage
  * task metrics; job start/end event times give the wall covered by at
  * least one running job, so `wall - covered` is driver-side time.
  * Installed only in traced runs. */
final class ExecTrace(sc: SparkContext) extends SparkListener {
  private val c = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var running = 0
  private var busySince = 0L

  private def add(k: String, v: Long): Unit = c(k) = c(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("jobs", 1)
    if (running == 0) busySince = e.time
    running += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running -= 1
    if (running == 0) add("job_wall_ms", e.time - busySince)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    add("stages", 1)
    add("tasks", i.numTasks)
    val m = i.taskMetrics
    if (m != null) {
      add("executor_run_ms", m.executorRunTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("output_bytes", m.outputMetrics.bytesWritten)
    }
  }

  /** Counter values once every event posted so far has been delivered. */
  def snapshot(): Map[String, Long] = {
    ExecTrace.drain(sc)
    synchronized(c.toMap.withDefaultValue(0L))
  }
}

object ExecTrace {
  /** Largest share of a wall the layer spans may leave uncovered. */
  val GapBound = 0.10

  def install(sc: SparkContext): ExecTrace = {
    val t = new ExecTrace(sc)
    sc.addSparkListener(t)
    t
  }

  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    (a.keySet ++ b.keySet).map(k => k -> (b.getOrElse(k, 0L) - a.getOrElse(k, 0L)))
      .toMap.withDefaultValue(0L)

  /** The `exec.*` layer metrics of one phase (`suffix` "" = cold,
    * "_warm" = warm) from its counter delta and wall. */
  def layers(out: mutable.Map[String, Double], suffix: String, ex: Map[String, Long],
             wallS: Double, cores: Int): Unit = {
    out(s"exec.jobs$suffix") = ex("jobs").toDouble
    out(s"exec.stages$suffix") = ex("stages").toDouble
    out(s"exec.tasks$suffix") = ex("tasks").toDouble
    out(s"exec.executor_run_s$suffix") = ex("executor_run_ms") / 1e3
    out(s"exec.gc_s$suffix") = ex("gc_ms") / 1e3
    out(s"exec.shuffle_read_mb$suffix") = ex("shuffle_read_bytes") / 1e6
    out(s"exec.shuffle_write_mb$suffix") = ex("shuffle_write_bytes") / 1e6
    out(s"exec.spill_mb$suffix") = ex("spill_bytes") / 1e6
    out(s"exec.input_mb$suffix") = ex("input_bytes") / 1e6
    out(s"exec.busy_share$suffix") = ex("executor_run_ms") / (wallS * 1e3 * cores)
    out(s"exec.driver_s$suffix") = wallS - ex("job_wall_ms") / 1e3
  }

  /** Jobs/stages/tasks per operation of the warm phase. */
  def perOp(out: mutable.Map[String, Double], warm: Map[String, Long], ops: Int): Unit =
    Seq("jobs", "stages", "tasks").foreach(k => out(s"exec.${k}_per_op") = warm(k) / ops.max(1).toDouble)

  /** Listener events are delivered asynchronously; the bus's drain call
    * is `private[spark]`, so it is reached by reflection. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(30000L))
  }
}

/** Counts the program's own `[memo-build]` stderr lines (written by
  * `AnnCache.memo` once per build) while a traced run is in progress. */
final class MemoBuildLog {
  private val builds = new java.util.concurrent.atomic.AtomicInteger
  private val original = System.err

  def install(): Unit = {
    val tee = new java.io.OutputStream {
      private val line = new java.io.ByteArrayOutputStream
      override def write(b: Int): Unit = {
        original.write(b)
        if (b != '\n') line.write(b)
        else {
          if (line.toString("UTF-8").startsWith("[memo-build]")) builds.incrementAndGet()
          line.reset()
        }
      }
    }
    System.setErr(new java.io.PrintStream(tee, true, "UTF-8"))
  }

  def count: Int = builds.get
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Minimal JSON rendering for the harness's result file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
