package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Scoped capture of what Spark's listener bus reports while a body
  * runs: the stages it completed ([[stages]]) or the SQL executions it
  * finished ([[plans]]). The one place the mains and the specs gather
  * stage metrics and executed plans.
  *
  * Listener events are delivered on an ASYNC bus, so a body's tail
  * events can land after it returns. Each recorder drains the bus
  * before it registers (earlier events stay out) and again before it
  * unregisters (the body's own events are all in). QueryExecutionListener
  * callbacks ride the same bus (`ExecutionListenerBus` sits on the
  * shared queue), so one drain covers both kinds.
  */
object Capture {

  /** One completed stage: executor run time in ms, records and bytes
    * through input and shuffle, and memory + disk spill bytes. */
  final case class Stage(id: Int, name: String, tasks: Int, execMs: Long,
                         inRows: Long, shufReadRows: Long, shufWriteRows: Long,
                         shufReadBytes: Long, shufWriteBytes: Long, spillBytes: Long)

  /** Block until every event posted so far has been delivered. The
    * drain API is private[spark], so it is reached by reflection with a
    * no-op fallback: capture degrades, the body's work is unaffected.
    * NonFatal only, so an interrupt or a dying JVM still stops the
    * caller loudly; the interrupt flag is restored so a shutdown
    * propagates. */
  private def drain(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(10000L))
    } catch {
      case e: java.lang.reflect.InvocationTargetException
          if e.getCause.isInstanceOf[InterruptedException] =>
        Thread.currentThread().interrupt()
      case NonFatal(_) => ()
    }

  /** Run `body`; return its result and every stage it completed, in
    * completion order. Stages without task metrics are skipped. */
  def stages[T](spark: SparkSession)(body: => T): (T, Seq[Stage]) = {
    val got = new ConcurrentLinkedQueue[Stage]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        if (m != null) got.add(Stage(si.stageId, si.name.takeWhile(_ != '\n').take(60),
          si.numTasks, m.executorRunTime, m.inputMetrics.recordsRead,
          m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }
    val sc = spark.sparkContext
    drain(spark)
    sc.addSparkListener(listener)
    try {
      val out = body
      drain(spark)
      (out, got.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Run `body`; return its result and the QueryExecution of every SQL
    * action it completed (pin builds and iterative rounds included), in
    * completion order. */
  def plans[T](spark: SparkSession)(body: => T): (T, Seq[QueryExecution]) = {
    val got = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = got.add(qe)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    drain(spark)
    spark.listenerManager.register(listener)
    try {
      val out = body
      drain(spark)
      (out, got.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
