package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** The recorders read Spark's async listener bus: what a body ran must
  * all be in the record when the body returns, with no sleep or poll. */
class CaptureSpec extends SparkSpec {

  /** Holds the shared listener queue at every stage completion, so the
    * body's events reach a recorder only well after the body returned:
    * a recorder that stopped reading without draining would miss them. */
  private class StallingListener extends SparkListener {
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Thread.sleep(300)
  }

  test("stage and plan recorders hold every event of the body once it returns") {
    val n = 20000L
    val stall = new StallingListener
    spark.sparkContext.addSparkListener(stall)
    try {
      val (stages, qes) = Capture.plans(spark) {
        Capture.stages(spark) {
          spark.range(n).repartition(7).write.format("noop").mode("overwrite").save()
        }._2
      }
      assert(stages.map(_.shufWriteRows).sum == n,
        s"the repartition writes exactly $n shuffle records: $stages")
      assert(qes.exists(_.executedPlan.toString.contains("Exchange")),
        "the noop write's executed plan must be recorded")
    } finally spark.sparkContext.removeSparkListener(stall)
  }
}
