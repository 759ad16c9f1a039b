package graft

import scala.jdk.CollectionConverters._

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query steady-state seconds.
  *
  * Each query runs three times (five when a run is under 0.3 s) and
  * reports the fastest run: the first execution of a plan in a fresh
  * JVM pays whole-stage-codegen compilation and C2 JIT (observed 10-30×
  * inflation on this workload), which measures the JVM, not the
  * engine. A real deployment runs warm.
  *
  * All queries share one JVM/session, so inter-query hygiene matters:
  * round 1 showed 10-40× inflation on late queries (212.9s for a query
  * that runs in 4-5s in a fresh JVM). Between queries we therefore drop
  * cached data and broadcast/shuffle state (`clearCache` + an explicit
  * GC so the ContextCleaner's weak-ref queue actually drains — its
  * periodic GC defaults to 30 min, longer than a whole bench run).
  * Per-query diagnostics go to stderr; stdout stays the one JSON line.
  */
object Bench {
  private def gcStats(): (Long, Long) = {
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount).sum, beans.map(_.getCollectionTime).sum)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // dev tooling: SPARK_GRAFT_ONLY=q1,q2 profiles a subset (per-query
    // stage attribution without a 90 s full sweep); unset = everything
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val spark = LocalSession.builder(cpus, extensions = true)
      // drain shuffle/broadcast refs even when the heap never pressures
      // a full GC on its own (default interval is 30 min — never fires
      // within a bench run)
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Stage-level attribution: wall-clock alone can't distinguish a
    // query that does more work from one that hit a noisy-neighbor
    // stall (this host swings 1.2-2× between identical runs, and
    // round verdicts have repeatedly burned turns re-auditing noise,
    // e.g. dedup_containment 1.62→2.30 s on unchanged code in r10).
    // The listener accumulates executor-side metrics; per query we
    // snapshot the delta and, for residents, print a [bench-stages]
    // stderr line. executorRunTime ≈ wall×cores means real work;
    // wall inflated over a flat executorRunTime means the host.
    val stageStats = new java.util.concurrent.atomic.AtomicLongArray(5)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          stageStats.addAndGet(0, 1L)
          stageStats.addAndGet(1, m.executorRunTime)
          stageStats.addAndGet(2, m.shuffleReadMetrics.totalBytesRead)
          stageStats.addAndGet(3, m.shuffleWriteMetrics.bytesWritten)
          stageStats.addAndGet(4, m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    })
    def stageSnap(): Array[Long] = Array.tabulate(5)(stageStats.get)
    val rt = Runtime.getRuntime
    def once(name: String): Double = {
      // attribution for any [memo-build] line this run triggers: shared
      // memo frames are paid by the first toucher in bench name order,
      // and the log must say who that was (r18 drift adjudication)
      graft.ops.AnnCache.setContext(name)
      val t0 = System.nanoTime()
      // NonFatal only: a dying JVM (OOM, stack overflow) must crash the
      // bench loudly, not masquerade as one failed query and pollute
      // every later measurement in the shared session.
      try { SparkEntry.queries(name)(spark, sfDir).count() }
      catch { case scala.util.control.NonFatal(_) => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    // stage-completed events post to an ASYNC listener bus: without a
    // drain, a run's tail events can land in the NEXT run's delta and
    // misattribute metrics between the back-to-back runs below. The
    // drain API is private[spark], so reflection with a no-op fallback
    // (diagnostics degrade gracefully; timings are unaffected)
    val drainListeners: () => Unit =
      try {
        val sc = spark.sparkContext
        val busM = sc.getClass.getMethod("listenerBus")
        val bus = busM.invoke(sc)
        val waitM = bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        // NonFatal-only, same convention as `once`: an interrupt or a
        // dying JVM must still stop the bench loudly — the interrupt
        // flag is restored so the shutdown propagates
        () => {
          try waitM.invoke(bus, Long.box(10000L))
          catch {
            case e: java.lang.reflect.InvocationTargetException
                if e.getCause.isInstanceOf[InterruptedException] =>
              Thread.currentThread().interrupt()
            case scala.util.control.NonFatal(_) => ()
          }
          ()
        }
      } catch { case scala.util.control.NonFatal(_) => () => () }
    // every run carries its own stage-metric + GC delta, so the
    // attribution below can come from the MINIMUM-wall run instead of
    // a dedicated extra execution — r15's stage tuples occasionally
    // caught a noisy-neighbor spike in that extra slot (temporal_reach
    // attributed 10.99 s against a 2.05 s min) and overstated the
    // heaviest queries 5×
    def onceWithStages(name: String): (Double, Array[Long], Long) = {
      drainListeners()
      val s0 = stageSnap()
      val (_, g0) = gcStats()
      val t = once(name)
      drainListeners()
      val (_, g1) = gcStats()
      val s1 = stageSnap()
      (t, s1.zip(s0).map { case (a, b) => a - b }, g1 - g0)
    }
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      System.gc() // lets ContextCleaner collect dead shuffles/broadcasts
    }
    // residents' executor-metric deltas, embedded in the stdout JSON:
    // the driver keeps only stdout, and wall-vs-execSec is the one
    // signal that separates real work from this host's noisy neighbors
    val residentStages = scala.collection.mutable.ListBuffer.empty[(String, String)]
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val results = names.map { name =>
      val (gc0, gt0) = gcStats()
      // min of 3: the first run pays codegen/JIT, and this host has
      // noisy neighbors (observed 2-5x wall-time swings) — one slow
      // run must not pollute the steady-state number. Sub-300 ms
      // queries get two extra samples: at that scale a single noise
      // spike is the same order as the measurement, so min-of-3 still
      // wobbles ±30-50 % between bench invocations and round-over-
      // round comparisons read noise as regressions; the extra ~1 s
      // per fast query buys a stable floor.
      val first = Seq.fill(3)(onceWithStages(name))
      val firstWalls = first.map(_._1)
      val isResident = firstWalls.forall(_ >= 0) && firstWalls.min > 1.5
      val runs =
        if (firstWalls.exists(r => r >= 0 && r < 0.3))
          firstWalls ++ Seq.fill(2)(once(name))
        else firstWalls
      val (gc1, gt1) = gcStats()
      val usedMb = (rt.totalMemory() - rt.freeMemory()) / (1 << 20)
      System.err.println(
        f"[bench] $name%-24s ${runs.map(r => f"$r%7.2f").mkString(" ")}s " +
          f"gc=${gc1 - gc0}%3d gcMs=${gt1 - gt0}%6d heapMb=$usedMb%6d")
      if (isResident) {
        // attribute on the FASTEST of the three runs — by definition
        // the one least polluted by host noise, and the same number
        // the per-query timing reports, so the stage tuple's wall can
        // no longer overstate the query against its own min
        val (attributed, d, gcMs) = first.minBy(_._1)
        // gcMs rides the tuple so the parsed artifact can separate
        // heap/contention stalls from plan regressions: wall inflated
        // over flat execSec + high gcMs = the host or the heap, not
        // the query (VERDICT r13: identical-code queries swung 2-4x)
        System.err.println(
          f"[bench-stages] $name%-24s wall=$attributed%6.2fs stages=${d(0)}%3d " +
            f"execSec=${d(1) / 1e3}%8.2f shufReadMb=${d(2) / 1e6}%7.1f " +
            f"shufWriteMb=${d(3) / 1e6}%7.1f spillMb=${d(4) / 1e6}%7.1f " +
            f"gcMs=$gcMs%5d")
        residentStages += name -> String.format(java.util.Locale.ROOT,
          "[%.2f,%d,%.2f,%.1f,%.1f,%d]", Double.box(attributed), Long.box(d(0)),
          Double.box(d(1) / 1e3), Double.box(d(2) / 1e6), Double.box(d(4) / 1e6),
          Long.box(gcMs))
      }
      cleanup()
      name -> (if (runs.exists(_ < 0)) -1.0 else runs.min)
    }
    // Locale.ROOT: a comma decimal separator would corrupt the JSON
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def ent(kv: (String, Double)) = "\"" + kv._1 + "\":" + fmt(kv._2)
    val total = results.map(_._2).filter(_ >= 0).sum
    // The driver keeps only the last ~2000 chars of stdout; a JSON line
    // carrying all ~110 query timings (~3 KB) gets its head truncated
    // and the driver's parse silently fails (r4+r5 both show
    // parsed:null). So the stdout line reports the slowest queries —
    // the informative ones; sub-300 ms timings are noise-bound per
    // SCALE.md — up to a length budget that keeps the WHOLE line inside
    // the capture window. The full map still goes to stderr.
    System.err.println(
      "[bench-full] " + results.map(ent).mkString("{", ",", "}"))
    // the stage map publishes the residents' attribution in the
    // driver-captured artifact: [wall s, stages, execSec, shufReadMb,
    // spillMb, gcMs] per resident. Capped so the whole line stays inside the
    // driver's ~2000-char stdout window; queries budget shrinks to
    // compensate.
    // slowest-first (not name-order) so the residents that matter
    // survive the cap; any drop is announced via stages_dropped
    val stageEnts = residentStages
      .sortBy { case (_, v) => -v.drop(1).takeWhile(_ != ',').toDouble }
    val stages = stageEnts.take(8)
      .map { case (n, v) => "\"" + n + "\":" + v }.mkString("{", ",", "}")
    val stagesDropped = math.max(0, stageEnts.size - 8)
    // floor the queries budget so failed-query entries always fit even
    // if the stage map grows — a failure must never be truncated away
    val budget = math.max(400, 1500 - stages.length)
    // failed queries (-1 sentinel) lead the map unconditionally — a
    // failure must be visible in the parsed line, not just on stderr,
    // or it reads as budget truncation
    val (failed, ok) = results.partition(_._2 < 0)
    val kept = scala.collection.mutable.ListBuffer.empty[String]
    var used = 0
    (failed ++ ok.sortBy(-_._2)).foreach { kv =>
      val e = ent(kv)
      if (used + e.length + 1 <= budget) { kept += e; used += e.length + 1 }
    }
    val qs = kept.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"queries_slowest":${kept.size},"stages_dropped":$stagesDropped,"stages":$stages,"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
