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
    // Stage-level attribution: wall-clock alone can't tell a query that
    // does more work from one that hit a noisy-neighbor stall (this host
    // swings 1.2-2× between identical runs; dedup_containment 1.62→2.30 s
    // on unchanged code in r10). executorRunTime ≈ wall×cores means real
    // work; wall inflated over a flat executorRunTime means the host.
    // Every run records its own stages + GC delta, so the attribution
    // below comes from the MINIMUM-wall run, not an extra execution that
    // can catch a spike (r15: temporal_reach 10.99 s against a 2.05 s min).
    def onceWithStages(name: String): (Double, Seq[Capture.Stage], Long) = {
      val (_, g0) = gcStats()
      val (t, ss) = Capture.stages(spark)(once(name))
      val (_, g1) = gcStats()
      (t, ss, g1 - g0)
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
        val (attributed, ss, gcMs) = first.minBy(_._1)
        val execSec = ss.map(_.execMs).sum / 1e3
        val shufReadMb = ss.map(_.shufReadBytes).sum / 1e6
        val spillMb = ss.map(_.spillBytes).sum / 1e6
        // gcMs rides the tuple so the parsed artifact can separate
        // heap/contention stalls from plan regressions: wall inflated
        // over flat execSec + high gcMs = the host or the heap, not
        // the query (VERDICT r13: identical-code queries swung 2-4x)
        System.err.println(
          f"[bench-stages] $name%-24s wall=$attributed%6.2fs stages=${ss.size}%3d " +
            f"execSec=$execSec%8.2f shufReadMb=$shufReadMb%7.1f " +
            f"shufWriteMb=${ss.map(_.shufWriteBytes).sum / 1e6}%7.1f spillMb=$spillMb%7.1f " +
            f"gcMs=$gcMs%5d")
        residentStages += name -> String.format(java.util.Locale.ROOT,
          "[%.2f,%d,%.2f,%.1f,%.1f,%d]", Double.box(attributed), Int.box(ss.size),
          Double.box(execSec), Double.box(shufReadMb), Double.box(spillMb),
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
