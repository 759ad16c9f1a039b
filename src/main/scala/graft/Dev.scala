package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, SparkPlan}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import graft.ops.AnnCache

/** Dev probe main (not part of the library surface), one mode per run
  * on SPARK_GRAFT_SF_DIR: `runMain graft.Dev <mode> ...` with mode
  * `recall`, `explain <outDir> <suffix> q...`, `profile q...`,
  * `noop q...` or `plans [q...]`. Per-query wall times in a fresh JVM
  * come from Bench with `SPARK_GRAFT_ONLY=q1,q2`.
  */
object Dev extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession.builder(32, extensions = true).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // every mode runs its queries through here: the [memo-build] payer
    // is the query at hand, and nothing it cached or pinned outlives it
    def each(names: Seq[String])(body: String => Unit): Unit =
      for (name <- names) {
        AnnCache.setContext(name)
        body(name)
        spark.catalog.clearCache()
        AnnCache.clear()
      }
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    args.headOption match {
      case Some("recall") =>
        // per-query recall minima for the annAudit floor calibration
        // comments in ExtensionQueries — run at each sf dir of interest
        import org.apache.spark.sql.functions.{col, min}
        // thunks, not frames: building all three up front would pin each
        // index (AnnCache.memo's localCheckpoint) past its clearCache(),
        // defeating the per-algorithm isolation the loop intends
        val builds = Map[String, () => DataFrame](
          "ivf" -> (() => ExtensionQueries.simTopkIvfRows(spark, dir)),
          "pq" -> (() => ExtensionQueries.simTopkPqRows(spark, dir)),
          "ivfpq" -> (() => ExtensionQueries.simTopkIvfPqRows(spark, dir)))
        each(Seq("ivf", "pq", "ivfpq")) { name =>
          // persisted across the two actions below (global min + printed
          // detail) so the ANN pipeline builds once, not twice
          val rows = builds(name)().persist()
          // exact at any query-set size: the audit minimum is a 1-row
          // aggregate computed BEFORE any limit, so the printed per-vector
          // detail below can stay capped without ever hiding a worse row
          val worst = rows.agg(min(col("recall_x100"))).collect()
            .headOption.flatMap(r => Option(r.get(0)).map(_.toString.toLong))
            .getOrElse(-1L)
          // bounded: one row per ANN query vector (a fixed, small query
          // set); the limit is a hard cap so a future unbounded query
          // set can't turn this dev probe into a driver OOM
          val per = rows.groupBy(col("q_vec_id"))
            .agg(min(col("recall_x100")).as("r")).orderBy("q_vec_id")
            .limit(10000)
            .collect().map(r => (r.getLong(0), r.getLong(1)))
          println(s"== recall $name $dir min=$worst " +
            per.map { case (q, r) => s"q$q=$r" }.mkString(" "))
        }
      case Some("explain") =>
        // plan-artifact dump: `Dev explain <outDir> <suffix> q1 q2 ...`
        // writes each named query's `.explain("formatted")` output —
        // executed first so AQE's final plan (join strategy rewrites,
        // coalesced reads) is what prints — to <outDir>/<query>_<suffix>.txt.
        // This is how the plans/rNN before/after evidence files are
        // produced. Iterative operators (reach family, k-means refits)
        // hide their per-round work behind localCheckpoint/persist pins,
        // so the top-level explain alone is blind to the rounds: every
        // intermediate execution fired while the query builds and runs
        // is appended, so the artifact shows the ROUND plans (where the
        // edge-shuffle evidence lives).
        val outDir = new java.io.File(args(1))
        outDir.mkdirs()
        val suffix = args(2)
        each(args.drop(3).toSeq) { name =>
          val (df, qes) = Capture.plans(spark) {
            val df = SparkEntry.queries(name)(spark, dir)
            df.queryExecution.toRdd.count() // finalize AQE
            df
          }
          val txt = df.queryExecution.explainString(FormattedMode)
          val subs = qes.map(_.explainString(FormattedMode))
          val f = new java.io.File(outDir, s"${name}_$suffix.txt")
          val w = new java.io.PrintWriter(f, "UTF-8")
          try {
            w.write(s"==== $name: top-level executed plan ====\n")
            w.write(txt)
            subs.zipWithIndex.foreach { case (p, i) =>
              w.write(s"\n==== $name: intermediate execution ${i + 1} of " +
                s"${subs.size} (pin builds / iterative rounds, " +
                "in execution order) ====\n")
              w.write(p)
            }
          } finally w.close()
          println(s"== explain $name -> $f (${txt.length} chars + ${subs.size} sub-plans)")
        }
      case Some("profile") =>
        // per-stage parallelism audit: `Dev profile q1 q2 ...` runs each
        // query 3× (codegen/JIT warm-up) and prints, for the LAST run,
        // every stage's task count, summed executor ms, and input and
        // shuffle rows — the table that separates "stage-latency bound"
        // (many tiny stages) from "serial-stage bound" (one task owns the
        // wall), which wall/execSec alone cannot do (guide §1.3: find the
        // dominant stage before touching anything).
        each(args.drop(1).toSeq) { name =>
          def run(): Double = timed(SparkEntry.queries(name)(spark, dir).count())
          run(); run()
          val (wall, stages) = Capture.stages(spark)(run())
          val ss = stages.sortBy(-_.execMs)
          println(f"== profile $name wall=$wall%.2fs stages=${ss.size} " +
            f"execMs=${ss.map(_.execMs).sum}")
          ss.take(12).foreach { s =>
            println(f"   stage ${s.id}%4d tasks=${s.tasks}%3d execMs=${s.execMs}%6d " +
              f"inRows=${s.inRows}%8d shufRd=${s.shufReadRows}%8d " +
              f"shufWr=${s.shufWriteRows}%8d  ${s.name}")
          }
        }
      case Some("noop") =>
        // guide §1.4 honest timing: `Dev noop q1 q2 ...` times each query
        // 3× against the noop sink, which computes EVERY column of EVERY
        // row — unlike count(), which lets Catalyst prune aggregate
        // expressions (and can collapse union-of-aggregate subtrees into
        // reused stubs). Bench keeps count() for round-over-round
        // comparability; this mode is the cross-check that a count()-
        // measured win is real computed-work reduction, not pruning.
        each(args.drop(1).toSeq) { name =>
          val walls = Seq.fill(3)(timed(SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()))
          println(f"== noop $name min=${walls.min}%.2fs " +
            walls.map(w => f"$w%.2f").mkString(" "))
        }
      case Some("plans") =>
        // plan-shape audit: for each named query (or everything), execute
        // at the dev SF and count nodes of the AQE-final plan tree —
        // parquet scans (re-scan smell), hash/range exchanges,
        // single-partition exchanges, windows, windows with an empty
        // partition spec (one task whatever the data size), cached-frame
        // reads and reused exchanges. Human sweep; PlanSpec holds the hard
        // pins. The walk descends into query stages but not into a cached
        // frame's build plan, nor into the exchange a reuse points at, so
        // every counted node ran in this query.
        val names = args.drop(1).toSeq
        each(if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names) { name =>
          val df = SparkEntry.queries(name)(spark, dir)
          // execute THIS QueryExecution's RDD (df.count() builds a sibling
          // QueryExecution and leaves this plan un-finalized) so the walk
          // sees AQE's final plan with its runtime reuse
          df.queryExecution.toRdd.count()
          val plan = df.queryExecution.executedPlan
          def count(pf: PartialFunction[SparkPlan, Unit]) =
            collectWithSubqueries(plan)(pf).size
          val scans = count { case _: FileSourceScanExec | _: BatchScanExec => }
          val exchanges = count { case e: ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[HashPartitioning] ||
              e.outputPartitioning.isInstanceOf[RangePartitioning] => }
          val single = count { case e: ShuffleExchangeExec
            if e.outputPartitioning == SinglePartition => }
          val windows = count { case _: WindowExec => }
          val globalWin = count { case w: WindowExec if w.partitionSpec.isEmpty => }
          val inmem = count { case _: InMemoryTableScanExec => }
          val reuse = count { case _: ReusedExchangeExec => }
          println(f"== plan $name%-32s scans=$scans%2d exch=$exchanges%2d " +
            f"singlePart=$single%2d windows=$windows%2d globalWin=$globalWin%2d " +
            f"inmem=$inmem%2d reuse=$reuse%2d")
        }
      case other =>
        spark.stop()
        sys.error(s"unknown Dev mode ${other.getOrElse("(none)")}: expected recall | " +
          "explain <outDir> <suffix> q... | profile q... | noop q... | plans [q...]")
    }
    spark.stop()
  }
}
