package graft

/** Ad-hoc dev scratch main (not part of the library surface):
  * `runMain graft.Dev q1 q2 ...` times each named query `n` times in a
  * fresh JVM — the uncontaminated ground truth for bench numbers.
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession.builder(32, extensions = true).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (args.headOption.contains("recall")) {
      // per-query recall minima for the annAudit floor calibration
      // comments in ExtensionQueries — run at each sf dir of interest
      import org.apache.spark.sql.functions.{col, min}
      // thunks, not frames: building all three up front would pin each
      // index (AnnCache.memo's localCheckpoint) past its clearCache(),
      // defeating the per-algorithm isolation the loop intends
      for ((name, mk) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
          "ivf" -> (() => ExtensionQueries.simTopkIvfRows(spark, dir)),
          "pq" -> (() => ExtensionQueries.simTopkPqRows(spark, dir)),
          "ivfpq" -> (() => ExtensionQueries.simTopkIvfPqRows(spark, dir)))) {
        // persisted across the two actions below (global min + printed
        // detail) so the ANN pipeline builds once, not twice
        val rows = mk().persist()
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
        spark.catalog.clearCache()
        graft.ops.AnnCache.clear()
      }
      spark.stop(); return
    }
    if (args.headOption.contains("schemas")) {
      // output-type audit: the driver's correctness hash is TYPED, so
      // a Spark DECIMAL(38,0) against a DuckDB HUGEINT hash-splits even
      // at equal values (the r15 assortativity red). Print every
      // registered query's output schema, flagging the divergence-prone
      // classes: any decimal (incl. nested) and session-TZ TIMESTAMP
      // (the board convention is TIMESTAMP_NTZ; OutputTypeContractSpec
      // is the hard gate, this probe is the human-readable sweep)
      // schema-only sweep: lazy pins, so an eager-checkpointed query
      // builder doesn't execute its full plan just to expose df.schema
      graft.ops.AnnCache.eagerPins = false
      for (name <- SparkEntry.queries.keys.toSeq.sorted) {
        graft.ops.AnnCache.setContext(name)
        val df = SparkEntry.queries(name)(spark, dir)
        val cols = df.schema.fields.map(f => s"${f.name}:${f.dataType.sql}")
        val flagged = df.schema.fields.filter { f =>
          val t = f.dataType.sql.toUpperCase
          t.contains("DECIMAL") ||
            t.replace("TIMESTAMP_NTZ", "").contains("TIMESTAMP")
        }
        val tag = if (flagged.nonEmpty)
          s" FLAG[${flagged.map(_.name).mkString(",")}]" else ""
        println(s"== schema $name$tag ${cols.mkString(" ")}")
        spark.catalog.clearCache()
        graft.ops.AnnCache.clear()
      }
      spark.stop(); return
    }
    if (args.headOption.contains("explain")) {
      // plan-artifact dump: `Dev explain <outDir> <suffix> q1 q2 ...`
      // writes each named query's `.explain("formatted")` output —
      // executed first so AQE's final plan (join strategy rewrites,
      // coalesced reads) is what prints — to <outDir>/<query>_<suffix>.txt.
      // This is how the plans/rNN before/after evidence files are
      // produced; the optimization rounds' judge reads them in lieu of
      // running Spark.
      val outDir = new java.io.File(args(1))
      outDir.mkdirs()
      val suffix = args(2)
      // iterative operators (reach family, k-means refits) hide their
      // per-round work behind localCheckpoint/persist pins, so the
      // top-level explain alone is blind to the rounds. A listener
      // captures every intermediate QueryExecution fired while the
      // query builds+runs; the dump appends each one, so the artifact
      // shows the ROUND plans (where the edge-shuffle evidence lives).
      val subPlans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            ns: Long): Unit =
          subPlans.add(qe.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        override def onFailure(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      for (name <- args.drop(3).toSeq) {
        subPlans.clear()
        graft.ops.AnnCache.setContext(name)
        val df = SparkEntry.queries(name)(spark, dir)
        df.queryExecution.toRdd.count() // finalize AQE
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Thread.sleep(2000) // async listener bus: let sub-plan events land
        val subs = {
          val it = subPlans.iterator(); val b = Seq.newBuilder[String]
          while (it.hasNext) b += it.next(); b.result()
        }
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
        spark.catalog.clearCache()
        graft.ops.AnnCache.clear()
      }
      spark.listenerManager.unregister(listener)
      spark.stop(); return
    }
    if (args.headOption.contains("profile")) {
      // per-stage parallelism audit: `Dev profile q1 q2 ...` runs each
      // query 3× (codegen/JIT warm-up) and prints, for the LAST run,
      // every stage's task count, summed executor ms, and max task ms —
      // the table that separates "stage-latency bound" (many tiny
      // stages) from "serial-stage bound" (one task owns the wall),
      // which wall/execSec alone cannot do (guide §1.3: find the
      // dominant stage before touching anything).
      case class St(id: Int, name: String, tasks: Int, execMs: Long,
                    inRows: Long, sRdRows: Long, sWrRows: Long)
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val m = si.taskMetrics
            if (m != null) stages.add(St(si.stageId,
              si.name.takeWhile(_ != '\n').take(60), si.numTasks,
              m.executorRunTime, m.inputMetrics.recordsRead,
              m.shuffleReadMetrics.recordsRead,
              m.shuffleWriteMetrics.recordsWritten))
          }
        })
      for (name <- args.drop(1).toSeq) {
        graft.ops.AnnCache.setContext(name)
        var wall = 0.0
        for (i <- 1 to 3) {
          if (i == 3) { Thread.sleep(500); stages.clear() }
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, dir).count()
          wall = (System.nanoTime() - t0) / 1e9
        }
        Thread.sleep(1000) // async listener bus
        val ss = {
          val it = stages.iterator(); val b = Seq.newBuilder[St]
          while (it.hasNext) b += it.next(); b.result()
        }.sortBy(-_.execMs)
        println(f"== profile $name wall=$wall%.2fs stages=${ss.size} " +
          f"execMs=${ss.map(_.execMs).sum}")
        ss.take(12).foreach { s =>
          println(f"   stage ${s.id}%4d tasks=${s.tasks}%3d execMs=${s.execMs}%6d " +
            f"inRows=${s.inRows}%8d shufRd=${s.sRdRows}%8d shufWr=${s.sWrRows}%8d  ${s.name}")
        }
        spark.catalog.clearCache()
        graft.ops.AnnCache.clear()
      }
      spark.stop(); return
    }
    if (args.headOption.contains("noop")) {
      // guide §1.4 honest timing: `Dev noop q1 q2 ...` times each query
      // 3× against the noop sink, which computes EVERY column of EVERY
      // row — unlike count(), which lets Catalyst prune aggregate
      // expressions (and can collapse union-of-aggregate subtrees into
      // reused stubs). Bench keeps count() for round-over-round
      // comparability; this mode is the cross-check that a count()-
      // measured win is real computed-work reduction, not pruning.
      for (name <- args.drop(1).toSeq) {
        graft.ops.AnnCache.setContext(name)
        val walls = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"== noop $name min=${walls.min}%.2fs " +
          walls.map(w => f"$w%.2f").mkString(" "))
        spark.catalog.clearCache()
        graft.ops.AnnCache.clear()
      }
      spark.stop(); return
    }
    if (args.headOption.contains("plans")) {
      // plan-shape audit: for each named query (or everything), execute
      // at the dev SF and print the physical-plan red-flag counters —
      // parquet scans (re-scan smell), exchanges, and WindowExec nodes
      // with an empty partition spec over more than a bounded frame
      // (the single-partition-window smell; calendar/dimension frames
      // are fine and documented per query). Human sweep; PlanSpec holds
      // the hard pins.
      for (name <- args.drop(1).toSeq match {
          case Nil => SparkEntry.queries.keys.toSeq.sorted
          case xs => xs
        }) {
        graft.ops.AnnCache.setContext(name)
        val df = SparkEntry.queries(name)(spark, dir)
        // execute THIS QueryExecution's RDD (df.count() builds a sibling
        // QueryExecution and leaves this plan un-finalized) so AQE
        // runtime artifacts — ReusedQueryStage, skew splits — appear in
        // the printed plan; otherwise an exchange the runtime actually
        // reused still prints as a second full subtree and the scan
        // counter overstates (r19: pre-pin q11 printed 10 scans while
        // executing ~5 through a ReusedQueryStage)
        df.queryExecution.toRdd.count()
        // a finalized AdaptiveSparkPlan prints BOTH the final and the
        // initial plan — count only the final section or every node
        // doubles
        val p = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        val scans = "Scan parquet|FileScan".r.findAllIn(p).length
        val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).length
        val single = "Exchange SinglePartition".r.findAllIn(p).length
        val windows = "\\bWindow\\b|WindowExec".r.findAllIn(p).length
        // a persisted frame's plan STRING embeds its build plan inside
        // InMemoryRelation, so its FileScans count once per reader in
        // `scans` without re-executing — inmem>0 says discount those
        // (r19 adjudication: customer_rfm's "8 scans" are 2 real)
        val inmem = "InMemoryTableScan".r.findAllIn(p).length
        // runtime-reused stages: each one is a subtree the counters
        // above counted that did NOT re-execute — discount accordingly
        val reuse = "ReusedQueryStage|ReusedExchange".r.findAllIn(p).length
        println(f"== plan $name%-32s scans=$scans%2d exch=$exchanges%2d " +
          f"singlePart=$single%2d windows=$windows%2d inmem=$inmem%2d " +
          f"reuse=$reuse%2d")
        spark.catalog.clearCache()
        graft.ops.AnnCache.clear()
      }
      spark.stop(); return
    }
    val names = if (args.nonEmpty) args.toSeq else Seq("dedup_minhash_lsh")
    for (name <- names; i <- 1 to 3) {
      graft.ops.AnnCache.setContext(name)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      val n = df.count()
      println(f"== $name run$i rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      if (i == 1 && sys.env.contains("SPARK_GRAFT_EXPLAIN"))
        println(df.queryExecution.executedPlan.toString.take(8000))
      spark.catalog.clearCache() // Bench's inter-run hygiene

    }
    spark.stop()
  }
}
