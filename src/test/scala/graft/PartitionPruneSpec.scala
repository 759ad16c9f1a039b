package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Partition pruning — the other half of data skipping (PlanSpec pins
  * PushedFilters/ReadSchema; this pins directory-level pruning). At
  * 100 TB the fact tables are laid out hive-partitioned by date: a
  * day-filtered query must touch one directory, not list-and-filter
  * the whole table.
  */
class PartitionPruneSpec extends SparkSpec {

  test("date-partitioned layout prunes to exactly the selected partition") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("day", to_date(col("ts")))
      .coalesce(1) // one file per partition → file count == partition count
      .write.partitionBy("day").mode("overwrite").parquet(dir)
    val nDays = spark.read.parquet(dir).select("day").distinct().count()
    assert(nDays > 1, "fixture must span multiple days for pruning to mean anything")

    // no exchange in this query → AQE never wraps it, so the scan node
    // is directly reachable; pruning shows up in the scan's metadata
    val df = spark.read.parquet(dir)
      .where(col("day") === lit("2024-01-05").cast("date"))
      .select(col("event_id"))
    assert(df.collect().nonEmpty, "selected day must exist in the fixture")

    val finalPlan = df.queryExecution.executedPlan match {
      // AQE wraps the physical plan; the real scan lives in the final plan
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = finalPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanExec => f }
      .getOrElse(fail("no file scan in plan"))
    assert(scan.metadata("PartitionFilters").contains("day"),
      "day predicate must become a partition filter, not a data filter")
    assert(scan.metrics("numFiles").value === 1L,
      s"scan must read 1 of $nDays partitions, read ${scan.metrics("numFiles").value}")
  }

}
