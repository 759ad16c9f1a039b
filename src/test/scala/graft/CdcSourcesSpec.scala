package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.CdcSources

/** Source layer: CSV schemas (S3) and the watermark replay scan (S1). */
class CdcSourcesSpec extends SparkSpec {
  import spark.implicits._

  test("employees CSV reads with the reference header (employees.csv:1)") {
    val dir = Files.createTempDirectory("csv").toString
    Files.write(java.nio.file.Paths.get(s"$dir/employees.csv"),
      ("Employee ID,First Name,Last Name,Date of Birth,City\n" +
       "1,Alice,Johnson,2012-04-10,San Francisco\n" +
       "2,Emma,Wood,2015-07-01,Boston\n").getBytes)
    val df = CdcSources.csv(spark, s"$dir/employees.csv", CdcSources.employeesCsvSchema)
    assert(df.count() === 2)
    assert(df.select("First Name").as[String].collect().toSet === Set("Alice", "Emma"))
    assert(df.schema("Employee ID").dataType.typeName === "integer")
  }

  test("salaries CSV parses dates and decimals per pdf p.3-5") {
    val dir = Files.createTempDirectory("csv2").toString
    Files.write(java.nio.file.Paths.get(s"$dir/sal.csv"),
      ("department,department_division,position_title,hire_date,salary\n" +
       "ECC,Div1,Engineer,2012-03-01,85000.75\n").getBytes)
    val df = CdcSources.csv(spark, s"$dir/sal.csv", CdcSources.salariesCsvSchema)
    val r = df.collect().head
    assert(r.getAs[java.sql.Date]("hire_date").toString === "2012-03-01")
    assert(r.getAs[java.math.BigDecimal]("salary").longValue() === 85000L)
  }

  test("watermark replay pushes the predicate into the scan (S1/F1)") {
    val dir = Files.createTempDirectory("wm").toString
    val log = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01")),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
      .toDF("emp_id", "last_updated_at")
    log.write.parquet(s"$dir/log")
    val replay = CdcSources.cdcReplayAbove(spark.read.parquet(s"$dir/log"),
      "last_updated_at", java.sql.Timestamp.valueOf("2024-01-01 12:00:00"))
    assert(replay.select("emp_id").as[Long].collect().toSeq === Seq(2L))
    val pushed = replay.queryExecution.executedPlan.toString
    assert(pushed.contains("PushedFilters") && pushed.contains("last_updated_at"))
  }
}
