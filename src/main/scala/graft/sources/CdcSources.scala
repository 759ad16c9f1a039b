package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Source layer (SURVEY §2.1).
  *
  * The reference reads three things: an incremental watermark scan of a
  * Postgres change table (S1, producer.py:30-35), a Kafka topic in
  * bounded bursts (S2, consumer.py:21-37), and a CSV file (S3, pdf p.3).
  * On Spark all three become declarative reads; the watermark state is
  * subsumed by streaming checkpoints (offsets), and the bounded burst
  * by `Trigger.AvailableNow` + `maxFilesPerTrigger`.
  */
object CdcSources {

  /** S3: employees CSV (header per reference employees.csv:1). */
  val employeesCsvSchema: StructType = StructType(Seq(
    StructField("Employee ID", IntegerType),
    StructField("First Name", StringType),
    StructField("Last Name", StringType),
    StructField("Date of Birth", StringType),
    StructField("City", StringType)))

  /** Project-1 salary CSV (pdf p.3-5). */
  val salariesCsvSchema: StructType = StructType(Seq(
    StructField("department", StringType),
    StructField("department_division", StringType),
    StructField("position_title", StringType),
    StructField("hire_date", DateType),
    StructField("salary", DecimalType(12, 2))))

  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** S1 batch analog: replay a CDC log from files above a watermark.
    * The predicate pushes into the scan (PushedFilters) exactly like the
    * reference pushes its WHERE into Postgres.
    */
  def cdcReplayAbove(log: DataFrame, tsCol: String, watermark: java.sql.Timestamp): DataFrame =
    log.where(org.apache.spark.sql.functions.col(tsCol) > watermark)

  /** S2 streaming analog over a file-based wire log (Kafka-shaped
    * key/value JSON lines). With the Kafka connector jar present, swap
    * `format("json")` for `format("kafka")` + subscribe options — the
    * downstream pipeline is identical because it only sees key/value.
    */
  def wireJsonStream(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 1): DataFrame = {
    val wireSchema = StructType(Seq(
      StructField("key", StringType), StructField("value", StringType)))
    spark.readStream
      .schema(wireSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger) // O2: bounded burst
      .json(dir)
  }
}
