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

  /** JSONL corpus schema: the document table as newline-delimited JSON
    * (the interchange format most web-scale corpus dumps actually
    * arrive in). */
  val documentsJsonlSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("_corrupt", StringType)))

  /** JSONL corpus reader with corrupt-line quarantine — the corpus-side
    * analog of the CDC wire codec's P3 semantics: a malformed line
    * becomes a row whose `_corrupt` column holds the raw text and whose
    * typed columns are NULL, instead of failing the job or silently
    * vanishing (PERMISSIVE mode). Callers split on
    * `_corrupt IS NOT NULL` exactly like the CDC DLQ. A schema is
    * mandatory: schema inference scans the whole corpus twice — at
    * 100 TB the inference pass costs more than the read. Spark
    * restriction: a query touching ONLY `_corrupt` must materialize
    * the parse first (cache/write) — the DLQ split that reads both
    * sides does that anyway. */
  def jsonlDocuments(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(documentsJsonlSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)

  /** Raw media ingestion for the multimodal path: one row per file
    * with the payload as a `binary` column (path, modificationTime,
    * length, content) via Spark's native binaryFile source. Payloads
    * stay executor-side — the scan feeds `Multimodal`'s batched
    * decode directly; `spark.sql.files.maxPartitionBytes` sizes the
    * per-task batch for large blob directories, and the glob filter
    * prunes by extension BEFORE any bytes are read. (Avro is the one
    * mainstream format gated here: the sandbox ships Avro core jars
    * but not the spark-avro datasource — same class of gap as the
    * Kafka connector, same swap-in story.)
    */
  def binaryFiles(spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
}
