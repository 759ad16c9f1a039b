package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Domain model of the reference's CDC pipeline.
  *
  * The reference moves a single entity — an employee row image plus a
  * change `action` — over a JSON wire format (reference:
  * `employee.py:3-20`, `producer.py:50-65`). We keep the same field
  * names on the wire (`emp_FN`, `emp_LN`, ... per `employee.py:4-13`)
  * and a typed case class for Dataset-level work.
  */
case class CdcEvent(
    action_id: Int,
    emp_id: Long,
    emp_FN: String,
    emp_LN: String,
    emp_dob: String,   // "YYYY-MM-DD"; stringified on the wire (producer.py:56)
    emp_city: String,
    emp_salary: Long,
    action: String,    // insert | update | delete
    last_updated_at: java.sql.Timestamp)

object CdcWire {
  /** Wire schema exactly as the reference serializes it — every field a
    * string (producer.py:56,63; employee.py:20 json.dumps of __dict__).
    * Closed schema: unknown keys would crash the reference's
    * `Employee(**emp_data)` (consumer.py:43), so we declare, not infer.
    */
  val jsonSchema: StructType = StructType(Seq(
    StructField("action_id", StringType),
    StructField("emp_id", StringType),
    StructField("emp_FN", StringType),
    StructField("emp_LN", StringType),
    StructField("emp_dob", StringType),
    StructField("emp_city", StringType),
    StructField("emp_salary", StringType),
    StructField("action", StringType),
    StructField("last_updated_at", StringType)))

  /** Serialize typed events to the keyed-JSON wire format (K1 sink shape):
    * key = stringified emp_id (producer.py:69), value = JSON object with
    * all fields stringified (producer.py:50-65). One `to_json` call —
    * the reference's serialize→parse→mutate→reserialize round-trip
    * (producer.py:62-65) is unnecessary in a columnar engine.
    */
  def toWire(events: DataFrame): DataFrame =
    events.select(
      col("emp_id").cast("string").as("key"),
      to_json(struct(
        col("action_id").cast("string").as("action_id"),
        col("emp_id").cast("string").as("emp_id"),
        col("emp_FN"), col("emp_LN"), col("emp_dob"), col("emp_city"),
        col("emp_salary").cast("string").as("emp_salary"),
        col("action"),
        col("last_updated_at").cast("string").as("last_updated_at")
      )).as("value"))

  /** Parse the wire format back to typed columns (P3). Corrupt JSON →
    * null struct → caller routes to DLQ (strictly better than the
    * reference's print-and-drop, consumer.py:95-96; intent per
    * kafka_project_instruction.pdf p.14).
    *
    * Field casts are `try_cast`: a field that does not parse (say
    * `"emp_salary":"abc"`) reads as NULL, which the validation split
    * routes to the DLQ. A plain cast throws `CAST_INVALID_INPUT` under
    * ANSI mode and kills the stream on one bad message.
    */
  def fromWire(wire: DataFrame): DataFrame = {
    val parsed = wire.withColumn("_j", from_json(col("value").cast("string"), jsonSchema))
    parsed.select(
      col("_j.action_id").try_cast(IntegerType).as("action_id"),
      col("_j.emp_id").try_cast(LongType).as("emp_id"),
      col("_j.emp_FN").as("emp_FN"),
      col("_j.emp_LN").as("emp_LN"),
      col("_j.emp_dob").as("emp_dob"),
      col("_j.emp_city").as("emp_city"),
      col("_j.emp_salary").try_cast(LongType).as("emp_salary"),
      lower(col("_j.action")).as("action"), // P5: lowercased before dispatch (consumer.py:44)
      col("_j.last_updated_at").try_cast(TimestampType).as("last_updated_at"),
      // PERMISSIVE from_json yields an all-null struct (not a null
      // struct) for garbage input — a real message always carries
      // emp_id and action, so both-null means undecodable.
      (col("_j").isNull ||
        (col("_j.emp_id").isNull && col("_j.action").isNull)).as("corrupt"))
  }
}

/** Scalar parity functions P4–P8 and the validation predicate F2. */
object Columns {
  /** P6: year via string prefix, null/empty → 0 — bug-compatible with
    * `int(str(emp_dob)[:4])` guarded by the falsy check (consumer.py:47).
    */
  def dobYear(dob: Column): Column =
    coalesce(substring(dob.cast("string"), 1, 4).cast("int"), lit(0))

  /** F2: the consumer's invalid-detector (consumer.py:47-48). Constants
    * are the code's (`salary <= 100`), not the PDF's stated intent
    * (`> 10000`, p.14) — divergence recorded in SURVEY §2.3.
    */
  def isInvalid(dob: Column, salary: Column, id: Column): Column =
    dobYear(dob) <= 2007 || salary <= 100 || id < 0

  /** P7: "round off to lower number" — truncate decimal salary to a whole
    * number (pdf p.3,6). Salaries are non-negative so floor == Python int().
    */
  def flooredSalary(salary: Column): Column = floor(salary).cast(LongType)

  /** P8: Kafka message key (producer.py:69). */
  def wireKey(id: Column): Column = id.cast("string")
}
