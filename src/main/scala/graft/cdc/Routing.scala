package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** R1: valid/invalid stream split → DLQ (consumer.py:50-58).
  *
  * One parent DataFrame, two filtered children. In streaming the caller
  * wraps this in `foreachBatch { b => b.persist(); ... }` so the source
  * is read once per micro-batch (see [[graft.streaming.CdcStream]]).
  */
object Routing {
  final case class Split(valid: DataFrame, invalid: DataFrame)

  /** Rows of a decoded wire batch per branch; they sum to its wire count. */
  final case class Counts(corrupt: Long, invalid: Long, valid: Long) {
    def wire: Long = corrupt + invalid + valid
  }

  /** F2 holds over the wire's columns: the row is valid. NULL (F2
    * undecidable) is not valid. */
  private def isValid: Column =
    !Columns.isInvalid(col("emp_dob"), col("emp_salary"), col("emp_id"))

  /** Split on the reference's F2 predicate, annotating the invalid branch
    * with per-rule flags (the reference's DLQ message carries no reason —
    * flags cost nothing and make the DLQ actionable).
    *
    * Total: a row F2 cannot decide (a NULL salary or id makes it SQL
    * NULL) goes to the invalid branch, so every row lands in exactly
    * one branch. Its flags say which rule held; all-false/NULL flags
    * mark an undecidable row. It reads the predicate [[branchCounts]]
    * counts with, so the counts reconcile.
    */
  def validateSplit(events: DataFrame): Split =
    Split(
      valid = events.where(isValid),
      invalid = events.where(!coalesce(isValid, lit(false)))
        .withColumn("bad_dob", Columns.dobYear(col("emp_dob")) <= 2007)
        .withColumn("bad_salary", col("emp_salary") <= 100)
        .withColumn("bad_id", col("emp_id") < 0))

  /** The branch counts of a [[CdcWire.fromWire]] batch, the split
    * `validateSplit` makes of its non-corrupt rows, in one job with no
    * exchange: each partition tallies its rows, the driver adds the
    * tallies. (A DataFrame `agg` over a cached batch runs three jobs
    * under AQE: table-cache stage, shuffle map, result.) */
  def branchCounts(decoded: DataFrame): Counts = {
    val branch = when(col("corrupt"), 0)
      .when(isValid, 2)
      .otherwise(1)
    val n = decoded.select(branch).queryExecution.toRdd.aggregate(new Array[Long](3))(
      (acc, r: InternalRow) => { acc(r.getInt(0)) += 1; acc },
      (a, b) => { (0 until 3).foreach(i => a(i) += b(i)); a })
    Counts(corrupt = n(0), invalid = n(1), valid = n(2))
  }
}
