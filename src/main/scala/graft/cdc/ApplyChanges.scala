package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The heart of the CDC engine: keyed merge semantics (SURVEY §2.5).
  *
  * The reference applies change events one at a time in `last_updated_at`
  * order with per-action SQL (consumer.py:70-91). Re-expressed for a
  * shuffle-based engine: reduce each key to its latest event with one
  * window (only per-key order matters — a global sort would be a useless
  * all-to-one bottleneck at 100 TB), then apply action semantics
  * declaratively. All operators are pure DataFrame→DataFrame functions;
  * nothing collects to the driver, and every shuffle is keyed by the CDC
  * key so AQE can coalesce/skew-split partitions freely.
  */
object ApplyChanges {

  /** Latest event per key (last-write-wins). `tieBreak` columns make the
    * ordering total — the reference relies on strictly-increasing
    * timestamps (producer.py:34), which real logs violate.
    */
  def latestPerKey(log: DataFrame, keys: Seq[String], ts: Column,
                   tieBreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((ts.desc +: tieBreak.map(_.desc)): _*)
    log.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
  }

  /** A1: first-writer-wins keyed dedup — `INSERT ... ON CONFLICT DO
    * NOTHING` (consumer.py:70-78).
    */
  def firstPerKey(log: DataFrame, keys: Seq[String], ts: Column,
                  tieBreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((ts.asc +: tieBreak.map(_.asc)): _*)
    log.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
  }

  /** A2 (log form): fold a whole change log into the final snapshot.
    * Latest event per key wins; a final `delete` removes the key
    * (consumer.py:70-91 applied transitively). One shuffle on the key.
    */
  def applyLog(log: DataFrame, keys: Seq[String], ts: Column,
               actionCol: Column = col("action"),
               tieBreak: Seq[Column] = Nil): DataFrame =
    latestPerKey(log, keys, ts, tieBreak)
      .where(lower(actionCol) =!= "delete")

  /** A2 (incremental form): merge a batch of changes into an existing
    * snapshot — the `foreachBatch` body of the streaming pipeline.
    * Full-outer join on the key: change row wins when present unless its
    * action is `delete`; otherwise the snapshot row survives. Changes
    * must already be reduced to one row per key (use [[latestPerKey]]).
    * The join shuffles both sides by the key only.
    */
  def mergeIntoSnapshot(snapshot: DataFrame, changes: DataFrame,
                        keys: Seq[String], actionCol: String = "action"): DataFrame = {
    val dataCols = snapshot.columns.filterNot(keys.contains)
    val c = changes.select((keys ++ dataCols :+ actionCol).distinct.map(col): _*)
    val joined = snapshot.as("t").join(c.as("c"), keys, "full_outer")
    val isDelete = lower(col(s"c.$actionCol")) === "delete"
    val useChange = col(s"c.$actionCol").isNotNull && !isDelete
    val projected = keys.map(col) ++ dataCols.map { d =>
      when(useChange, col(s"c.$d")).otherwise(col(s"t.$d")).as(d)
    }
    joined
      .where(col(s"c.$actionCol").isNull || !isDelete) // A3: delete drops the key
      .select(projected: _*)
  }

  /** A3 standalone: hard delete by key, anti-join formulation
    * (consumer.py:90-91). */
  def deleteKeys(snapshot: DataFrame, deletes: DataFrame, keys: Seq[String]): DataFrame =
    snapshot.join(deletes.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** A2 (strict dispatch form): fold a change log with the reference's
    * *procedural* action semantics (consumer.py:70-91) — insert only if
    * absent (ON CONFLICT DO NOTHING), update only if present, delete
    * removes, unknown actions silently no-op (F5 fall-through).
    *
    * [[applyLog]]'s latest-event-wins is equivalent on well-formed logs
    * (trigger-generated, where an update can only follow existence);
    * this form also matches the reference on ill-formed logs, e.g.
    * update-after-delete is dropped rather than resurrected.
    *
    * Per key (one shuffle, three whole-partition window aggregates over
    * the same partitioning): let d = last delete position, i = first
    * insert after d, u = last update after i; survivor = row at
    * coalesce(u, i), or nothing if no insert after the last delete.
    * `ord` must totally order events per key (e.g. a log sequence id).
    */
  def applyLogDispatch(log: DataFrame, keys: Seq[String], ord: Column,
                       actionCol: Column = col("action")): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    val a = lower(actionCol)
    val step1 = log.withColumn("_d", max(when(a === "delete", ord)).over(w))
    val afterDel = step1("_d").isNull || ord > step1("_d")
    val step2 = step1.withColumn("_i",
      min(when(a === "insert" && afterDel, ord)).over(w))
    val step3 = step2.withColumn("_u",
      max(when(a === "update" && step2("_i").isNotNull && ord > step2("_i"), ord)).over(w))
    step3.where(ord === coalesce(step3("_u"), step3("_i")))
      .drop("_d", "_i", "_u")
  }

  /** S6 companion: two-point-in-time SNAPSHOT DIFF of a change log —
    * which keys were added / removed / changed between the `t1`
    * reconstruction and head, and which columns changed. Both
    * snapshots come out of ONE pass over the log: a single keyed
    * window carries (a) the latest payload at or before `t1` via the
    * conditional `last(struct, ignoreNulls)` idiom (struct-wrapped so
    * a legitimately-NULL field inside a present version can't be
    * skipped over) and (b) the head payload as the rn=1 row itself —
    * no second scan, no snapshot-vs-snapshot join; the diff of two
    * reconstructions costs the same shuffle as one reconstruction.
    * Presence = latest action ≠ delete on each side (never-present
    * and unchanged keys drop); `changed_cols` joins the null-safe
    * (`<=>`) per-column diffs. `s1`/`s2` expose the full before/after
    * payload structs (action + `diffCols`) for callers to project.
    *
    * At 100 TB this is the CDC audit primitive: one keyed shuffle
    * over the log prefix, output bounded by |changed keys|.
    * Equivalence to the two-reconstruction definition (applyLog at
    * t1 vs head, full-outer joined) is property-pinned on randomized
    * logs in ApplyChangesOracleSpec.
    */
  def snapshotDiff(log: DataFrame, keys: Seq[String], ts: Column, t1: Column,
                   diffCols: Seq[String], actionCol: Column = col("action"),
                   tieBreak: Seq[Column] = Nil): DataFrame = {
    val payload = struct((actionCol.as("action") +:
      diffCols.map(c => col(c).as(c))): _*)
    val wAsc = Window.partitionBy(keys.map(col): _*)
      .orderBy((ts.asc +: tieBreak.map(_.asc)): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDesc = Window.partitionBy(keys.map(col): _*)
      .orderBy((ts.desc +: tieBreak.map(_.desc)): _*)
    val top = log
      .withColumn("s1", last(when(ts <= t1, payload), ignoreNulls = true)
        .over(wAsc))
      .withColumn("_rn", row_number().over(wDesc))
      .where(col("_rn") === 1)
      .select((keys.map(col) :+ col("s1") :+ payload.as("s2")): _*)
    val p1 = col("s1").isNotNull && lower(col("s1.action")) =!= "delete"
    val p2 = lower(col("s2.action")) =!= "delete"
    val changed = concat_ws(",", diffCols.map(c =>
      when(!(col(s"s1.$c") <=> col(s"s2.$c")), lit(c))): _*)
    top
      .withColumn("status",
        when(!p1 && p2, lit("added"))
          .when(p1 && !p2, lit("removed"))
          .when(p1 && p2 && changed =!= "", lit("changed")))
      .where(col("status").isNotNull)
      .withColumn("changed_cols",
        when(col("status") === "changed", changed).otherwise(lit("")))
  }
}
