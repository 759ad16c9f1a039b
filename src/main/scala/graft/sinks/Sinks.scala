package graft.sinks

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.cdc.ApplyChanges

/** Sink layer (SURVEY §2.11).
  *
  * The reference's destination is a Postgres table mutated per message
  * (consumer.py:60-91, autocommit per statement). Spark's JDBC writer
  * can only append/overwrite, so upsert semantics live here: a
  * snapshot store that applies a reduced change batch via the merge
  * operator, and a plain-JDBC upsert for real databases. Both are
  * idempotent per batch, which upgrades the reference's at-least-once
  * loss/duplicate windows (SURVEY §2.9) to effectively-exactly-once
  * under streaming checkpointing.
  */
object Sinks {

  /** D1 surface shared by the snapshot-store variants: batch merge in,
    * full read out, D2 totals derived from the stored state (so deletes
    * and updates retract — SURVEY §7.5 risk 1). */
  trait SnapshotStore {
    def exists: Boolean
    def load(): Option[DataFrame]
    def merge(changes: DataFrame, tsCol: String, tieBreak: Seq[String] = Nil): Unit
    /** Write the per-group totals table (group, total_salary, n_emps)
      * for the CURRENT snapshot state to `totalsPath`. */
    def writeTotals(totalsPath: String, groupCol: String, valueCol: String): Unit
  }

  private def deleteRecursive(dir: Path): Unit =
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally walk.close()
    }

  private def oldOf(target: Path): Path = Paths.get(target.toString + ".old")

  /** Atomic dir swap: write-new → move-old-away → rename — crash-safe
    * for a single writer (streaming guarantees one foreachBatch at a
    * time per query) once [[recoverSwap]] runs on open. */
  private def swapInto(target: Path, freshlyWritten: Path): Unit = {
    val old = oldOf(target)
    deleteRecursive(old)
    if (Files.exists(target)) Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(freshlyWritten, target, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursive(old)
  }

  /** Undo a [[swapInto]] cut between its two moves: that crash leaves
    * `target.old` (the last committed state) and no `target`. Run
    * before anything reads or swaps `target` — reading would see an
    * empty destination, and the next swap deletes `.old`, the only
    * copy. */
  private[graft] def recoverSwap(target: Path): Unit =
    if (!Files.exists(target) && Files.exists(oldOf(target)))
      Files.move(oldOf(target), target, StandardCopyOption.ATOMIC_MOVE)

  /** D1 (simple form): one parquet dir, rewritten whole every merge.
    * Fine at fixture scale; see [[BucketedSnapshotStore]] for the form
    * that survives 100 TB (rewrite cost ∝ touched keys, not snapshot
    * size).
    */
  final class ParquetSnapshotStore(spark: SparkSession, path: String, keys: Seq[String])
      extends SnapshotStore {
    private val p = Paths.get(path)
    // remembered after the first write: lets load() skip the parquet
    // footer-inference job — measurable on a sub-second latency budget
    @volatile private var schema: Option[org.apache.spark.sql.types.StructType] = None
    recoverSwap(p)

    def exists: Boolean = Files.exists(p)

    def load(): Option[DataFrame] =
      if (!exists) None
      else Some(schema match {
        case Some(s) => spark.read.schema(s).parquet(path)
        case None => spark.read.parquet(path)
      })

    def overwrite(df: DataFrame): Unit = {
      val tmp = Paths.get(path + ".tmp")
      deleteRecursive(tmp)
      df.write.parquet(tmp.toString)
      swapInto(p, tmp)
      schema = Some(df.schema)
    }

    /** Apply one micro-batch of change events (any mix of actions,
      * possibly several per key) to the snapshot.
      */
    def merge(changes: DataFrame, tsCol: String, tieBreak: Seq[String] = Nil): Unit = {
      import org.apache.spark.sql.functions.col
      val reduced = ApplyChanges.latestPerKey(changes, keys, col(tsCol),
        tieBreak.map(col))
      val next = load() match {
        case Some(snap) => ApplyChanges.mergeIntoSnapshot(snap, reduced, keys)
        case None => reduced.where(org.apache.spark.sql.functions.lower(col("action")) =!= "delete")
      }
      overwrite(next)
    }

    def writeTotals(totalsPath: String, groupCol: String, valueCol: String): Unit = {
      import org.apache.spark.sql.functions._
      load().foreach { snap =>
        val tmp = Paths.get(totalsPath + ".tmp")
        deleteRecursive(tmp)
        snap.groupBy(col(groupCol))
          .agg(sum(col(valueCol)).as("total_salary"), count(lit(1)).as("n_emps"))
          .write.parquet(tmp.toString)
        swapInto(Paths.get(totalsPath), tmp)
      }
    }
  }

  /** D1 (scale form): the snapshot hash-bucketed by key into
    * `numBuckets` fixed, independently-swappable parquet dirs
    * (`path/b=i`). A merge shuffles the batch once by key, joins it
    * against ONLY the buckets its keys land in, and rewrites only those
    * dirs — at 100 TB a micro-batch touching 0.1% of keys rewrites
    * ~0.1% of buckets instead of the whole snapshot. Co-location comes
    * free: bucket id is a pure function of the key on both sides.
    *
    * D2 totals are maintained from per-bucket partial aggregates
    * (`path_parts/b=i`): a merge recomputes partials for touched
    * buckets only, and the final totals re-aggregate |buckets|×|groups|
    * partial rows — never the full snapshot.
    */
  final class BucketedSnapshotStore(spark: SparkSession, path: String,
                                    keys: Seq[String], numBuckets: Int = 16)
      extends SnapshotStore {
    import org.apache.spark.sql.functions._
    private val root = Paths.get(path)
    private val partsRoot = Paths.get(path + "_parts")
    private def bucketDir(i: Int): Path = root.resolve(s"b=$i")
    private def partDir(i: Int): Path = partsRoot.resolve(s"b=$i")
    private def bucketExpr: org.apache.spark.sql.Column =
      pmod(hash(keys.map(col): _*), lit(numBuckets))

    /** Touched buckets of the most recent merge (test/monitoring hook). */
    @volatile private[graft] var lastTouched: Seq[Int] = Nil
    /** Buckets touched since the last totals refresh — accumulates
      * across merges so totals stay exact when several batches land
      * between writeTotals calls. `partialsKnownFresh` is false until
      * THIS instance has written totals: a fresh instance over existing
      * dirs cannot know which on-disk partials are stale (another
      * process may have merged with totals disabled), so it refreshes
      * every bucket once. */
    @volatile private var staleSinceTotals: Set[Int] = Set.empty
    @volatile private var partialsKnownFresh: Boolean = false
    (0 until numBuckets).foreach(b => { recoverSwap(bucketDir(b)); recoverSwap(partDir(b)) })

    def exists: Boolean = Files.exists(root) && existingBuckets.nonEmpty

    private def existingBuckets: Seq[Int] =
      if (!Files.exists(root)) Nil
      else {
        val stream = Files.list(root)
        try {
          val it = stream.iterator()
          val bs = scala.collection.mutable.ArrayBuffer[Int]()
          while (it.hasNext) {
            val name = it.next().getFileName.toString
            if (name.matches("b=\\d+")) bs += name.drop(2).toInt
          }
          bs.toSeq.sorted
        } finally stream.close()
      }

    def load(): Option[DataFrame] = loadBuckets(existingBuckets)

    def loadBuckets(bs: Seq[Int]): Option[DataFrame] = {
      val dirs = bs.map(bucketDir).filter(Files.exists(_)).map(_.toString)
      if (dirs.isEmpty) None else Some(spark.read.parquet(dirs: _*))
    }

    def merge(changes: DataFrame, tsCol: String, tieBreak: Seq[String] = Nil): Unit = {
      val reduced = ApplyChanges.latestPerKey(changes, keys, col(tsCol),
          tieBreak.map(col))
        .withColumn("_b", bucketExpr)
        .persist()
      try {
        // the only driver-side data: the distinct bucket ids (≤ numBuckets ints)
        val touched = reduced.select("_b").distinct().collect().map(_.getInt(0)).toSeq.sorted
        val existing = loadBuckets(touched.filter(b => Files.exists(bucketDir(b))))
        val next = existing match {
          case Some(snap) =>
            ApplyChanges.mergeIntoSnapshot(snap.withColumn("_b", bucketExpr),
              reduced, keys :+ "_b")
          case None => reduced.where(lower(col("action")) =!= "delete")
        }
        val cols = next.columns.toSeq
          .filterNot(c => c == "_b" || c == "action").map(col)
        writePartitioned(next.select((cols :+ col("_b")): _*), root, touched)
        lastTouched = touched
        staleSinceTotals ++= touched
      } finally reduced.unpersist()
    }

    def writeTotals(totalsPath: String, groupCol: String, valueCol: String): Unit = {
      // refresh partials for every bucket touched since the last
      // totals write; a fresh instance (or missing partials) refreshes
      // everything — on-disk partials of unknown provenance are not
      // trusted
      val stale =
        if (Files.exists(partsRoot) && partialsKnownFresh) staleSinceTotals.toSeq.sorted
        else existingBuckets
      if (stale.nonEmpty) {
        val parts = loadBuckets(stale.filter(b => Files.exists(bucketDir(b)))) match {
          case Some(df) => df.withColumn("_b", bucketExpr)
            .groupBy(col("_b"), col(groupCol))
            .agg(sum(col(valueCol)).as("_sum"), count(lit(1)).as("_n"))
          case None => spark.emptyDataFrame
        }
        if (!parts.isEmpty) writePartitioned(parts, partsRoot, stale)
        else stale.foreach(b => deleteRecursive(partDir(b)))
        staleSinceTotals = Set.empty
        partialsKnownFresh = true
      }
      // final totals: |buckets|×|groups| partial rows, never the snapshot
      val dirs = existingBuckets.map(partDir).filter(Files.exists(_)).map(_.toString)
      val totals =
        if (dirs.nonEmpty) Some(spark.read.parquet(dirs: _*)
          .groupBy(col(groupCol))
          .agg(sum(col("_sum")).as("total_salary"), sum(col("_n")).as("n_emps")))
        // every key deleted: the previous table's columns, no rows
        else if (Files.exists(Paths.get(totalsPath))) Some(spark.read.parquet(totalsPath).limit(0))
        else None
      totals.foreach { df =>
        val tmp = Paths.get(totalsPath + ".tmp")
        deleteRecursive(tmp)
        df.write.parquet(tmp.toString)
        swapInto(Paths.get(totalsPath), tmp)
      }
    }

    /** One partitioned write of `df` (which holds only `touched`
      * buckets' rows), then per-bucket atomic swap. A touched bucket
      * with no surviving rows (all keys deleted) is removed, together
      * with any `.old` copy that [[recoverSwap]] would bring back. */
    private def writePartitioned(df: DataFrame, target: Path, touched: Seq[Int]): Unit = {
      val tmp = Paths.get(target.toString + ".tmp")
      deleteRecursive(tmp)
      df.write.partitionBy("_b").parquet(tmp.toString)
      Files.createDirectories(target)
      touched.foreach { b =>
        val fresh = tmp.resolve(s"_b=$b")
        val dest = target.resolve(s"b=$b")
        if (Files.exists(fresh)) swapInto(dest, fresh)
        else { deleteRecursive(oldOf(dest)); deleteRecursive(dest) }
      }
      deleteRecursive(tmp)
    }
  }

  /** D1 (database form): partition-parallel JDBC upsert/delete with
    * key conflict handling — `INSERT ... ON CONFLICT (k) DO UPDATE` /
    * `DELETE WHERE k = ?` per the reference's apply statements
    * (consumer.py:70-91), but one transaction per partition instead of
    * autocommit per row. Executors open their own connections, so this
    * scales out; the driver never sees the data.
    *
    * Statements execute **in row order** (runs of the same action are
    * batched; the pending batch flushes before the action kind
    * switches), so a delete followed by a re-insert of the same key
    * within one batch ends with the row present — matching the
    * reference's sequential apply. Per-KEY order across partitions is
    * the caller's job: reduce with `latestPerKey` first (one row per
    * key) or partition the input by key. Unknown actions are skipped,
    * mirroring the reference's silent fall-through (consumer.py:70-91).
    */
  final case class JdbcUpsert(url: String, table: String, keys: Seq[String],
                              props: java.util.Properties = new java.util.Properties) {

    /** `INSERT ... ON CONFLICT (keys) DO UPDATE SET c = EXCLUDED.c`. */
    def upsertSql(cols: Seq[String]): String = {
      val updates = cols.filterNot(keys.contains)
        .map(c => s"$c = EXCLUDED.$c").mkString(", ")
      s"INSERT INTO $table (${cols.mkString(", ")}) " +
        s"VALUES (${cols.map(_ => "?").mkString(", ")}) " +
        s"ON CONFLICT (${keys.mkString(", ")}) DO UPDATE SET $updates"
    }

    /** `DELETE FROM table WHERE k = ?`. */
    def deleteSql: String =
      s"DELETE FROM $table WHERE " + keys.map(k => s"$k = ?").mkString(" AND ")

    /** Applies one partition's rows over `conn` in row order and
      * commits. Factored out so tests can drive it with a fake
      * `Connection` (no database in the loop).
      */
    private[graft] def applyRows(conn: java.sql.Connection, allCols: Seq[String],
                                 actionCol: String,
                                 rows: Iterator[org.apache.spark.sql.Row]): Unit = {
      val cols = allCols.filterNot(_ == actionCol)
      val up = conn.prepareStatement(upsertSql(cols))
      val del = conn.prepareStatement(deleteSql)
      val actionIdx = allCols.indexOf(actionCol)
      val keyIdx = keys.map(allCols.indexOf)
      val colIdx = cols.map(allCols.indexOf)
      var pending: java.sql.PreparedStatement = null
      def switchTo(st: java.sql.PreparedStatement): Unit = {
        if ((pending ne null) && (pending ne st)) pending.executeBatch()
        pending = st
      }
      rows.foreach { r =>
        String.valueOf(r.get(actionIdx)).toLowerCase match {
          case "delete" =>
            switchTo(del)
            keyIdx.zipWithIndex.foreach { case (ki, i) => del.setObject(i + 1, r.get(ki)) }
            del.addBatch()
          case "insert" | "update" =>
            switchTo(up)
            colIdx.zipWithIndex.foreach { case (ci, i) => up.setObject(i + 1, r.get(ci)) }
            up.addBatch()
          case _ => // unknown action: silent no-op, like the reference
        }
      }
      if (pending ne null) pending.executeBatch()
      conn.commit()
    }

    def apply(changes: DataFrame, actionCol: String = "action"): Unit = {
      val (u, pr, ac) = (url, props, actionCol)
      val allCols = changes.columns.toSeq
      val self = this
      changes.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        if (rows.nonEmpty) {
          val conn = java.sql.DriverManager.getConnection(u, pr)
          conn.setAutoCommit(false)
          try self.applyRows(conn, allCols, ac, rows)
          finally conn.close()
        }
      }
    }
  }

  /** K1/K2: Kafka keyed-JSON sink options (producer.py:10-13 semantics:
    * acks=all, flush per batch). Use with a `key`/`value` DataFrame from
    * [[graft.cdc.CdcWire.toWire]] when the connector jar is present.
    */
  def kafkaSinkOptions(servers: String, topic: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> servers,
    "topic" -> topic,
    "kafka.acks" -> "all")
}
