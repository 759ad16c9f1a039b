package graft.sinks

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermission
import java.util.Comparator
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{LocalFileSystem, RawLocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.cdc.ApplyChanges

/** Sink layer (SURVEY §2.11).
  *
  * The reference's destination is a Postgres table mutated per message
  * (consumer.py:60-91, autocommit per statement). Spark's JDBC writer
  * can only append/overwrite, so upsert semantics live here: a
  * snapshot store that keeps the latest event per key (deletes as
  * tombstone rows, which its reads filter out), and a plain-JDBC
  * upsert for real databases. Both are idempotent per batch, which
  * upgrades the reference's at-least-once loss/duplicate windows
  * (SURVEY §2.9) to effectively-exactly-once under streaming
  * checkpointing; the store also ends in the same state whatever the
  * batch split or arrival order of the events.
  */
object Sinks {

  /** D1 surface of the snapshot store: batch merge in, visible rows
    * out, D2 totals derived from the visible state (so deletes and
    * updates retract — SURVEY §7.5 risk 1). A trait so a wrapper
    * (perfbench's timing store) can stand in for
    * [[ParquetSnapshotStore]]. */
  trait SnapshotStore {
    def exists: Boolean
    def load(): Option[DataFrame]
    def merge(changes: DataFrame, tsCol: String, tieBreak: Seq[String] = Nil): Unit
    /** Write the per-group totals table (group, total_salary, n_emps)
      * for the CURRENT snapshot state to `totalsPath`. */
    def writeTotals(totalsPath: String, groupCol: String, valueCol: String): Unit
  }

  /** Hadoop's local filesystem with `setPermission` done in-process.
    * Without the native Hadoop library, `RawLocalFileSystem` forks a
    * `chmod` for every file and directory it creates with a mode (each
    * parquet part, its `.crc`, every committer dir): 4-8 ms a fork
    * against ~0.02 ms for `java.nio`. Sets the same nine mode bits;
    * the setuid/setgid/sticky bits, which no parquet write asks for,
    * are not set. */
  final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

  private final class NioRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: HPath, permission: FsPermission): Unit = {
      val mode = permission.toShort
      // PosixFilePermission's order, OWNER_READ .. OTHERS_EXECUTE, is
      // mode bits 8 .. 0
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermission.values.filter(b => (mode & (1 << (8 - b.ordinal))) != 0).toSet.asJava)
    }
  }

  /** Hadoop options of every CDC parquet write (DLQ, corrupt,
    * snapshot, totals). They ride on the write, not on the session,
    * because a caller may bring its own session, and a session that
    * has already used `file:` caches the stock filesystem:
    *  - `file:` output goes through [[NioLocalFileSystem]], uncached so
    *    the option wins over the cached instance;
    *  - no `_SUCCESS` marker: nothing reads it, and each of these dirs
    *    commits by a dir swap or a batch-keyed overwrite. */
  private val WriteOptions = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")

  /** Replace `path` with `df` as parquet, with [[WriteOptions]]. */
  private[graft] def writeParquet(df: DataFrame, path: String): Unit =
    df.write.options(WriteOptions).mode("overwrite").parquet(path)

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

  /** D1: one parquet dir holding the latest event per key, rewritten
    * whole every merge, so a merge costs the snapshot size, not the
    * touched keys. A key whose latest event is a delete stays as a
    * tombstone row: a late, older event for it then loses the order
    * instead of resurrecting it. Tombstones are never dropped (no
    * retention horizon). [[load]] is the visible view, without them.
    */
  final class ParquetSnapshotStore(spark: SparkSession, path: String, keys: Seq[String])
      extends SnapshotStore {
    private val p = Paths.get(path)
    // remembered after the first write: lets load() skip the parquet
    // footer-inference job — measurable on a sub-second latency budget
    @volatile private var schema: Option[org.apache.spark.sql.types.StructType] = None
    recoverSwap(p)

    def exists: Boolean = Files.exists(p)

    /** Every stored row, tombstones included. */
    private def stored(): Option[DataFrame] =
      if (!exists) None
      else Some(schema match {
        case Some(s) => spark.read.schema(s).parquet(path)
        case None => spark.read.parquet(path)
      })

    /** The visible snapshot: stored rows whose action is not a delete. */
    def load(): Option[DataFrame] = stored().map(ApplyChanges.visible)

    private def overwrite(df: DataFrame): Unit = {
      val tmp = Paths.get(path + ".tmp")
      writeParquet(df, tmp.toString)
      swapInto(p, tmp)
      schema = Some(df.schema)
    }

    /** Apply one micro-batch of change events (any mix of actions,
      * several per key, in any arrival order, re-sent events included):
      * store the latest event per key of the stored rows and the batch,
      * ordered by (`tsCol`, `tieBreak`) — [[ApplyChanges.applyLog]]'s
      * rule, so the visible snapshot after any split of a log into
      * batches is `applyLog` over the whole log. One keyed exchange over
      * the union.
      */
    def merge(changes: DataFrame, tsCol: String, tieBreak: Seq[String] = Nil): Unit = {
      import org.apache.spark.sql.functions.col
      overwrite(ApplyChanges.latestPerKey(stored().fold(changes)(_.unionByName(changes)),
        keys, col(tsCol), tieBreak.map(col)))
    }

    def writeTotals(totalsPath: String, groupCol: String, valueCol: String): Unit = {
      import org.apache.spark.sql.functions._
      load().foreach { snap =>
        val tmp = Paths.get(totalsPath + ".tmp")
        writeParquet(snap.groupBy(col(groupCol))
          .agg(sum(col(valueCol)).as("total_salary"), count(lit(1)).as("n_emps")),
          tmp.toString)
        swapInto(Paths.get(totalsPath), tmp)
      }
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
}
