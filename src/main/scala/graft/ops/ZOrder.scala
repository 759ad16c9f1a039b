package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering — multi-dimensional data layout for
  * scan pruning, the Delta/Iceberg `OPTIMIZE ZORDER BY` shape. A sort
  * on one column prunes scans filtered on that column only; bit-
  * interleaving two dimensions into one key makes RANGES of the key
  * correspond to RECTANGLES in (a, b) space, so range-partitioning +
  * sorting by z gives every output slice a tight min/max box on BOTH
  * dimensions, and a scan with a 2-d box predicate can skip every
  * file whose box misses it (parquet row-group stats give the same
  * skip within files).
  *
  * Scale shape: the z key is pure per-row bit arithmetic inside
  * whole-stage codegen, no shuffle (`events_zorder_key` computes it;
  * a layout rewrite range-partitions and sorts by it).
  */
object ZOrder {

  /** Interleave the low `bits` bits of k non-negative columns: column
    * j's bit i lands at position i·k + j. k·bits ≤ 62 keeps the key
    * in a long; callers bucket/clamp wider dimensions first. */
  def zValueN(dims: Seq[Column], bits: Int): Column = {
    val k = dims.size
    require(k >= 2, s"need >= 2 dims, got $k")
    require(bits >= 1 && k * bits <= 62, s"$k dims x $bits bits overflow a long")
    val longs = dims.map(_.cast("long"))
    (for {
      i <- 0 until bits
      (d, j) <- longs.zipWithIndex
    } yield shiftleft(shiftright(d, i).bitwiseAND(lit(1L)), i * k + j))
      .reduce(_ bitwiseOR _)
  }

  /** 2-d [[zValueN]]: a's bit i lands at 2i, b's at 2i+1. */
  def zValue(a: Column, b: Column, bits: Int = 16): Column =
    zValueN(Seq(a, b), bits)

  /** DuckDB mirror of [[zValueN]] for oracle parity. */
  def zValueNSql(dims: Seq[String], bits: Int): String = {
    val k = dims.size
    (for {
      i <- 0 until bits
      (d, j) <- dims.zipWithIndex
    } yield s"(((CAST($d AS BIGINT) >> $i) & 1) << ${i * k + j})")
      .mkString("(", " | ", ")")
  }

  /** DuckDB mirror of [[zValue]] for oracle parity. */
  def zValueSql(a: String, b: String, bits: Int = 16): String =
    zValueNSql(Seq(a, b), bits)
}
