package graft

import org.apache.spark.sql.functions._
import graft.ops.ZOrder

/** Z-order key: bit interleave correctness, and the DuckDB mirror. */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("zValue interleaves bits (a even positions, b odd)") {
    // a=5 (101), b=3 (011): bits a0@0, b0@1, a1@2, b1@3, a2@4, b2@5
    // = 1 + 2 + 0 + 8 + 16 + 0 = 27
    val got = Seq((5L, 3L)).toDF("a", "b")
      .select(ZOrder.zValue(col("a"), col("b"), 3).as("z"))
      .as[Long].head()
    assert(got === 27L)
    // SQL mirror agrees
    val viaSql = spark.sql(s"SELECT ${ZOrder.zValueSql("5", "3", 3)} AS z")
    assert(viaSql.as[Long].head() === 27L)
  }

  test("zValueN interleaves three dims round-robin") {
    // a=1 (bit0), b=1 (bit0), c=1 (bit0), k=3: positions 0,1,2 -> 7
    val df = Seq((1L, 1L, 1L)).toDF("a", "b", "c")
    val z3 = df.select(ZOrder.zValueN(Seq(col("a"), col("b"), col("c")), 2).as("z"))
      .as[Long].head()
    assert(z3 === 7L)
    // a=2 (bit1 at pos 1*3+0=3), b=0, c=1 (bit0 at pos 2) -> 8 + 4 = 12
    val z4 = Seq((2L, 0L, 1L)).toDF("a", "b", "c")
      .select(ZOrder.zValueN(Seq(col("a"), col("b"), col("c")), 2).as("z"))
      .as[Long].head()
    assert(z4 === 12L)
    // SQL mirror agrees on a mixed case
    val viaSql = spark.sql(
      s"SELECT ${ZOrder.zValueNSql(Seq("2", "0", "1"), 2)} AS z")
    assert(viaSql.as[Long].head() === 12L)
    // 2-d zValue is the k=2 special case of zValueN
    val a = Seq((5L, 3L)).toDF("a", "b")
    val viaN = a.select(ZOrder.zValueN(Seq(col("a"), col("b")), 3).as("z")).as[Long].head()
    assert(viaN === 27L)
  }
}
