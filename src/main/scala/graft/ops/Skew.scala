package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-safe aggregation patterns (SURVEY §7.4 scale notes; SCALE.md).
  *
  * Plain sums/counts are already skew-immune in Spark (map-side partial
  * aggregation), but *distinct* aggregates over a low-cardinality group
  * key concentrate every distinct value of the hottest group on one
  * reducer. The two-stage formulation shuffles on (group, value) first
  * — high combined cardinality spreads the hot group across all
  * partitions — then counts rows per group. AQE's skew handling splits
  * any residual hot partitions at runtime.
  */
object Skew {

  /** COUNT(DISTINCT value) per group, two-stage skew-safe form with
    * full SQL semantics: NULL values are not counted, but a group whose
    * values are ALL null still appears with count 0 (a naive
    * not-null-filter-first would drop the group entirely).
    *
    * Group columns are aliased to generated unique names internally
    * (two expression-valued columns can render to the SAME
    * auto-generated name, which would corrupt the distinct/join on
    * names) and restored to their caller-visible names on output. */
  def distinctCount(df: DataFrame, groupCols: Seq[Column], value: Column,
                    as: String = "n_distinct"): DataFrame = {
    val outNames = df.select(groupCols: _*).columns.toSeq
    val gNames = groupCols.indices.map(i => s"_g$i")
    val base = df.select((groupCols.zip(gNames).map { case (c, n) => c.as(n) } :+
      value.as("_v")): _*)
    val groups = base.select(gNames.map(col): _*).distinct()
    val counts = base.where(col("_v").isNotNull)
      .distinct() // shuffle on (group, value): hot groups spread by value
      .groupBy(gNames.map(col): _*)
      .agg(count(lit(1)).as(as))
    groups.join(counts, gNames, "left").na.fill(0L, Seq(as))
      .select((gNames.zip(outNames).map { case (g, n) => col(g).as(n) } :+
        col(as)): _*)
  }

  /** Equi-join immune to PROBE-side key skew, for when AQE's skew-join
    * split can't apply (the skewed exchange feeds a co-grouped
    * window/agg, or the build side is just over the broadcast budget):
    * the build side is replicated across `salts` copies and the probe
    * side scatters each row to ONE copy by a row hash, so a hot key's
    * probe rows spread over `salts` reducers instead of one. Each
    * probe row still meets every matching build row exactly once —
    * the result is row-identical to the plain join.
    *
    * `joinType` must be "inner" or "left" (a right/full join would
    * count the replicated build rows `salts` times); left-side columns
    * keep their names, so the caller's projection is unchanged. Build
    * shuffle volume grows `salts`×: size the knob to the skew factor,
    * not higher — 8-32 covers the hot-key ratios AQE reports in
    * practice. The probe salt mixes the keys with the partition id and
    * the per-partition row index — row-unique, so even an
    * all-identical-rows hot key spreads; NOT a hash of the whole row,
    * which would crash on unhashable column types (MapType/Variant)
    * and pay a wide-row hash per row. Partition id and row index are
    * both recomputed identically when a task retries the same split,
    * and the join RESULT is salt-invariant regardless (the
    * determinism matrix re-checks this under re-partitioning).
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, keys: Seq[String],
                 salts: Int, joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left",
      s"saltedJoin supports inner/left, not $joinType")
    val saltKey = "__graft_salt"
    val p = probe.withColumn(saltKey, probeSalt(keys, salts))
    val b = build.withColumn(saltKey,
      explode(array((0 until salts).map(lit): _*)))
    p.join(b, keys :+ saltKey, joinType).drop(saltKey)
  }

  /** The probe-side salt [[saltedJoin]] assigns — exposed so tests
    * observe the operator's actual fan-out formula instead of
    * re-deriving a copy that could drift. */
  def probeSalt(keys: Seq[String], salts: Int): Column =
    pmod(hash((keys.map(col) :+ spark_partition_id() :+
      monotonically_increasing_id()): _*), lit(salts))
}
