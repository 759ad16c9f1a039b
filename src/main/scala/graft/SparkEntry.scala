package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.cdc.{ApplyChanges, Fixtures, Routing, SalaryPipeline}
import graft.ops.Sessionize

/** Driver contract — one `queries` entry + matching DuckDB `oracleSql`
  * per implemented operator (SURVEY.md §2 inventory).
  *
  * Conventions that keep the DuckDB compare byte-stable:
  *  - double aggregates are cast to DECIMAL before summing (parallel
  *    double reduction is order-dependent; decimal is exact), and the
  *    final column is emitted as a scaled BIGINT (`_x100` / `_x10k`
  *    suffix = value × 100 / × 10000): DECIMAL outputs with trailing
  *    zeros ("123.40") canonicalize differently across readers and
  *    hash-mismatched in round 1 — integers are stable everywhere,
  *  - constructed timestamps are TIMESTAMP_NTZ in UTC (DuckDB
  *    timestamps are naive),
  *  - every query ends in a total ORDER BY,
  *  - column names are aliased identically on both sides.
  */
object SparkEntry {

  /** Flagship: full CDC pipeline (validate → DLQ split → apply-changes
    * merge) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    qCdcApplyChanges(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- CDC

  /** A2/O1: latest event per key over the derived change log. */
  private def qCdcLatestPerKey(s: SparkSession, dir: String): DataFrame = {
    val log = Fixtures.employeeCdcLog(s, dir)
    ApplyChanges.latestPerKey(log, Seq("emp_id"), col("last_updated_at"),
        tieBreak = Seq(col("event_id")))
      .select(col("emp_id"), col("event_id"), col("action"), col("emp_salary"),
        col("last_updated_at").cast("timestamp_ntz").as("last_updated_at"))
      .orderBy("emp_id")
  }

  /** F2+R1+A2+A3: the reference consumer's full apply path
    * (consumer.py:40-102): drop invalid events, fold the remainder into
    * the destination snapshot with last-write-wins + delete.
    */
  private def qCdcApplyChanges(s: SparkSession, dir: String): DataFrame = {
    val log = Fixtures.employeeCdcLog(s, dir)
    val valid = Routing.validateSplit(log).valid
    ApplyChanges.applyLog(valid, Seq("emp_id"), col("last_updated_at"),
        tieBreak = Seq(col("event_id")))
      .select(col("emp_id"), col("emp_FN"), col("emp_LN"), col("emp_dob"),
        col("emp_city"), col("emp_salary"), col("action"),
        col("last_updated_at").cast("timestamp_ntz").as("last_updated_at"))
      .orderBy("emp_id")
  }

  /** R1: DLQ branch with per-rule reason flags. */
  private def qCdcDlqSplit(s: SparkSession, dir: String): DataFrame = {
    val log = Fixtures.employeeCdcLog(s, dir)
    Routing.validateSplit(log).invalid
      .select(col("emp_id"), col("event_id"), col("action"), col("emp_dob"),
        col("emp_salary"), col("bad_dob"), col("bad_salary"), col("bad_id"))
      .orderBy("emp_id", "event_id")
  }

  /** A1: first-writer-wins dedup of insert events (ON CONFLICT DO
    * NOTHING, consumer.py:70-78). */
  private def qCdcDedupFirst(s: SparkSession, dir: String): DataFrame = {
    val inserts = Fixtures.employeeCdcLog(s, dir).where(col("action") === "insert")
    ApplyChanges.firstPerKey(inserts, Seq("emp_id"), col("last_updated_at"),
        tieBreak = Seq(col("event_id")))
      .select(col("emp_id"), col("event_id"), col("emp_salary"),
        col("last_updated_at").cast("timestamp_ntz").as("last_updated_at"))
      .orderBy("emp_id")
  }

  /** A4: keyed running total over the applied snapshot (the aggregate
    * table of project 1, maintained on the merged state so deletes
    * retract naturally — SURVEY §7.5 risk 1). */
  private def qCdcCityTotals(s: SparkSession, dir: String): DataFrame = {
    val snap = {
      val log = Fixtures.employeeCdcLog(s, dir)
      val valid = Routing.validateSplit(log).valid
      ApplyChanges.applyLog(valid, Seq("emp_id"), col("last_updated_at"),
        tieBreak = Seq(col("event_id")))
    }
    snap.groupBy(col("emp_city"))
      .agg(sum(col("emp_salary")).as("total_salary"), count(lit(1)).as("n_emps"))
      .orderBy("emp_city")
  }

  /** SCD type-2 history construction from the change log: every valid
    * event becomes a version row with [valid_from, valid_to) bounds —
    * valid_to is the next version's timestamp (NULL while current) —
    * and the latest non-delete version is flagged current. This is the
    * "keep every version queryable" destination a CDC consumer builds
    * next to the latest-wins snapshot. One keyed shuffle; version
    * number and interval close share a single window pass over the
    * unique (ts, event_id) order. */
  private def qCdcScd2History(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val valid = Routing.validateSplit(Fixtures.employeeCdcLog(s, dir)).valid
    val w = Window.partitionBy(col("emp_id"))
      .orderBy(col("last_updated_at"), col("event_id"))
    valid
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to", lead(col("last_updated_at"), 1).over(w))
      .select(col("emp_id"), col("version"), col("action"), col("emp_salary"),
        col("last_updated_at").cast("timestamp_ntz").as("valid_from"),
        col("valid_to").cast("timestamp_ntz").as("valid_to"),
        (col("valid_to").isNull && col("action") =!= "delete").as("is_current"))
      .orderBy("emp_id", "version")
  }

  /** Point-in-time snapshot reconstruction (time travel): the applied
    * snapshot as of a cutoff is just the latest-wins apply over the
    * log filtered to events at or before it — the cutoff predicate
    * pushes into the scan, so reconstructing an old snapshot reads
    * only the prefix of the log, never the snapshot store. */
  private def qCdcTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val valid = Routing.validateSplit(Fixtures.employeeCdcLog(s, dir)).valid
    val asOf = lit("2024-01-15 00:00:00").cast("timestamp")
    ApplyChanges.applyLog(valid.where(col("last_updated_at") <= asOf),
        Seq("emp_id"), col("last_updated_at"), tieBreak = Seq(col("event_id")))
      .select(col("emp_id"), col("emp_FN"), col("emp_LN"), col("emp_dob"),
        col("emp_city"), col("emp_salary"), col("action"),
        col("last_updated_at").cast("timestamp_ntz").as("last_updated_at"))
      .orderBy("emp_id")
  }

  /** Snapshot reconciliation (diff) between two points in time — the
    * verification-scan companion to `cdc_time_travel`: which keys were
    * added / removed / changed between the t₁ snapshot and head, and
    * WHICH columns changed, with salary before/after projected from
    * the payload structs. The one-pass mechanics (single keyed
    * window, struct-wrapped conditional last, null-safe column diff)
    * live in the reusable operator [[ApplyChanges.snapshotDiff]] —
    * property-pinned against the two-reconstruction definition on
    * randomized logs; this query binds it to the employee fixture.
    */
  private def qCdcSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val valid = Routing.validateSplit(Fixtures.employeeCdcLog(s, dir)).valid
    // lower(): the same presence rule snapshotDiff itself applies —
    // a mixed-case 'Delete' head must not be present here yet
    // 'removed' there (the fixture is lowercase via P5, but the two
    // layers must agree by construction, not by luck)
    val p1 = col("s1").isNotNull && lower(col("s1.action")) =!= "delete"
    val p2 = lower(col("s2.action")) =!= "delete"
    ApplyChanges.snapshotDiff(valid, Seq("emp_id"),
        col("last_updated_at"), lit("2024-01-15 00:00:00").cast("timestamp"),
        Seq("emp_FN", "emp_LN", "emp_dob", "emp_city", "emp_salary"),
        tieBreak = Seq(col("event_id")))
      .select(col("emp_id"), col("status"), col("changed_cols"),
        when(p1, col("s1.emp_salary")).as("salary_before"),
        when(p2, col("s2.emp_salary")).as("salary_after"))
      .orderBy("emp_id")
  }

  /** CDC-AWARE SURVIVORSHIP (golden record over a change HISTORY) —
    * the composition the reference's two halves invite: the corpus
    * golden record elects attributes across a near-dup CLUSTER; here
    * each attribute of an entity is elected across its CDC VERSIONS,
    * with per-attribute rules (survivorship per Talburt 2011, recency
    * rule; reference change semantics per consumer.py:70-91):
    * `dob_mode` = most frequent value across versions (count desc,
    * value asc — the corpus query's election), `dob_recency` = value
    * of the LATEST version (last_updated_at, event_id — the CDC
    * rule), `salary_max` = keep-best, `salary_latest` = recency.
    * `elections_agree` surfaces where the two rules disagree — the
    * measured argument for choosing a rule, the same reporting
    * discipline as the attribution twins. Deletes are not attribute
    * observations and are excluded.
    *
    * Scale shape: TWO chained partial-aggregable exchanges over ONE
    * scan — no window, no join, no rank anywhere. The mode election
    * is `min(struct(-cnt, dob))` over the per-(entity, value) counts
    * and the recency election is `max(struct(ts, eid, …))` carried
    * through the same aggregate, so both elections combine map-side
    * and survive any skew AQE can't already handle. (Values are
    * non-null by fixture construction; a null-bearing attribute
    * would need the explicit null placement the corpus mode election
    * pins.)
    */
  private def qCdcGoldenRecord(s: SparkSession, dir: String): DataFrame = {
    val valid = Routing.validateSplit(Fixtures.employeeCdcLog(s, dir)).valid
      .where(col("action") =!= "delete")
    valid
      .groupBy(col("emp_id"), col("emp_dob"))
      .agg(count(lit(1)).as("cnt"),
        max(col("emp_salary")).as("grp_sal_max"),
        max(struct(col("last_updated_at").as("ts"), col("event_id").as("eid"),
          col("emp_salary").as("sal"))).as("latest"))
      .groupBy(col("emp_id"))
      .agg(sum(col("cnt")).as("n_versions"),
        max(col("grp_sal_max")).as("salary_max"),
        min(struct((-col("cnt")).as("neg"), col("emp_dob").as("dob"))).as("m"),
        max(struct(col("latest.ts").as("ts"), col("latest.eid").as("eid"),
          col("emp_dob").as("dob"), col("latest.sal").as("sal"))).as("r"))
      .select(col("emp_id"), col("n_versions"),
        col("m.dob").as("dob_mode"), col("r.dob").as("dob_recency"),
        (col("m.dob") === col("r.dob")).as("elections_agree"),
        col("salary_max"), col("r.sal").as("salary_latest"))
      .orderBy("emp_id")
  }

  /** REFERENTIAL-INTEGRITY audit across the warehouse's foreign keys —
    * the verification-scan (S6) family's cross-TABLE member: per FK
    * edge, how many child rows point at a missing parent. The four
    * TPC-H edges hold by construction (the audit proves it as data);
    * the CDC-employee → customer edge genuinely breaks, so the
    * fixture discriminates a non-zero orphan count.
    *
    * Scale shape: each check is ONE child scan pruned to the FK
    * column, left-joined against the distinct parent keys so the
    * total and orphan counts come out of the same pass (parent key
    * sets are dimension-bounded for the dims and AQE-planned for the
    * facts); the six 1-row aggregates union. No row data ever
    * crosses — only keys. The four TPC-H edges hold; the CDC
    * employee dimension's
    * derived keys (user_id − 2, [[Fixtures.employeeCdcLog]]) include
    * ids below every customer key, so that edge reports real orphans
    * at every SF — the audit discriminates instead of hash-pinning
    * zeros.
    */
  private def qRiAudit(s: SparkSession, dir: String): DataFrame = {
    // ONE child scan per check: the left join against the distinct
    // parent keys computes total and orphan counts in the same pass
    // (a separate count + anti-join pair would scan the child twice)
    def check(name: String, child: DataFrame, parent: DataFrame): DataFrame =
      child.join(parent.distinct().withColumn("_hit", lit(1)), Seq("k"), "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when(col("_hit").isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(name).as("fk"), col("n_child"), col("n_orphans"))
    val o = Tables.orders(s, dir); val l = Tables.lineitem(s, dir)
    val c = Tables.customer(s, dir); val su = Tables.supplier(s, dir)
    val n = Tables.nation(s, dir); val ev = Tables.events(s, dir)
    Seq(
      check("lineitem->orders", l.select(col("l_orderkey").as("k")),
        o.select(col("o_orderkey").as("k"))),
      check("lineitem->part", l.select(col("l_partkey").as("k")),
        Tables.part(s, dir).select(col("p_partkey").as("k"))),
      check("orders->customer", o.select(col("o_custkey").as("k")),
        c.select(col("c_custkey").as("k"))),
      check("customer->nation", c.select(col("c_nationkey").as("k")),
        n.select(col("n_nationkey").as("k"))),
      check("supplier->nation", su.select(col("s_nationkey").as("k")),
        n.select(col("n_nationkey").as("k"))),
      check("cdc_employees->customer",
        ev.select((col("user_id") - 2).as("k")),
        c.select(col("c_custkey").as("k"))))
      .reduce(_.unionByName(_))
      .orderBy("fk")
  }

  /** KEY-UNIQUENESS audit — the companion data-quality check to
    * [[qRiAudit]]: per declared key, how many rows collide on it
    * (`n_dup_rows = n_rows − n_keys`). The single-column physical
    * keys hold (proven as data); the synthetic lineitem does NOT keep
    * TPC-H's composite (orderkey, linenumber) key — a real fixture
    * fact the audit surfaces rather than assumes away. Two CONTENT
    * keys complete the picture: the exact-dup fingerprint (collides
    * once exact duplicates enter the corpus — at sf0.1, not the
    * smaller fixtures) and the 8-token prefix key (collides at EVERY
    * SF — near-dups share prefixes, which is exactly why blocking
    * keys aren't primary keys). One scan + one exact two-phase COUNT
    * DISTINCT per check (single-distinct aggregates never Expand);
    * key-only columns cross the wire.
    */
  private def qPkAudit(s: SparkSession, dir: String): DataFrame = {
    def check(name: String, keyed: DataFrame): DataFrame =
      keyed.agg(count(lit(1)).as("n_rows"),
          count_distinct(col("k")).as("n_keys"))
        .select(lit(name).as("key"), col("n_rows"), col("n_keys"),
          (col("n_rows") - col("n_keys")).as("n_dup_rows"))
    Seq(
      check("orders.o_orderkey",
        Tables.orders(s, dir).select(col("o_orderkey").as("k"))),
      check("lineitem.(orderkey,linenumber)",
        Tables.lineitem(s, dir).select(
          struct(col("l_orderkey"), col("l_linenumber")).as("k"))),
      check("customer.c_custkey",
        Tables.customer(s, dir).select(col("c_custkey").as("k"))),
      check("events.event_id",
        Tables.events(s, dir).select(col("event_id").as("k"))),
      check("documents.doc_id",
        Tables.documents(s, dir).select(col("doc_id").as("k"))),
      check("documents.fingerprint",
        Tables.documents(s, dir).select(
          graft.ops.Text.fingerprint(col("text")).as("k"))),
      check("documents.prefix8_key",
        Tables.documents(s, dir).select(
          concat_ws(" ", slice(graft.ops.Text.tokens(col("text")), 1, 8))
            .as("k"))))
      .reduce(_.unionByName(_))
      .orderBy("key")
  }

  /** Project-1 pipeline (F3/F4/P7/A4) on the `orders` fixture. */
  private def qP1SalaryPipeline(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val filtered = SalaryPipeline.filterEmployees(o,
      Seq("1-URGENT", "2-HIGH"), 1998,
      dept = col("o_orderpriority"), hireDate = col("o_orderdate"))
    SalaryPipeline.departmentTotals(filtered,
        dept = col("o_orderpriority"), salary = col("o_totalprice"))
      .orderBy("department")
  }

  // ------------------------------------------------------- TPC-H-style

  private def decSum(c: Column, castTo: String, outTo: String, name: String): Column =
    sum(c.cast(castTo)).cast(outTo).as(name)

  /** Narrow a scaled decimal to BIGINT, raising on overflow: non-ANSI
    * Spark would silently emit NULL where DuckDB raises, and the two
    * engines would diverge quietly near the int64 edge at large SF.
    */
  private[graft] def checkedLong(scaled: Column, name: String): Column =
    when(scaled.isNull ||
        (scaled >= lit(Long.MinValue) && scaled <= lit(Long.MaxValue)),
      scaled.cast("long"))
      .otherwise(raise_error(concat(lit(s"$name overflows BIGINT: "),
        scaled.cast("string"))))
      .as(name)

  /** Exact decimal sum emitted as a scaled BIGINT (see scaladoc above). */
  private[graft] def decSumScaled(c: Column, castTo: String, scale: Int, name: String): Column =
    checkedLong(sum(c.cast(castTo)) * lit(scale), name)

  private def qQ1Agg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        decSumScaled(col("l_quantity"), "decimal(12,2)", 100, "sum_qty_x100"),
        decSumScaled(col("l_extendedprice"), "decimal(12,2)", 100, "sum_base_price_x100"),
        decSumScaled(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          "decimal(18,4)", 10000, "sum_disc_price_x10k"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  private def qQ3TopkJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, dir)
      .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
    val li = Tables.lineitem(s, dir)
      .where(col("l_shipdate") > lit("1998-01-01").cast("timestamp_ntz"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"),
        col("o_orderpriority"))
      .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
        "decimal(18,4)", "decimal(38,4)", "revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  private def qQ5MultiJoin(s: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(s, dir).where(col("r_regionkey") === 2)
    val n = Tables.nation(s, dir)
    val c = Tables.customer(s, dir)
    val sup = Tables.supplier(s, dir)
    val o = Tables.orders(s, dir)
      .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
             col("o_orderdate") < lit("1999-01-01").cast("timestamp_ntz"))
    val li = Tables.lineitem(s, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey") &&
               col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(decSumScaled(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
        "decimal(18,4)", 10000, "revenue_x10k"))
      .orderBy(col("revenue_x10k").desc, col("n_name").asc)
  }

  /** Q22 flavor: positive-balance customers with no RECENT order —
    * the NOT EXISTS decorrelation, expressed as a left-anti join (the
    * plan Catalyst produces for the subquery form). */
  private def qCustomersNoOrders(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).where(col("c_acctbal") > 0)
    val o = Tables.orders(s, dir)
      .where(col("o_orderdate") >= lit("1998-06-01").cast("timestamp_ntz"))
      .select(col("o_custkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"),
        floor(col("c_acctbal") * 100).cast("long").as("acctbal_x100"))
      .orderBy("c_custkey")
  }

  /** Month-over-month revenue deltas: monthly totals then lag() over
    * the month sequence. The unpartitioned window is safe here BECAUSE
    * it runs over the already-aggregated month table (|months| rows,
    * not |orders|) — the aggregation shuffles keyed, and only the tiny
    * rollup passes through the single-partition window. */
  private def qOrdersMonthlyMom(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val monthly = Tables.orders(s, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("timestamp_ntz").as("month"))
      .agg(sum(floor(col("o_totalprice")).cast("long")).as("revenue"))
    monthly
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(Window.orderBy(col("month"))))
      .select(col("month"), col("revenue"),
        (col("revenue") - coalesce(col("prev_revenue"), lit(0L))).as("delta"))
      .orderBy("month")
  }

  /** Rollup aggregation (grouping sets): per-(flag, status) subtotals,
    * per-flag totals, and the grand total in one pass — labels via
    * GROUPING() instead of NULL indicators so the oracle compare never
    * depends on engine NULL-ordering. */
  private def qQ1Rollup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        decSumScaled(col("l_quantity"), "decimal(12,2)", 100, "sum_qty_x100"),
        grouping(col("l_returnflag")).as("_gf"),
        grouping(col("l_linestatus")).as("_gs"))
      .select(
        when(col("_gf") === 1, "ALL").otherwise(col("l_returnflag")).as("returnflag"),
        when(col("_gs") === 1, "ALL").otherwise(col("l_linestatus")).as("linestatus"),
        col("n"), col("sum_qty_x100"))
      .orderBy("returnflag", "linestatus")

  /** Q14-style promo revenue: lineitem ⋈ part by partkey, revenue split
    * by promo parts vs total per month. Both revenue columns scaled
    * BIGINT (the division of the classic Q14 would reintroduce float
    * canonicalization; emitting numerator + denominator is exact and
    * lets the reader divide). */
  private def qQ14Promo(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .where(col("l_shipdate") >= lit("1998-01-01").cast("timestamp_ntz") &&
             col("l_shipdate") < lit("1998-07-01").cast("timestamp_ntz"))
    val p = Tables.part(s, dir)
    li.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).cast("timestamp_ntz").as("month"))
      .agg(
        checkedLong(sum(when(col("p_type") === "PROMO",
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,4)"))
          .otherwise(lit(0).cast("decimal(18,4)"))) * lit(10000),
          "promo_revenue_x10k"),
        decSumScaled(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          "decimal(18,4)", 10000, "total_revenue_x10k"))
      .orderBy("month")
  }

  /** Q6: the pure filter-aggregate — no join, one scan; every predicate
    * pushes into the parquet reader (PushedFilters), the projection
    * prunes to three columns, and the single partial-aggregated sum is
    * the cheapest possible distributed plan. */
  private def qQ6FilterAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .where(col("l_shipdate") >= lit("1995-01-01").cast("timestamp_ntz") &&
             col("l_shipdate") < lit("1996-01-01").cast("timestamp_ntz") &&
             col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
             col("l_quantity") < 24)
      .agg(decSumScaled(col("l_extendedprice") * col("l_discount"),
          "decimal(18,4)", 10000, "revenue_x10k"),
        count(lit(1)).as("n_items"))

  /** Q4 flavor: orders having at least one line shipped more than 90
    * days after the order date — EXISTS as a left-semi join (one keyed
    * shuffle, lineitem deduped by the semi-join itself, no distinct). */
  private def qQ4ExistsPriority(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** Q7-style nation-pair trade volume: revenue between each (supplier
    * nation, customer nation) pair per ship year. Fact-fact joins
    * shuffle on their keys; the nation dimension broadcasts twice
    * under different aliases. */
  private def qQ7NationVolume(s: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.nation(s, dir).select(
      col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, dir).select(
      col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
      .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
      .where(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(decSumScaled(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
        "decimal(18,4)", 10000, "volume_x10k"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** Q10: returned-item revenue per customer for one quarter, top 20 —
    * order-date filter pushed to the orders scan, returnflag filter to
    * the lineitem scan, nation broadcast, keyed agg before the top-k. */
  private def qQ10ReturnedTopk(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
             col("o_orderdate") < lit("1996-04-01").cast("timestamp_ntz"))
    val li = Tables.lineitem(s, dir).where(col("l_returnflag") === "R")
    val n = Tables.nation(s, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(decSumScaled(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
        "decimal(18,4)", 10000, "revenue_x10k"))
      .orderBy(col("revenue_x10k").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** Q13-style customer order-count distribution. The orders fact
    * pre-aggregates by custkey FIRST (map-side partials; the keyed
    * shuffle carries one count per customer, not raw orders), then a
    * left join against customer fills in the zero-order customers and
    * the second aggregation runs over |customers| rows.
    */
  private def qQ13OrderDist(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(s, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    Tables.customer(s, dir).select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n"), lit(0L)).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("n_custs"))
      .orderBy("c_count")
  }

  /** Q15-style top supplier: quarterly revenue per supplier, keep the
    * max. The scalar max broadcasts back against the per-supplier
    * aggregate (no window over a global sort), and the surviving
    * handful of rows broadcast into the supplier dimension join.
    */
  private def qQ15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .where(col("l_shipdate") >= lit("1997-10-01").cast("timestamp_ntz") &&
             col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
      .groupBy(col("l_suppkey"))
      .agg(decSumScaled(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
        "decimal(18,4)", 10000, "total_revenue_x10k"))
    val mx = rev.agg(max(col("total_revenue_x10k")).as("max_rev"))
    val top = rev.join(broadcast(mx), col("total_revenue_x10k") === col("max_rev"))
      .select(col("l_suppkey"), col("total_revenue_x10k"))
    Tables.supplier(s, dir)
      .join(broadcast(top), col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue_x10k"))
      .orderBy("s_suppkey")
  }

  /** Q17-style small-quantity revenue: lineitems of one brand's parts
    * whose quantity is below 20% of that part's average. The brand's
    * part keys broadcast into the lineitem scan (the only full-fact
    * pass), the per-part stats aggregate over the already-pruned rows
    * and broadcast back, and the avg comparison is integer
    * cross-multiplied (5·q·n < Σq — no float division on either
    * engine).
    */
  private def qQ17SmallQty(s: SparkSession, dir: String): DataFrame = {
    val brandParts = Tables.part(s, dir)
      .where(col("p_brand") === "Brand#23").select(col("p_partkey"))
    val base = Tables.lineitem(s, dir)
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
    val stats = base.groupBy(col("l_partkey").as("pk"))
      .agg(count(lit(1)).as("n_li"),
        checkedLong(sum(col("l_quantity").cast("decimal(12,2)")) * lit(100),
          "sum_q_x100"))
    val qx100 = (col("l_quantity").cast("decimal(12,2)") * lit(100)).cast("long")
    base.join(broadcast(stats), col("l_partkey") === col("pk"))
      .where(lit(5L) * qx100 * col("n_li") < col("sum_q_x100"))
      .agg(decSumScaled(col("l_extendedprice"), "decimal(18,4)", 10000,
          "sum_price_x10k"),
        count(lit(1)).as("n_items"))
  }

  /** Q18-style large-volume orders: orders whose total quantity tops
    * 300, with customer context, top 100. The HAVING runs on the
    * lineitem-side aggregate before any join (map-side partials, one
    * keyed shuffle), so both joins see only the few hundred surviving
    * keys — AQE broadcasts them at runtime.
    */
  private def qQ18BigOrders(s: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(decSumScaled(col("l_quantity"), "decimal(12,2)", 100, "sum_qty_x100"))
      .where(col("sum_qty_x100") > lit(300L * 100))
    Tables.orders(s, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"),
        floor(col("o_totalprice") * 100).cast("long").as("totalprice_x100"),
        col("sum_qty_x100"))
      .orderBy(col("sum_qty_x100").desc, col("o_orderkey").asc)
      .limit(100)
  }

  /** Q19-style disjunctive predicate scan: three (brand, size,
    * quantity) branches OR'd together, written as pure business logic.
    * Spark 4's optimizer extracts each side's sub-disjunction from the
    * cross-table OR and pushes the FULL per-side OR into both parquet
    * scans (PlanSpec pins this) — no hand-written envelope filters
    * needed, and the residual OR evaluates only on rows that survive
    * the pruned scans. Part broadcasts.
    */
  private def qQ19Disjunctive(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val p = Tables.part(s, dir)
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .where(
        (col("p_brand") === "Brand#1" &&
          col("p_size").between(1, 15) && col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#2" &&
          col("p_size").between(5, 25) && col("l_quantity").between(10, 30)) ||
        (col("p_brand") === "Brand#3" &&
          col("p_size").between(10, 40) && col("l_quantity").between(20, 40)))
      .agg(decSumScaled(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          "decimal(18,4)", 10000, "revenue_x10k"),
        count(lit(1)).as("n_items"))
  }

  /** Q22-style idle high-balance customers: balance above the positive
    * mean AND no recent order, grouped by nation. The mean never
    * materializes as a float: the two-value (n, Σ) aggregate broadcasts
    * and the comparison cross-multiplies in exact decimal
    * (bal·n > Σ ⟺ bal > Σ/n). Anti-join prunes to idle customers
    * before the broadcast nation join.
    */
  private def qQ22IdleCustomers(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val pos = c.where(col("c_acctbal") > 0)
      .agg(count(lit(1)).as("n_pos"),
        sum(col("c_acctbal").cast("decimal(18,2)")).as("sum_pos"))
    val recent = Tables.orders(s, dir)
      .where(col("o_orderdate") >= lit("1998-06-01").cast("timestamp_ntz"))
      .select(col("o_custkey"))
    c.crossJoin(broadcast(pos))
      .where(col("c_acctbal").cast("decimal(18,2)") * col("n_pos") > col("sum_pos"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_custs"),
        decSumScaled(col("c_acctbal"), "decimal(18,2)", 100, "sum_acctbal_x100"))
      .orderBy("n_name")
  }

  /** Q8-style market share: within one region's customers and one part
    * type, the share of revenue supplied by a target nation, per order
    * year. Numerator (target-nation revenue) and denominator (all
    * nations) are both emitted as exact scaled BIGINTs — the classic
    * Q8 division would reintroduce float canonicalization; the reader
    * divides. The part/region/nation sides broadcast; the only
    * fact-fact shuffles are lineitem ⋈ orders and ⋈ customer.
    */
  private def qQ8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val regionNations = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir).where(col("r_name") === "AMERICA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("cust_nkey"))
    val suppNation = Tables.nation(s, dir)
      .select(col("n_nationkey").as("supp_nkey"), col("n_name").as("supp_nation"))
    val promoParts = Tables.part(s, dir).where(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val o = Tables.orders(s, dir)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
             col("o_orderdate") < lit("1999-01-01").cast("timestamp_ntz"))
    val vol = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(18,4)")
    Tables.lineitem(s, dir)
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(regionNations), col("c_nationkey") === col("cust_nkey"),
        "left_semi")
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNation), col("s_nationkey") === col("supp_nkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        checkedLong(sum(when(col("supp_nation") === "NATION_6", vol)
          .otherwise(lit(0).cast("decimal(18,4)"))) * lit(10000),
          "nation_rev_x10k"),
        decSumScaled(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          "decimal(18,4)", 10000, "total_rev_x10k"))
      .orderBy("o_year")
  }

  /** Q9-style profit by supplier nation and order year. The fixture
    * ships no partsupp table, so supply cost is proxied as
    * p_retailprice·l_quantity/10 (reference Q9: ps_supplycost·l_quantity).
    * Profit stays exact: both decimal sums are brought to a common ×10k
    * basis and subtracted as BIGINTs — no float division or rounding.
    */
  private def qQ9ProfitProxy(s: SparkSession, dir: String): DataFrame = {
    val redParts = Tables.part(s, dir).where(col("p_name").like("%red%"))
      .select(col("p_partkey"), col("p_retailprice"))
    Tables.lineitem(s, dir)
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(checkedLong(
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")) * lit(10000) -
        sum((col("p_retailprice") * col("l_quantity"))
          .cast("decimal(18,4)")) * lit(1000),
        "profit_x10k"))
      .orderBy("nation", "o_year")
  }

  /** Q12-style shipping-delay report (the fixture ships no
    * l_shipmode/commitdate/receiptdate, so the classic Q12 grouping is
    * re-expressed on what exists): lines shipped on/after their order
    * date, bucketed by 30-day delay, split into high-priority
    * (1-URGENT/2-HIGH) vs low-priority counts — Q12's exact payload.
    * One fact-fact shuffle on orderkey; the conditional counts fold
    * map-side; bucketing is integer `div` on a non-negative delay
    * (truncating vs flooring division diverge on negatives across
    * engines, so the filter also pins the arithmetic).
    */
  private def qQ12LateShipping(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val hi = col("o_orderpriority").isInCollection(Seq("1-URGENT", "2-HIGH"))
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay_days",
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long"))
      .where(col("delay_days") >= 0)
      .groupBy(expr("delay_days div 30").as("delay_bucket"))
      .agg(sum(when(hi, 1L).otherwise(0L)).as("n_high"),
        sum(when(hi, 0L).otherwise(1L)).as("n_low"))
      .orderBy("delay_bucket")
  }

  /** Q21-style "who kept the order waiting": finished orders with at
    * least two suppliers, credited to the supplier(s) whose latest
    * line shipped last, top 10 by wait count. The fixture has no
    * receipt/commit dates, so "waited on" = held the order's max ship
    * date. Lineitem pre-aggregates per (order, supplier) BEFORE the
    * window (the keyed shuffle carries one row per order-supplier, not
    * raw lines, and both window functions share that one shuffle); the
    * 10-row top-k then broadcasts into the supplier dimension.
    */
  private def qQ21SlowestSupplier(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val finished = Tables.orders(s, dir)
      .where(col("o_orderstatus") === "F").select(col("o_orderkey"))
    val perSupp = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(finished, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("l_shipdate")).as("supp_last"))
    val w = Window.partitionBy(col("l_orderkey"))
    val top = perSupp
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("order_last", max(col("supp_last")).over(w))
      .where(col("n_supp") >= 2 && col("supp_last") === col("order_last"))
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_waits"))
      .orderBy(col("n_waits").desc, col("l_suppkey").asc)
      .limit(10)
    Tables.supplier(s, dir)
      .join(broadcast(top), col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_waits"))
      .orderBy(col("n_waits").desc, col("s_suppkey").asc)
  }

  /** Q2-style min-cost supplier (reference TPC-H Q2 over the derived
    * [[Tables.partsupp]]): for each STANDARD part of mid size, the
    * EUROPE supplier(s) offering the minimum supply cost. The classic
    * correlated-scalar-subquery shape — the DuckDB oracle states it as
    * `ps_supplycost_cents = (SELECT min(...) WHERE ps2.ps_partkey =
    * p_partkey)`; the Spark plan is the decorrelated form Catalyst
    * itself would produce: compute the per-part min as a window over
    * ONE shuffle on ps_partkey and keep the rows that meet it, so the
    * offers frame is scanned once, never re-scanned per part.
    *
    * Scale shape: nation⋈region and the region's suppliers are
    * dimensions → broadcast into partsupp's scan stage; the selected
    * part slice broadcasts too; the only shuffle is the window's
    * ps_partkey exchange, carrying ≤ 4 offer rows per selected part.
    */
  private def qQ2MinCostSupp(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val eur = Tables.nation(s, dir)
      .join(Tables.region(s, dir).where(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val supEur = Tables.supplier(s, dir)
      .join(broadcast(eur), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val parts = Tables.part(s, dir)
      .where(col("p_size").between(10, 30) && col("p_type") === "STANDARD")
      .select(col("p_partkey"))
    val offers = Tables.partsupp(s, dir)
      .join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
      .join(broadcast(supEur), col("ps_suppkey") === col("s_suppkey"))
    val w = Window.partitionBy(col("ps_partkey"))
    offers
      .withColumn("min_cost", min(col("ps_supplycost_cents")).over(w))
      .where(col("ps_supplycost_cents") === col("min_cost"))
      .select(floor(col("s_acctbal") * 100).cast("long").as("s_acctbal_x100"),
        col("s_name"), col("n_name"), col("p_partkey"),
        col("ps_supplycost_cents"))
      .orderBy(col("s_acctbal_x100").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  /** Q11-style important-stock scan (reference TPC-H Q11): stock value
    * per part held by ASIA suppliers, keeping parts whose value
    * exceeds 2× the mean group value — the group-HAVING-vs-global-
    * scalar shape. The scalar (total, n_groups) is computed FROM the
    * grouped frame itself, so both branches consume the same
    * ps_partkey exchange and Spark's ReuseExchange collapses them to
    * one shuffle over one partsupp scan (asserted by PartsuppSpec);
    * the 1-row scalar then broadcasts back into the filter. The
    * comparison runs in DECIMAL(38,0)/HUGEINT on both engines:
    * value·n_groups at 100 TB (value ≤ 4·10⁹ cents·qty, n_groups =
    * |part|) can exceed int64, and a silent BIGINT wrap would split
    * the engines exactly where the fixture can't see it.
    */
  private def qQ11ImportantStock(s: SparkSession, dir: String): DataFrame = {
    val asia = Tables.nation(s, dir)
      .join(Tables.region(s, dir).where(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val supAsia = Tables.supplier(s, dir)
      .join(broadcast(asia), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val grouped = Tables.partsupp(s, dir)
      .join(broadcast(supAsia), col("ps_suppkey") === col("s_suppkey"))
      .groupBy(col("ps_partkey"))
      .agg(checkedLong(
        sum((col("ps_supplycost_cents") * col("ps_availqty"))
          .cast("decimal(38,0)")), "stock_value_cents"))
      // pinned: the threshold scalar and the filtered output both read
      // this per-part frame — unpinned, each branch re-runs the whole
      // partsupp⋈supplier⋈nation⋈region tree (measured 10 scans → 5)
      .transform(graft.ops.AnnCache.pin)
    val scalar = grouped.agg(
      checkedLong(sum(col("stock_value_cents").cast("decimal(38,0)")), "total"),
      count(lit(1)).as("n_groups"))
    grouped.crossJoin(broadcast(scalar))
      .where(col("stock_value_cents").cast("decimal(38,0)") * col("n_groups") >
        col("total").cast("decimal(38,0)") * 2)
      .select(col("ps_partkey"), col("stock_value_cents"))
      .orderBy(col("stock_value_cents").desc, col("ps_partkey"))
  }

  /** Q20-style excess-inventory suppliers (reference TPC-H Q20):
    * suppliers holding a 'red%' part whose availability exceeds 150×
    * what they actually shipped of it in 1997 — the nested-IN +
    * correlated-quantity-threshold shape. The oracle keeps the nested
    * form (IN → IN → correlated SUM); the Spark plan decorrelates it:
    * shipments pre-aggregate per (part, supplier) behind the broadcast
    * part slice, the threshold is an inner join + integer filter (the
    * oracle's NULL-comparison on never-shipped pairs and the inner
    * join drop the same rows), and the supplier table sees only a
    * left-semi probe. Quantity stays in the ×100 scaled-BIGINT basis
    * (same discipline as q17/q18) so no float crosses the comparison.
    *
    * Scale shape: one (partkey, suppkey) shuffle for the shipment
    * aggregate — partial sums fold map-side behind the broadcast part
    * filter; partsupp joins it on the same keys; the qualifying
    * suppkey set is a semi-join build side.
    */
  private def qQ20ExcessInventory(s: SparkSession, dir: String): DataFrame = {
    val redParts = Tables.part(s, dir).where(col("p_name").like("red%"))
      .select(col("p_partkey"))
    val shipped = Tables.lineitem(s, dir)
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(checkedLong(sum(col("l_quantity").cast("decimal(12,2)")) * 100,
        "sum_q_x100"))
    val excess = Tables.partsupp(s, dir)
      .join(broadcast(redParts.withColumnRenamed("p_partkey", "rp_partkey")),
        col("ps_partkey") === col("rp_partkey"))
      .join(shipped, col("ps_partkey") === col("l_partkey") &&
        col("ps_suppkey") === col("l_suppkey"))
      .where(col("ps_availqty") * 100 > col("sum_q_x100") * 150)
      .select(col("ps_suppkey"))
    Tables.supplier(s, dir)
      .join(excess, col("s_suppkey") === col("ps_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy("s_suppkey")
  }

  /** Q16-style supplier-breadth count (reference TPC-H Q16): how many
    * DISTINCT suppliers stock each surviving (brand, type, size)
    * combination, excluding flagged suppliers — the NOT-IN-subquery +
    * multi-key COUNT(DISTINCT) shape, the last classic TPC-H pattern
    * the board lacked (closes 1–22). The fixture has no s_comment, so
    * the 'Customer Complaints' exclusion maps to `s_acctbal < 0` —
    * TPC-H's own delinquent-balance analog, non-empty at sf0.01. The
    * oracle keeps the NOT IN subquery; the Spark plan is the anti-join
    * Catalyst would decorrelate it to (s_suppkey is never NULL, so
    * NOT IN ≡ anti semantics — the NULL trap documented rather than
    * hit).
    *
    * Scale shape: part's attribute slice and the flagged-supplier set
    * are dimensions → the anti join and the part join both broadcast
    * into partsupp's scan stage (partsupp itself derives scan-stage
    * from part, never materializing); the single COUNT(DISTINCT) plans
    * as a two-level aggregate on the (brand, type, size, suppkey)
    * keys — no Expand, asserted by PartsuppSpec.
    */
  private def qQ16SupplierBreadth(s: SparkSession, dir: String): DataFrame = {
    val flagged = Tables.supplier(s, dir).where(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    val partSlice = Tables.part(s, dir)
      .where(col("p_brand") =!= "Brand#13" && !col("p_type").like("PRO%") &&
        col("p_size").isin(3, 9, 14, 19, 23, 36, 45, 49))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    Tables.partsupp(s, dir)
      .join(broadcast(flagged), col("ps_suppkey") === col("s_suppkey"),
        "left_anti")
      .join(broadcast(partSlice), col("ps_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
      .select(col("p_brand"), col("p_type"), col("p_size").cast("long").as("p_size"),
        col("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** RFM customer segmentation: recency (days since last order),
    * frequency (order count), monetary (lifetime spend in cents) per
    * customer, each cut at its exact quartile boundaries, segments
    * counted. All three percentile inputs are integers, so the
    * interpolated boundaries are exact dyadic doubles and Spark's
    * `percentile` and DuckDB's `quantile_cont` agree bit-for-bit — no
    * float drift in the bucket comparisons. Scale shape: the corpus
    * max-date is a scan-level 1-row aggregate (partial max, no
    * shuffle) that broadcasts into the ONE keyed shuffle building the
    * per-customer frame; that frame (|customers| aggregated rows) is
    * persisted so the boundary pass and the segment pass read it
    * instead of re-scanning orders (without the persist, column
    * pruning specializes each subtree and ReuseExchange shares
    * nothing — measured 4 orders scans). Verify/Bench clear the cache
    * per query, the same hygiene as corpus_clean. At petabyte
    * customer counts the exact percentile swaps for percentile_approx,
    * the documented trade of customer_quartiles.
    */
  private def qCustomerRfm(s: SparkSession, dir: String): DataFrame = {
    val corpusLast = Tables.orders(s, dir)
      .agg(max(col("o_orderdate")).as("corpus_last"))
    val rfm = Tables.orders(s, dir).crossJoin(broadcast(corpusLast))
      .groupBy(col("o_custkey"))
      .agg(datediff(max(col("corpus_last")), max(col("o_orderdate")))
          .cast("long").as("r_days"),
        count(lit(1)).as("f"),
        checkedLong(sum(col("o_totalprice").cast("decimal(18,2)")) * lit(100),
          "m_x100"))
      .persist()
    val bounds = rfm.agg(
      percentile(col("r_days"), lit(0.25)).as("r25"),
      percentile(col("r_days"), lit(0.5)).as("r50"),
      percentile(col("r_days"), lit(0.75)).as("r75"),
      percentile(col("f"), lit(0.25)).as("f25"),
      percentile(col("f"), lit(0.5)).as("f50"),
      percentile(col("f"), lit(0.75)).as("f75"),
      percentile(col("m_x100"), lit(0.25)).as("m25"),
      percentile(col("m_x100"), lit(0.5)).as("m50"),
      percentile(col("m_x100"), lit(0.75)).as("m75"))
    def quartile(v: Column, p25: Column, p50: Column, p75: Column): Column =
      lit(1L) + when(v > p25, 1L).otherwise(0L) +
        when(v > p50, 1L).otherwise(0L) + when(v > p75, 1L).otherwise(0L)
    rfm.crossJoin(broadcast(bounds))
      .select(
        quartile(col("r_days"), col("r25"), col("r50"), col("r75")).as("r_q"),
        quartile(col("f"), col("f25"), col("f50"), col("f75")).as("f_q"),
        quartile(col("m_x100"), col("m25"), col("m50"), col("m75")).as("m_q"),
        col("m_x100"))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_custs"), sum(col("m_x100")).as("sum_m_x100"))
      .orderBy("r_q", "f_q", "m_q")
  }

  /** Ranking-function breadth over §2.8: rank / dense_rank (with REAL
    * ties — the order key is the coarse $1000 balance bucket),
    * percent_rank and cume_dist re-expressed as exact ×10k integers
    * (their float forms are just (rank−1)/(n−1) and peers/n — emitting
    * the integer division keeps the oracle byte-stable), plus
    * first_value/nth_value over the full-frame window. Ties make
    * rank ≠ dense_rank meaningful, and every output column is still
    * deterministic: ranks depend only on the row's bucket value, and
    * the value window breaks ties by custkey. One keyed shuffle; both
    * window specs share the nation partitioning. */
  private def qCustomerRankBreadth(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucket = floor(col("c_acctbal") / 1000).cast("long")
    val wRank = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("bucket").desc)
    val wVal = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("bucket").desc, col("c_custkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wAll = Window.partitionBy(col("c_nationkey"))
    Tables.customer(s, dir)
      .select(col("c_nationkey"), col("c_custkey"), bucket.as("bucket"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("rnk", rank().over(wRank).cast("long"))
      .withColumn("drnk", dense_rank().over(wRank).cast("long"))
      .withColumn("n_peers_le", count(lit(1)).over(
        Window.partitionBy(col("c_nationkey")).orderBy(col("bucket").desc)
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
      .withColumn("pr_x10k", expr("(10000 * (rnk - 1)) div (n - 1)"))
      .withColumn("cd_x10k", expr("(10000 * n_peers_le) div n"))
      .withColumn("top_custkey", first(col("c_custkey")).over(wVal))
      .withColumn("third_custkey", nth_value(col("c_custkey"), 3).over(wVal))
      .where(col("rnk") <= 10)
      .select(col("c_nationkey"), col("c_custkey"), col("bucket"), col("rnk"),
        col("drnk"), col("pr_x10k"), col("cd_x10k"), col("top_custkey"),
        col("third_custkey"))
      .orderBy("c_nationkey", "c_custkey")
  }

  /** Cohort lifetime value: customers grouped by first-order month,
    * revenue accumulated by months-since-first-order — the
    * retention-economics companion to events_retention. The
    * first-order frame is one keyed aggregate joined back to orders
    * (AQE broadcasts it when small, shuffles otherwise); the month
    * offset is exact integer arithmetic on month-truncated dates; the
    * cumulative sum runs per cohort over a ROWS frame — bounded
    * partitions, no global sort. */
  private def qOrdersCohortLtv(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir)
    val first = o.groupBy(col("o_custkey").as("ck"))
      .agg(date_trunc("month", min(col("o_orderdate"))).as("cohort"))
    val g = o.join(first, col("o_custkey") === col("ck"))
      .withColumn("month_offset",
        months_between(date_trunc("month", col("o_orderdate")), col("cohort"))
          .cast("long"))
      .groupBy(col("cohort"), col("month_offset"))
      .agg(count(lit(1)).as("n_orders"),
        decSumScaled(col("o_totalprice"), "decimal(18,2)", 100, "revenue_x100"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("month_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("cum_revenue_x100", sum(col("revenue_x100")).over(w).cast("long"))
      .select(col("cohort").cast("timestamp_ntz").as("cohort"),
        col("month_offset"), col("n_orders"), col("revenue_x100"),
        col("cum_revenue_x100"))
      .orderBy("cohort", "month_offset")
  }

  /** Column profiling (the ANALYZE TABLE / data-quality shape):
    * per-column null counts, exact distinct counts, and min/max for
    * five lineitem columns, emitted one row per column. Numeric bounds
    * are exact ×100 BIGINTs, date/string bounds are strings — no
    * doubles cross the output.
    *
    * Shape (re-planned r21, guide §1.2 step 1): one independent
    * single-distinct aggregate PER COLUMN, unioned. The pre-r21 form
    * put all five exact COUNT(DISTINCT)s in ONE aggregate, which plans
    * as a 6× Expand feeding a wide-key hash aggregate — measured 4.6
    * exec-s at sf0.1 (3.6M expanded rows, 585k-row wide-key shuffle)
    * vs ~0.9 exec-s for the five separate single-distinct aggregates
    * the approx variant's audit already used. A single distinct per
    * aggregate takes Spark's no-Expand path (partial agg keyed by the
    * value, then merge), each scan column-prunes to ONE column (same
    * total bytes as one 5-column scan), and the five subtrees schedule
    * concurrently. At 100 TB the Expand form multiplies the corpus 6×
    * before the partial agg — this form never multiplies rows at all.
    * One trap kept from the old form: min/max over a STRING column has
    * an immutable aggregation buffer, which forces SortAggregate — the
    * single-char returnflag aggregates as its codepoint (mutable long
    * buffer, HashAggregate) and converts back with chr() after. */
  private def qLineitemProfile(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    def d(c: String) = col(c).cast("decimal(18,2)")
    val nullS = lit(null).cast("string")
    val nullL = lit(null).cast("long")
    def shape(name: String, c: String, nd: Column,
              mnX: Column, mxX: Column, mnS: Column, mxS: Column) =
      li.agg(count(lit(1)).as("n"), count(col(c)).as("c"), nd.as("nd"),
          mnX.as("mn_x"), mxX.as("mx_x"), mnS.as("mn_s"), mxS.as("mx_s"))
        .select(lit(name).as("col_name"),
          (col("n") - col("c")).as("n_null"), col("nd").as("n_distinct"),
          col("mn_x").as("min_x100"), col("mx_x").as("max_x100"),
          col("mn_s").as("min_s"), col("mx_s").as("max_s"), col("n"))
    def num(name: String) = shape(name, name, countDistinct(col(name)),
      (min(d(name)) * 100).cast("long"), (max(d(name)) * 100).cast("long"),
      nullS, nullS)
    Seq(
      num("l_discount"), num("l_extendedprice"), num("l_quantity"),
      shape("l_returnflag", "l_returnflag", countDistinct(col("l_returnflag")),
        nullL, nullL,
        expr("chr(min(ascii(l_returnflag)))"), expr("chr(max(ascii(l_returnflag)))")),
      shape("l_shipdate", "l_shipdate", countDistinct(col("l_shipdate")),
        nullL, nullL,
        min(col("l_shipdate")).cast("date").cast("string"),
        max(col("l_shipdate")).cast("date").cast("string")))
      .reduce(_.unionAll(_))
      .orderBy("col_name")
  }

  /** Window-rank coverage: ntile(4) balance quartiles WITHIN each
    * nation. The window partitions on a bounded key, so there is no
    * global sort — one keyed shuffle + per-partition sort, then the
    * aggregate folds 4 rows per nation. (An unpartitioned ntile over
    * the raw table is the 100 TB anti-pattern; global quantiles at
    * scale come from percentile_approx sketches instead —
    * text_length_quantiles documents that trade.) The in-window order
    * (acctbal, custkey) is unique, so quartile assignment is
    * deterministic on both engines. */
  private def qCustomerQuartiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    Tables.customer(s, dir)
      .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
      .withColumn("quartile", ntile(4).over(w))
      .groupBy(col("c_nationkey"), col("quartile"))
      .agg(count(lit(1)).as("n_custs"),
        min(floor(col("c_acctbal") * 100).cast("long")).as("min_bal_x100"),
        max(floor(col("c_acctbal") * 100).cast("long")).as("max_bal_x100"),
        decSumScaled(col("c_acctbal"), "decimal(18,2)", 100, "sum_bal_x100"))
      .orderBy("c_nationkey", "quartile")
  }

  /** PIVOT: monthly order counts spread across the five priority
    * columns. The value list is explicit, so the plan is ONE groupBy
    * with conditional counts — omitting it makes Spark run a
    * distinct-collect job first to discover the columns, the classic
    * pivot scale trap.
    */
  private def qOrdersPivotPriority(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("timestamp_ntz").as("month"))
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .select(col("month"),
        coalesce(col("1-URGENT"), lit(0L)).as("n_urgent"),
        coalesce(col("2-HIGH"), lit(0L)).as("n_high"),
        coalesce(col("3-MEDIUM"), lit(0L)).as("n_medium"),
        coalesce(col("4-NOT SPECIFIED"), lit(0L)).as("n_notspec"),
        coalesce(col("5-LOW"), lit(0L)).as("n_low"))
      .orderBy("month")

  /** UNPIVOT — the inverse of [[qOrdersPivotPriority]]'s wide form:
    * per-priority metrics melt into (priority, metric, value) long
    * form via the native `unpivot` operator (Spark plans an Expand —
    * one pass, rows × metrics output, no join or union of re-scans;
    * the UNION-ALL oracle formulation would scan once per metric).
    * All melted values share BIGINT so the value column needs no
    * lossy common cast. */
  private def qOrdersUnpivotMetrics(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        decSumScaled(col("o_totalprice"), "decimal(18,2)", 100, "total_x100"),
        max(floor(col("o_totalprice") * 100).cast("long")).as("max_x100"))
      .unpivot(Array(col("o_orderpriority")),
        Array(col("n_orders"), col("total_x100"), col("max_x100")),
        "metric", "value")
      .orderBy("o_orderpriority", "metric")

  // ----------------------------------------------------------- events

  /** σ-threshold anomaly detection over hourly totals, in EXACT integer
    * arithmetic: an hour is anomalous for its event type when
    * (n·t − s)² > k²·(n·q − s²), the cross-multiplied form of
    * |t − mean| > k·σ (population σ, n·n cancelled) — no float mean or
    * sqrt, so the flags are engine- and partitioning-exact. DECIMAL(38)
    * products: n·t and s² exceed int64 at large scale factors. Two
    * keyed aggregations + one broadcast-sized join (|event types|). */
  private def qEventsAnomaly(s: SparkSession, dir: String): DataFrame = {
    val k = 2 // flag beyond 2σ
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    // Non-ANSI Spark nulls a DECIMAL(38,0) product on overflow where
    // DuckDB's HUGEINT computes on — a silent row drop. Inputs here are
    // never null (aggregates over non-null), so null = overflow: raise.
    val nn = (c: Column, name: String) =>
      when(c.isNotNull, c).otherwise(raise_error(
        lit(s"events_anomaly: $name overflows DECIMAL(38,0)")))
    val hourly = Tables.events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"),
        col("event_type"))
      .agg(decSumScaled(col("value"), "decimal(18,2)", 100, "t_x100"))
    val stats = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("t_x100")).as("s"),
        sum(d38(col("t_x100")) * d38(col("t_x100"))).cast("decimal(38,0)").as("q"))
    val dev = d38(col("n")) * d38(col("t_x100")) - d38(col("s"))
    hourly.join(broadcast(stats), "event_type")
      .where(nn(dev * dev, "dev^2") >
        nn(lit(k.toLong * k) * (d38(col("n")) * col("q") - d38(col("s")) * d38(col("s"))),
          "k^2*(n*q - s^2)"))
      .select(col("event_type"), col("hour"), col("t_x100"))
      .orderBy("event_type", "hour")
  }

  private def qEventsSessionize(s: SparkSession, dir: String): DataFrame =
    Sessionize.sessionStats(Tables.events(s, dir),
        key = col("user_id"), ts = col("ts"), gapMicros = 1800L * 1000000L,
        valueCol = col("value"), tieBreak = Seq(col("event_id")))
      .withColumnRenamed("key", "user_id")
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("session_start").cast("timestamp_ntz").as("session_start"),
        col("session_end").cast("timestamp_ntz").as("session_end"),
        col("total_value_x100"))
      .orderBy("user_id", "session_id")

  /** Top session paths: the first five event types of each session
    * joined into a path signature, counted corpus-wide, top 20. Rides
    * the same single keyed shuffle as sessionize: the within-session
    * rank window partitions by (user_id, session_id), which
    * HashPartitioning(user_id) already satisfies — a re-sort, not a
    * re-shuffle — and the `rn <= 5` filter plans as WindowGroupLimit
    * (plan-guarded), so each session contributes AT MOST 5 rows to the
    * path collect. Without the pre-filter a bot/power-user session
    * would materialize its entire event list in one collect_list array
    * only to throw away all but 5 elements — the per-group memory
    * scale-killer at 100×. Path counts then fold with map-side
    * partials into a top-20 TakeOrdered. */
  private def qEventsSessionPaths(s: SparkSession, dir: String): DataFrame = {
    val sess = Sessionize.withSessionId(Tables.events(s, dir),
      key = col("user_id"), ts = col("ts"), gapMicros = 1800L * 1000000L,
      tieBreak = Seq(col("event_id")))
    val wRank = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    sess.withColumn("rn", row_number().over(wRank))
      .where(col("rn") <= 5)
      .groupBy(col("user_id"), col("session_id"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(20)
  }

  /** Trailing 7-day rolling MAU next to daily DAU. Rolling DISTINCT
    * cannot ride a window frame (distinct doesn't decompose), so each
    * (day, user) contribution explodes to the 7 target days it serves
    * — the input to the explode is the already-deduped (day, user)
    * frame (|days|×|users| at most), NOT raw events, and the per-day
    * distinct count is a plain two-phase aggregate. Cost ∝ active
    * (day, user) pairs × window/period — the standard scale shape for
    * rolling-unique metrics; sketches (KMV/HLL, see events_kmv_churn)
    * replace the exact count when even that explode is too wide. */
  private def qEventsRollingMau(s: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(s, dir)
      .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
    val dau = du.groupBy(col("d").as("day")).agg(count(lit(1)).as("dau"))
    val contrib = du.select(
      explode(sequence(col("d"), date_add(col("d"), 6))).as("day"), col("user_id"))
    val days = du.select(col("d").as("day")).distinct()
    contrib.join(days, Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("mau7"))
      .join(dau, "day")
      .select(col("day"), col("dau"), col("mau7"))
      .orderBy("day")
  }

  /** Spark 4 VariantType coverage: the semi-structured props column
    * ingests as VARIANT (parse_json — one parse into the shredded
    * binary form) and typed paths extract with variant_get. This is
    * the schema-on-read path for telemetry whose fields drift faster
    * than a from_json schema can (events_json_extract is the fixed-
    * schema counterpart). Extraction yields plain longs, so the
    * DuckDB json_extract mirror is value-exact. */
  private def qEventsVariantAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("v", parse_json(col("props")))
      .select(col("event_type"),
        variant_get(col("v"), "$.k", "long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        countDistinct(col("k")).as("n_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  private def qEventsHourlyAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        decSumScaled(col("value"), "decimal(18,2)", 100, "total_value_x100"))
      .orderBy("hour", "event_type")

  private def qEventsJsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k",
        expr("try_cast(regexp_extract(props, '\"k\": ([0-9]+)', 1) as int)"))
      .groupBy(pmod(col("k"), lit(10)).as("k_bucket"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"),
        max(col("k")).as("max_k"), sum(col("k").cast("long")).as("sum_k"))
      .orderBy("k_bucket")

  /** CUBE grouping sets: totals for every (event_type, day-of-week)
    * combination plus both one-dimension margins and the grand total
    * in ONE pass — Catalyst expands the cube into a single aggregate
    * over 4× replicated rows with map-side partials, not four scans.
    * Labels come from GROUPING() (never NULL indicators), so the
    * oracle compare is independent of engine NULL ordering. Spark's
    * dayofweek is 1=Sunday..7; DuckDB's is 0-based — the oracle adds 1.
    */
  private def qEventsCube(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"),
        col("value"))
      .cube(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"),
        decSumScaled(col("value"), "decimal(18,2)", 100, "total_value_x100"),
        grouping(col("event_type")).as("_gt"),
        grouping(col("dow")).as("_gd"))
      .select(
        when(col("_gt") === 1, "ALL").otherwise(col("event_type")).as("event_type"),
        when(col("_gd") === 1, lit(-1L)).otherwise(col("dow")).as("dow"),
        col("n"), col("total_value_x100"))
      .orderBy("event_type", "dow")

  /** Rolling 24-hour per-user activity via a RANGE-framed window: each
    * event sees the count/sum of that user's events in the preceding
    * 24 h (inclusive). The frame bound is value-based (microseconds),
    * so timestamp ties land in every peer's frame and the result is
    * partition- and order-deterministic. One keyed shuffle on user_id;
    * the frame scan is per-partition and windows never cross users. */
  private def qEventsUserRolling(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dayUs = 86400L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-dayUs, 0)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("us", unix_micros(col("ts")))
      .select(col("user_id"), col("event_id"),
        col("ts").cast("timestamp_ntz").as("ts"),
        count(lit(1)).over(w).as("n_24h"),
        (sum(col("value").cast("decimal(18,2)")).over(w) * lit(100))
          .cast("long").as("sum_24h_x100"))
      .orderBy("user_id", "event_id")
  }

  /** Set-operation coverage (INTERSECT / EXCEPT): day-over-day active
    * users — retained (both days), churned (day A only), new (day B
    * only). Set ops plan as distinct + semi/anti joins keyed on
    * user_id: one shuffle each, nothing materializes on the driver. */
  private def qEventsDaySetops(s: SparkSession, dir: String): DataFrame = {
    // each day set feeds THREE set-ops — pinned so events is scanned
    // once per day, not once per consumer (measured 6 scans → 2)
    def activeOn(day: String) = Tables.events(s, dir)
      .where(to_date(col("ts")) === lit(day).cast("date"))
      .select(col("user_id")).distinct()
      .transform(graft.ops.AnnCache.pin)
    val a = activeOn("2024-01-05")
    val b = activeOn("2024-01-06")
    def tagCount(df: DataFrame, m: String) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(m).as("metric"), col("n_users"))
    tagCount(a.intersect(b), "retained")
      .unionByName(tagCount(a.except(b), "churned"))
      .unionByName(tagCount(b.except(a), "new"))
      .orderBy("metric")
  }

  /** Q16 flavor: supplier breadth per brand — COUNT(DISTINCT) over a
    * join (the fixture has no partsupp, so lineitem is the
    * part-supplier bridge). Catalyst plans distinct-agg as a two-phase
    * expand + aggregate with map-side partials; the filtered part side
    * broadcasts. (events_distinct_users covers the hand-rolled
    * two-stage form for skewed group keys.) */
  private def qPartBrandBreadth(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir).where(col("p_size") <= 20)
      .select(col("p_partkey"), col("p_brand"))
    Tables.lineitem(s, dir).select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_lineitems"))
      .orderBy("p_brand")
  }

  /** Exact integer covariance numerator per event type: does the event
    * value co-vary with the hour of day? cov = (n·Σxy − Σx·Σy)/n² —
    * the numerator is emitted raw (n is alongside; the reader
    * divides), computed entirely in DECIMAL(38,0) like
    * events_anomaly's σ² so the sign and magnitude are engine- and
    * partitioning-exact. Per-row quantization is `round(value*100)` —
    * NOT a double→decimal cast: the IEEE product is bit-identical in
    * every engine and both Spark and DuckDB round it half-away-from-
    * zero, whereas double→DECIMAL(18,2) rounds the shortest-string
    * repr (Spark) vs the binary value (DuckDB), and a per-row ±1
    * disagreement doesn't wash out of Σxy the way it can't enter a
    * plain sum-then-scale. The wide-decimal math stays INTERNAL; the
    * emitted numerator is BIGINT, like every other *_x100 column —
    * a decimal output column is the one type the oracle compare
    * normalizes differently per engine (r5's only red was exactly
    * this: values equal, decimal128 vs DECIMAL hashed apart). The
    * long envelope holds to ~10^18 (n·Σxy at sf0.1 is ~10^14); past
    * that the reader keeps the internal decimal form instead.
    * One keyed aggregation, map-side partials. */
  private def qEventsValueHourCovar(s: SparkSession, dir: String): DataFrame = {
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val x = round(col("value") * 100).cast("long")
    val y = hour(col("ts")).cast("long")
    Tables.events(s, dir)
      .select(col("event_type"), x.as("x"), y.as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(d38(col("x")) * d38(col("y"))).cast("decimal(38,0)").as("sxy"))
      .select(col("event_type"), col("n"),
        (d38(col("n")) * col("sxy") - d38(col("sx")) * d38(col("sy")))
          .cast("long").as("covar_num_x100"))
      .orderBy("event_type")
  }

  /** Per-user profile in one keyed aggregation — the wide-aggregate
    * breadth surface: count, min/max timestamps, max_by (argmax over
    * the unique event_id, so ties can't make it nondeterministic), and
    * a collect_set materialized as a SORTED joined string (sorted so
    * the result is partition-order independent; a bare collect_set is
    * the nondeterminism trap). One shuffle, map-side partials for
    * every aggregate including the set. */
  private def qEventsUserProfile(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).cast("timestamp_ntz").as("first_ts"),
        max(col("ts")).cast("timestamp_ntz").as("last_ts"),
        max_by(col("event_type"), col("event_id")).as("last_event_type"),
        array_join(array_sort(collect_set(col("event_type"))), ",").as("type_set"))
      .orderBy("user_id")

  /** Heavy hitters: users contributing ≥ 1.2× the mean event volume.
    * Two keyed aggregations plus a broadcast of the 1-row global
    * total; the threshold and the share are exact integer arithmetic
    * (cross-multiplied — no float mean). The same plan holds at
    * 100 TB: per-user partials combine map-side and only the scalar
    * total crosses the cluster. */
  private def qEventsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(s, dir).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
    val tot = per.agg(sum(col("n")).as("total"), count(lit(1)).as("n_users"))
    per.crossJoin(broadcast(tot))
      .where(col("n") * col("n_users") * lit(10L) >= col("total") * lit(12L))
      .select(col("user_id"), col("n"),
        expr("n * 10000 DIV total").as("share_x10k"))
      .orderBy(col("n").desc, col("user_id").asc)
  }

  // --------------------------------------------------------- registry

  def queries: Map[String, (SparkSession, String) => DataFrame] = coreQueries ++ ExtensionQueries.queries

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_latest_per_key" -> (qCdcLatestPerKey _),
    "cdc_apply_changes" -> (qCdcApplyChanges _),
    "cdc_dlq_split" -> (qCdcDlqSplit _),
    "cdc_dedup_first" -> (qCdcDedupFirst _),
    "cdc_city_totals" -> (qCdcCityTotals _),
    "cdc_scd2_history" -> (qCdcScd2History _),
    "cdc_time_travel" -> (qCdcTimeTravel _),
    "cdc_snapshot_diff" -> (qCdcSnapshotDiff _),
    "cdc_golden_record" -> (qCdcGoldenRecord _),
    "ri_audit" -> (qRiAudit _),
    "pk_audit" -> (qPkAudit _),
    "p1_salary_pipeline" -> (qP1SalaryPipeline _),
    "q1_agg" -> (qQ1Agg _),
    "q3_topk_join" -> (qQ3TopkJoin _),
    "q5_multijoin" -> (qQ5MultiJoin _),
    "q14_promo" -> (qQ14Promo _),
    "q1_rollup" -> (qQ1Rollup _),
    "q6_filter_agg" -> (qQ6FilterAgg _),
    "q4_exists_priority" -> (qQ4ExistsPriority _),
    "q7_nation_volume" -> (qQ7NationVolume _),
    "q10_returned_topk" -> (qQ10ReturnedTopk _),
    "q13_order_dist" -> (qQ13OrderDist _),
    "q15_top_supplier" -> (qQ15TopSupplier _),
    "q17_small_qty" -> (qQ17SmallQty _),
    "q18_big_orders" -> (qQ18BigOrders _),
    "q19_disjunctive" -> (qQ19Disjunctive _),
    "q22_idle_customers" -> (qQ22IdleCustomers _),
    "q8_market_share" -> (qQ8MarketShare _),
    "q9_profit_proxy" -> (qQ9ProfitProxy _),
    "q12_late_shipping" -> (qQ12LateShipping _),
    "q21_slowest_supplier" -> (qQ21SlowestSupplier _),
    "q2_min_cost_supp" -> (qQ2MinCostSupp _),
    "q11_important_stock" -> (qQ11ImportantStock _),
    "q20_excess_inventory" -> (qQ20ExcessInventory _),
    "q16_supplier_breadth" -> (qQ16SupplierBreadth _),
    "customer_rfm" -> (qCustomerRfm _),
    "customer_quartiles" -> (qCustomerQuartiles _),
    "lineitem_profile" -> (qLineitemProfile _),
    "orders_cohort_ltv" -> (qOrdersCohortLtv _),
    "customer_rank_breadth" -> (qCustomerRankBreadth _),
    "events_cube" -> (qEventsCube _),
    "events_user_rolling" -> (qEventsUserRolling _),
    "events_day_setops" -> (qEventsDaySetops _),
    "events_heavy_hitters" -> (qEventsHeavyHitters _),
    "events_user_profile" -> (qEventsUserProfile _),
    "part_brand_breadth" -> (qPartBrandBreadth _),
    "events_value_hour_covar" -> (qEventsValueHourCovar _),
    "orders_pivot_priority" -> (qOrdersPivotPriority _),
    "orders_unpivot_metrics" -> (qOrdersUnpivotMetrics _),
    "orders_monthly_mom" -> (qOrdersMonthlyMom _),
    "customers_no_orders" -> (qCustomersNoOrders _),
    "events_sessionize" -> (qEventsSessionize _),
    "events_session_paths" -> (qEventsSessionPaths _),
    "events_rolling_mau" -> (qEventsRollingMau _),
    "events_anomaly" -> (qEventsAnomaly _),
    "events_hourly_agg" -> (qEventsHourlyAgg _),
    "events_json_extract" -> (qEventsJsonExtract _),
    "events_variant_agg" -> (qEventsVariantAgg _),
  )

  private val L = Fixtures.cdcLogSql // WITH cdc_log AS (...) prefix
  private val P = Tables.partsuppSql // WITH partsupp AS (...) prefix

  def oracleSql: Map[String, String] = coreOracleSql ++ ExtensionQueries.oracleSql

  private def coreOracleSql: Map[String, String] = Map(
    "cdc_latest_per_key" -> (L +
      """, r AS (SELECT *, row_number() OVER (PARTITION BY emp_id
        |     ORDER BY last_updated_at DESC, event_id DESC) AS rn FROM cdc_log)
        |SELECT emp_id, event_id, action, emp_salary,
        |       CAST(last_updated_at AS TIMESTAMP) AS last_updated_at
        |FROM r WHERE rn = 1 ORDER BY emp_id""".stripMargin),

    "cdc_apply_changes" -> (L +
      """, valid AS (
        |  SELECT * FROM cdc_log
        |  WHERE NOT (COALESCE(TRY_CAST(substr(emp_dob, 1, 4) AS INT), 0) <= 2007
        |             OR emp_salary <= 100 OR emp_id < 0)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY emp_id
        |     ORDER BY last_updated_at DESC, event_id DESC) AS rn FROM valid)
        |SELECT emp_id, emp_FN, emp_LN, emp_dob, emp_city, emp_salary, action,
        |       CAST(last_updated_at AS TIMESTAMP) AS last_updated_at
        |FROM r WHERE rn = 1 AND action <> 'delete' ORDER BY emp_id""".stripMargin),

    "cdc_scd2_history" -> (L +
      """, valid AS (
        |  SELECT * FROM cdc_log
        |  WHERE NOT (COALESCE(TRY_CAST(substr(emp_dob, 1, 4) AS INT), 0) <= 2007
        |             OR emp_salary <= 100 OR emp_id < 0)),
        |v AS (SELECT *, CAST(row_number() OVER w AS BIGINT) AS version,
        |        lead(last_updated_at) OVER w AS valid_to
        |      FROM valid
        |      WINDOW w AS (PARTITION BY emp_id ORDER BY last_updated_at, event_id))
        |SELECT emp_id, version, action, emp_salary,
        |       CAST(last_updated_at AS TIMESTAMP) AS valid_from,
        |       CAST(valid_to AS TIMESTAMP) AS valid_to,
        |       (valid_to IS NULL AND action <> 'delete') AS is_current
        |FROM v ORDER BY emp_id, version""".stripMargin),

    "cdc_time_travel" -> (L +
      """, valid AS (
        |  SELECT * FROM cdc_log
        |  WHERE NOT (COALESCE(TRY_CAST(substr(emp_dob, 1, 4) AS INT), 0) <= 2007
        |             OR emp_salary <= 100 OR emp_id < 0)
        |    AND last_updated_at <= TIMESTAMP '2024-01-15 00:00:00'),
        |r AS (SELECT *, row_number() OVER (PARTITION BY emp_id
        |     ORDER BY last_updated_at DESC, event_id DESC) AS rn FROM valid)
        |SELECT emp_id, emp_FN, emp_LN, emp_dob, emp_city, emp_salary, action,
        |       CAST(last_updated_at AS TIMESTAMP) AS last_updated_at
        |FROM r WHERE rn = 1 AND action <> 'delete' ORDER BY emp_id""".stripMargin),

    "cdc_snapshot_diff" -> (L +
      """, valid AS (
        |  SELECT * FROM cdc_log
        |  WHERE NOT (COALESCE(TRY_CAST(substr(emp_dob, 1, 4) AS INT), 0) <= 2007
        |             OR emp_salary <= 100 OR emp_id < 0)),
        |t AS (SELECT *,
        |        last_value(CASE WHEN last_updated_at <= TIMESTAMP '2024-01-15 00:00:00'
        |                   THEN struct_pack(action := action, emp_FN := emp_FN,
        |                                    emp_LN := emp_LN, emp_dob := emp_dob,
        |                                    emp_city := emp_city,
        |                                    emp_salary := emp_salary)
        |                   END IGNORE NULLS)
        |          OVER (PARTITION BY emp_id ORDER BY last_updated_at, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1,
        |        row_number() OVER (PARTITION BY emp_id
        |                ORDER BY last_updated_at DESC, event_id DESC) AS rn
        |      FROM valid),
        |top AS (SELECT emp_id, s1,
        |               (s1 IS NOT NULL AND s1.action <> 'delete') AS p1,
        |               (action <> 'delete') AS p2,
        |               emp_FN AS fn2, emp_LN AS ln2, emp_dob AS dob2,
        |               emp_city AS city2, emp_salary AS sal2
        |        FROM t WHERE rn = 1),
        |d AS (SELECT emp_id,
        |        CASE WHEN NOT p1 AND p2 THEN 'added'
        |             WHEN p1 AND NOT p2 THEN 'removed'
        |             WHEN p1 AND p2 THEN 'changed' END AS status0,
        |        concat_ws(',',
        |          CASE WHEN s1.emp_FN     IS DISTINCT FROM fn2   THEN 'emp_FN' END,
        |          CASE WHEN s1.emp_LN     IS DISTINCT FROM ln2   THEN 'emp_LN' END,
        |          CASE WHEN s1.emp_dob    IS DISTINCT FROM dob2  THEN 'emp_dob' END,
        |          CASE WHEN s1.emp_city   IS DISTINCT FROM city2 THEN 'emp_city' END,
        |          CASE WHEN s1.emp_salary IS DISTINCT FROM sal2  THEN 'emp_salary' END) AS ch,
        |        CASE WHEN p1 THEN s1.emp_salary END AS salary_before,
        |        CASE WHEN p2 THEN sal2 END AS salary_after
        |      FROM top)
        |SELECT emp_id, status0 AS status,
        |       CASE WHEN status0 = 'changed' THEN ch ELSE '' END AS changed_cols,
        |       salary_before, salary_after
        |FROM d
        |WHERE status0 IS NOT NULL AND NOT (status0 = 'changed' AND ch = '')
        |ORDER BY emp_id""".stripMargin),

    "cdc_golden_record" -> (L +
      """, valid AS (
        |  SELECT * FROM cdc_log
        |  WHERE NOT (COALESCE(TRY_CAST(substr(emp_dob, 1, 4) AS INT), 0) <= 2007
        |             OR emp_salary <= 100 OR emp_id < 0)
        |    AND action <> 'delete'),
        |r AS (SELECT *, row_number() OVER (PARTITION BY emp_id
        |        ORDER BY last_updated_at DESC, event_id DESC) AS rn FROM valid),
        |base AS (SELECT emp_id, CAST(COUNT(*) AS BIGINT) AS n_versions,
        |                CAST(MAX(emp_salary) AS BIGINT) AS salary_max
        |         FROM valid GROUP BY 1),
        |rec AS (SELECT emp_id, emp_dob AS dob_recency,
        |               CAST(emp_salary AS BIGINT) AS salary_latest
        |        FROM r WHERE rn = 1),
        |m AS (SELECT emp_id, emp_dob AS dob_mode FROM (
        |        SELECT emp_id, emp_dob, row_number() OVER (PARTITION BY emp_id
        |          ORDER BY COUNT(*) DESC, emp_dob NULLS LAST) AS rn
        |        FROM valid GROUP BY emp_id, emp_dob) x WHERE rn = 1)
        |SELECT b.emp_id, b.n_versions, m.dob_mode, rec.dob_recency,
        |       m.dob_mode = rec.dob_recency AS elections_agree,
        |       b.salary_max, rec.salary_latest
        |FROM base b JOIN m USING (emp_id) JOIN rec USING (emp_id)
        |ORDER BY b.emp_id""".stripMargin),

    "ri_audit" ->
      """SELECT fk, CAST(n_child AS BIGINT) AS n_child,
        |       CAST(n_orphans AS BIGINT) AS n_orphans FROM (
        |  SELECT 'lineitem->orders' AS fk, COUNT(*) AS n_child,
        |    (SELECT COUNT(*) FROM lineitem l
        |     WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                       WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem->part', COUNT(*),
        |    (SELECT COUNT(*) FROM lineitem l
        |     WHERE NOT EXISTS (SELECT 1 FROM part p
        |                       WHERE p.p_partkey = l.l_partkey))
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'orders->customer', COUNT(*),
        |    (SELECT COUNT(*) FROM orders o
        |     WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                       WHERE c.c_custkey = o.o_custkey))
        |  FROM orders
        |  UNION ALL
        |  SELECT 'customer->nation', COUNT(*),
        |    (SELECT COUNT(*) FROM customer c
        |     WHERE NOT EXISTS (SELECT 1 FROM nation n
        |                       WHERE n.n_nationkey = c.c_nationkey))
        |  FROM customer
        |  UNION ALL
        |  SELECT 'supplier->nation', COUNT(*),
        |    (SELECT COUNT(*) FROM supplier s
        |     WHERE NOT EXISTS (SELECT 1 FROM nation n
        |                       WHERE n.n_nationkey = s.s_nationkey))
        |  FROM supplier
        |  UNION ALL
        |  SELECT 'cdc_employees->customer', COUNT(*),
        |    (SELECT COUNT(*) FROM events e
        |     WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                       WHERE c.c_custkey = e.user_id - 2))
        |  FROM events) t
        |ORDER BY fk""".stripMargin,

    "pk_audit" ->
      """SELECT key, CAST(n_rows AS BIGINT) AS n_rows,
        |       CAST(n_keys AS BIGINT) AS n_keys,
        |       CAST(n_rows - n_keys AS BIGINT) AS n_dup_rows FROM (
        |  SELECT 'orders.o_orderkey' AS key, COUNT(*) AS n_rows,
        |         COUNT(DISTINCT o_orderkey) AS n_keys FROM orders
        |  UNION ALL
        |  SELECT 'lineitem.(orderkey,linenumber)', COUNT(*),
        |         COUNT(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem
        |  UNION ALL
        |  SELECT 'customer.c_custkey', COUNT(*),
        |         COUNT(DISTINCT c_custkey) FROM customer
        |  UNION ALL
        |  SELECT 'events.event_id', COUNT(*),
        |         COUNT(DISTINCT event_id) FROM events
        |  UNION ALL
        |  SELECT 'documents.doc_id', COUNT(*),
        |         COUNT(DISTINCT doc_id) FROM documents
        |  UNION ALL
        |  SELECT 'documents.fingerprint', COUNT(*),
        |         COUNT(DISTINCT md5(regexp_replace(lower(trim(text)),
        |                            '\s+', ' ', 'g'))) FROM documents
        |  UNION ALL
        |  SELECT 'documents.prefix8_key', COUNT(*),
        |         COUNT(DISTINCT array_to_string(
        |           regexp_split_to_array(lower(trim(text)), '\s+')[1:8],
        |           ' ')) FROM documents) t
        |ORDER BY key""".stripMargin,

    "cdc_dlq_split" -> (L +
      """SELECT emp_id, event_id, action, emp_dob, emp_salary,
        |       COALESCE(TRY_CAST(substr(emp_dob, 1, 4) AS INT), 0) <= 2007 AS bad_dob,
        |       emp_salary <= 100 AS bad_salary,
        |       emp_id < 0 AS bad_id
        |FROM cdc_log
        |WHERE COALESCE(COALESCE(TRY_CAST(substr(emp_dob, 1, 4) AS INT), 0) <= 2007
        |      OR emp_salary <= 100 OR emp_id < 0, TRUE)
        |ORDER BY emp_id, event_id""".stripMargin),

    "cdc_dedup_first" -> (L +
      """, r AS (SELECT *, row_number() OVER (PARTITION BY emp_id
        |     ORDER BY last_updated_at ASC, event_id ASC) AS rn
        |     FROM cdc_log WHERE action = 'insert')
        |SELECT emp_id, event_id, emp_salary,
        |       CAST(last_updated_at AS TIMESTAMP) AS last_updated_at
        |FROM r WHERE rn = 1 ORDER BY emp_id""".stripMargin),

    "cdc_city_totals" -> (L +
      """, valid AS (
        |  SELECT * FROM cdc_log
        |  WHERE NOT (COALESCE(TRY_CAST(substr(emp_dob, 1, 4) AS INT), 0) <= 2007
        |             OR emp_salary <= 100 OR emp_id < 0)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY emp_id
        |     ORDER BY last_updated_at DESC, event_id DESC) AS rn FROM valid),
        |snap AS (SELECT * FROM r WHERE rn = 1 AND action <> 'delete')
        |SELECT emp_city, CAST(SUM(emp_salary) AS BIGINT) AS total_salary, COUNT(*) AS n_emps
        |FROM snap GROUP BY emp_city ORDER BY emp_city""".stripMargin),

    "p1_salary_pipeline" ->
      """SELECT o_orderpriority AS department,
        |       CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS total_salary
        |FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |  AND year(o_orderdate) >= 1998
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_qty_x100,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_base_price_x100,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS sum_disc_price_x10k,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q3_topk_join" ->
      """SELECT l_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
        |       o_orderpriority,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,

    "q5_multijoin" ->
      """SELECT n_name,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS revenue_x10k
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_regionkey = 2
        |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY 1 ORDER BY revenue_x10k DESC, n_name ASC""".stripMargin,

    "customers_no_orders" ->
      """SELECT c_custkey, c_name,
        |       CAST(floor(c_acctbal * 100) AS BIGINT) AS acctbal_x100
        |FROM customer c
        |WHERE c_acctbal > 0
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderdate >= TIMESTAMP '1998-06-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin,

    "q6_filter_agg" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) * 10000 AS BIGINT) AS revenue_x10k,
        |       COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q4_exists_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS volume_x10k
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q10_returned_topk" ->
      """SELECT c_custkey, c_name, n_name,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS revenue_x10k
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue_x10k DESC, c_custkey ASC LIMIT 20""".stripMargin,

    "q13_order_dist" ->
      """WITH pc AS (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1)
        |SELECT COALESCE(n, 0) AS c_count, COUNT(*) AS n_custs
        |FROM customer LEFT JOIN pc ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS total_revenue_x10k
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-10-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue_x10k
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total_revenue_x10k = (SELECT MAX(total_revenue_x10k) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q17_small_qty" ->
      """WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'),
        |base AS (SELECT l.* FROM lineitem l JOIN bp ON l_partkey = p_partkey),
        |st AS (SELECT l_partkey AS pk, COUNT(*) AS n_li,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_q_x100
        |       FROM base GROUP BY 1)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) * 10000 AS BIGINT) AS sum_price_x10k,
        |       COUNT(*) AS n_items
        |FROM base JOIN st ON l_partkey = pk
        |WHERE 5 * CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) * n_li < sum_q_x100""".stripMargin,

    "q18_big_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_qty_x100
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT) > 30000)
        |SELECT c_custkey, c_name, o_orderkey,
        |       CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
        |       CAST(floor(o_totalprice * 100) AS BIGINT) AS totalprice_x100,
        |       sum_qty_x100
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY sum_qty_x100 DESC, o_orderkey ASC LIMIT 100""".stripMargin,

    "q19_disjunctive" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS revenue_x10k,
        |       COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 25 AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40 AND l_quantity BETWEEN 20 AND 40)""".stripMargin,

    "q22_idle_customers" ->
      """WITH pos AS (SELECT COUNT(*) AS n_pos,
        |                    SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_pos
        |             FROM customer WHERE c_acctbal > 0),
        |idle AS (
        |  SELECT c.* FROM customer c, pos
        |  WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n_pos > sum_pos
        |    AND NOT EXISTS (SELECT 1 FROM orders o
        |                    WHERE o.o_custkey = c.c_custkey
        |                      AND o.o_orderdate >= TIMESTAMP '1998-06-01 00:00:00'))
        |SELECT n_name, COUNT(*) AS n_custs,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_acctbal_x100
        |FROM idle JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       CAST(SUM(CASE WHEN sn.n_name = 'NATION_6'
        |             THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
        |             ELSE CAST(0 AS DECIMAL(18,4)) END) * 10000 AS BIGINT) AS nation_rev_x10k,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS total_rev_x10k
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region ON cn.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE p_type = 'PROMO' AND r_name = 'AMERICA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q9_profit_proxy" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) * 10000
        |            - SUM(CAST(p_retailprice * l_quantity AS DECIMAL(18,4))) * 1000 AS BIGINT) AS profit_x10k
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q12_late_shipping" ->
      """WITH d AS (
        |  SELECT CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |                        CAST(l_shipdate AS DATE)) AS BIGINT) AS delay_days,
        |         o_orderpriority
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT delay_days // 30 AS delay_bucket,
        |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 0 ELSE 1 END) AS BIGINT) AS n_low
        |FROM d WHERE delay_days >= 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q21_slowest_supplier" ->
      """WITH ps AS (
        |  SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS supp_last
        |  FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
        |  GROUP BY 1, 2),
        |w AS (SELECT *, COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
        |        MAX(supp_last) OVER (PARTITION BY l_orderkey) AS order_last FROM ps),
        |c AS (SELECT l_suppkey, COUNT(*) AS n_waits FROM w
        |      WHERE n_supp >= 2 AND supp_last = order_last GROUP BY 1),
        |t AS (SELECT * FROM c ORDER BY n_waits DESC, l_suppkey ASC LIMIT 10)
        |SELECT s_suppkey, s_name, n_waits
        |FROM supplier JOIN t ON s_suppkey = l_suppkey
        |ORDER BY n_waits DESC, s_suppkey ASC""".stripMargin,

    "q2_min_cost_supp" -> (P +
      """, eur AS (SELECT n_nationkey, n_name FROM nation
        |           JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
        |se AS (SELECT s_suppkey, s_name, s_acctbal, n_name
        |       FROM supplier JOIN eur ON s_nationkey = n_nationkey)
        |SELECT CAST(floor(s_acctbal * 100) AS BIGINT) AS s_acctbal_x100,
        |       s_name, n_name, p_partkey, ps_supplycost_cents
        |FROM part, partsupp, se
        |WHERE p_partkey = ps_partkey AND ps_suppkey = s_suppkey
        |  AND p_size BETWEEN 10 AND 30 AND p_type = 'STANDARD'
        |  AND ps_supplycost_cents = (
        |    SELECT min(ps2.ps_supplycost_cents)
        |    FROM partsupp ps2 JOIN se se2 ON ps2.ps_suppkey = se2.s_suppkey
        |    WHERE ps2.ps_partkey = p_partkey)
        |ORDER BY s_acctbal_x100 DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin),

    "q11_important_stock" -> (P +
      """, ns AS (SELECT s_suppkey FROM supplier
        |          JOIN nation ON s_nationkey = n_nationkey
        |          JOIN region ON n_regionkey = r_regionkey
        |          WHERE r_name = 'ASIA'),
        |g AS (SELECT ps_partkey,
        |             CAST(SUM(ps_supplycost_cents * ps_availqty) AS BIGINT) AS stock_value_cents
        |      FROM partsupp JOIN ns ON ps_suppkey = s_suppkey GROUP BY 1),
        |t AS (SELECT CAST(SUM(stock_value_cents) AS BIGINT) AS total,
        |             COUNT(*) AS n_groups FROM g)
        |SELECT ps_partkey, stock_value_cents
        |FROM g, t
        |WHERE CAST(stock_value_cents AS HUGEINT) * n_groups > CAST(total AS HUGEINT) * 2
        |ORDER BY stock_value_cents DESC, ps_partkey""".stripMargin),

    "q20_excess_inventory" -> (P +
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT ps_suppkey FROM partsupp
        |  WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |    AND ps_availqty * 100 > 150 * (
        |      SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT)
        |      FROM lineitem
        |      WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |        AND l_shipdate >= TIMESTAMP '1997-01-01'
        |        AND l_shipdate < TIMESTAMP '1998-01-01'))
        |ORDER BY s_suppkey""".stripMargin),

    "q16_supplier_breadth" -> (P +
      """SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
        |       CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
        |FROM partsupp, part
        |WHERE p_partkey = ps_partkey
        |  AND p_brand <> 'Brand#13'
        |  AND p_type NOT LIKE 'PRO%'
        |  AND p_size IN (3, 9, 14, 19, 23, 36, 45, 49)
        |  AND ps_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    "customer_rfm" ->
      """WITH pc AS (
        |  SELECT o_custkey, MAX(o_orderdate) AS last_order,
        |         COUNT(*) AS f,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS m_x100
        |  FROM orders GROUP BY 1),
        |r AS (SELECT *, CAST(date_diff('day', CAST(last_order AS DATE),
        |        (SELECT CAST(MAX(last_order) AS DATE) FROM pc)) AS BIGINT) AS r_days
        |      FROM pc),
        |b AS (SELECT quantile_cont(r_days, 0.25) AS r25, quantile_cont(r_days, 0.5) AS r50,
        |             quantile_cont(r_days, 0.75) AS r75,
        |             quantile_cont(f, 0.25) AS f25, quantile_cont(f, 0.5) AS f50,
        |             quantile_cont(f, 0.75) AS f75,
        |             quantile_cont(m_x100, 0.25) AS m25, quantile_cont(m_x100, 0.5) AS m50,
        |             quantile_cont(m_x100, 0.75) AS m75
        |      FROM r),
        |s AS (SELECT 1 + CASE WHEN r_days > r25 THEN 1 ELSE 0 END
        |          + CASE WHEN r_days > r50 THEN 1 ELSE 0 END
        |          + CASE WHEN r_days > r75 THEN 1 ELSE 0 END AS r_q,
        |        1 + CASE WHEN f > f25 THEN 1 ELSE 0 END
        |          + CASE WHEN f > f50 THEN 1 ELSE 0 END
        |          + CASE WHEN f > f75 THEN 1 ELSE 0 END AS f_q,
        |        1 + CASE WHEN m_x100 > m25 THEN 1 ELSE 0 END
        |          + CASE WHEN m_x100 > m50 THEN 1 ELSE 0 END
        |          + CASE WHEN m_x100 > m75 THEN 1 ELSE 0 END AS m_q,
        |        m_x100
        |      FROM r CROSS JOIN b)
        |SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
        |       CAST(m_q AS BIGINT) AS m_q, COUNT(*) AS n_custs,
        |       CAST(SUM(m_x100) AS BIGINT) AS sum_m_x100
        |FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "customer_rank_breadth" ->
      """WITH b AS (SELECT c_nationkey, c_custkey,
        |         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bucket
        |       FROM customer),
        |r AS (SELECT *,
        |        CAST(COUNT(*) OVER (PARTITION BY c_nationkey) AS BIGINT) AS n,
        |        CAST(rank() OVER w AS BIGINT) AS rnk,
        |        CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |        CAST(COUNT(*) OVER (PARTITION BY c_nationkey ORDER BY bucket DESC
        |             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_peers_le,
        |        first_value(c_custkey) OVER wv AS top_custkey,
        |        nth_value(c_custkey, 3) OVER wv AS third_custkey
        |      FROM b
        |      WINDOW w AS (PARTITION BY c_nationkey ORDER BY bucket DESC),
        |             wv AS (PARTITION BY c_nationkey ORDER BY bucket DESC, c_custkey ASC
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT c_nationkey, c_custkey, bucket, rnk, drnk,
        |       (10000 * (rnk - 1)) // (n - 1) AS pr_x10k,
        |       (10000 * n_peers_le) // n AS cd_x10k,
        |       top_custkey, third_custkey
        |FROM r WHERE rnk <= 10
        |ORDER BY c_nationkey, c_custkey""".stripMargin,

    "orders_cohort_ltv" ->
      """WITH f AS (SELECT o_custkey AS ck,
        |         date_trunc('month', MIN(o_orderdate)) AS cohort
        |       FROM orders GROUP BY 1),
        |j AS (SELECT o.o_totalprice, f.cohort,
        |        CAST(date_diff('month', CAST(f.cohort AS DATE),
        |             CAST(date_trunc('month', o.o_orderdate) AS DATE)) AS BIGINT) AS month_offset
        |      FROM orders o JOIN f ON o.o_custkey = f.ck),
        |g AS (SELECT CAST(cohort AS TIMESTAMP) AS cohort, month_offset,
        |        COUNT(*) AS n_orders,
        |        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS revenue_x100
        |      FROM j GROUP BY 1, 2)
        |SELECT cohort, month_offset, n_orders, revenue_x100,
        |       CAST(SUM(revenue_x100) OVER (PARTITION BY cohort ORDER BY month_offset
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_revenue_x100
        |FROM g ORDER BY cohort, month_offset""".stripMargin,

    "lineitem_profile" ->
      """WITH a AS (SELECT COUNT(*) AS n,
        |  COUNT(l_quantity) AS c_qty, COUNT(DISTINCT l_quantity) AS nd_qty,
        |  CAST(MIN(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS mn_qty,
        |  CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS mx_qty,
        |  COUNT(l_extendedprice) AS c_pr, COUNT(DISTINCT l_extendedprice) AS nd_pr,
        |  CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS mn_pr,
        |  CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS mx_pr,
        |  COUNT(l_discount) AS c_di, COUNT(DISTINCT l_discount) AS nd_di,
        |  CAST(MIN(CAST(l_discount AS DECIMAL(18,2))) * 100 AS BIGINT) AS mn_di,
        |  CAST(MAX(CAST(l_discount AS DECIMAL(18,2))) * 100 AS BIGINT) AS mx_di,
        |  COUNT(l_returnflag) AS c_rf, COUNT(DISTINCT l_returnflag) AS nd_rf,
        |  chr(MIN(ascii(l_returnflag))) AS mn_rf, chr(MAX(ascii(l_returnflag))) AS mx_rf,
        |  COUNT(l_shipdate) AS c_sd, COUNT(DISTINCT l_shipdate) AS nd_sd,
        |  CAST(CAST(MIN(l_shipdate) AS DATE) AS VARCHAR) AS mn_sd,
        |  CAST(CAST(MAX(l_shipdate) AS DATE) AS VARCHAR) AS mx_sd
        |  FROM lineitem)
        |SELECT * FROM (
        |  SELECT 'l_discount' AS col_name, n - c_di AS n_null, nd_di AS n_distinct,
        |         mn_di AS min_x100, mx_di AS max_x100,
        |         CAST(NULL AS VARCHAR) AS min_s, CAST(NULL AS VARCHAR) AS max_s, n FROM a
        |  UNION ALL
        |  SELECT 'l_extendedprice', n - c_pr, nd_pr, mn_pr, mx_pr,
        |         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), n FROM a
        |  UNION ALL
        |  SELECT 'l_quantity', n - c_qty, nd_qty, mn_qty, mx_qty,
        |         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), n FROM a
        |  UNION ALL
        |  SELECT 'l_returnflag', n - c_rf, nd_rf, CAST(NULL AS BIGINT),
        |         CAST(NULL AS BIGINT), mn_rf, mx_rf, n FROM a
        |  UNION ALL
        |  SELECT 'l_shipdate', n - c_sd, nd_sd, CAST(NULL AS BIGINT),
        |         CAST(NULL AS BIGINT), mn_sd, mx_sd, n FROM a)
        |ORDER BY col_name""".stripMargin,

    "customer_quartiles" ->
      """WITH q AS (
        |  SELECT c_nationkey, c_acctbal,
        |         ntile(4) OVER (PARTITION BY c_nationkey
        |                        ORDER BY c_acctbal ASC, c_custkey ASC) AS quartile
        |  FROM customer)
        |SELECT c_nationkey, quartile, COUNT(*) AS n_custs,
        |       CAST(MIN(floor(c_acctbal * 100)) AS BIGINT) AS min_bal_x100,
        |       CAST(MAX(floor(c_acctbal * 100)) AS BIGINT) AS max_bal_x100,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_bal_x100
        |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "events_cube" ->
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS BIGINT) AS dow,
        |         value
        |  FROM events)
        |SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END AS event_type,
        |       CASE WHEN GROUPING(dow) = 1 THEN CAST(-1 AS BIGINT) ELSE dow END AS dow,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_value_x100
        |FROM e GROUP BY CUBE (event_type, dow)
        |ORDER BY 1, 2""".stripMargin,

    "events_user_rolling" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
        |  FROM events)
        |SELECT user_id, event_id, ts,
        |       COUNT(*) OVER w AS n_24h,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w * 100 AS BIGINT) AS sum_24h_x100
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "events_day_setops" ->
      """WITH a AS (SELECT DISTINCT user_id FROM events
        |           WHERE CAST(ts AS DATE) = DATE '2024-01-05'),
        |     b AS (SELECT DISTINCT user_id FROM events
        |           WHERE CAST(ts AS DATE) = DATE '2024-01-06')
        |SELECT * FROM (
        |  SELECT 'retained' AS metric, COUNT(*) AS n_users
        |  FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        |  UNION ALL
        |  SELECT 'churned' AS metric, COUNT(*) AS n_users
        |  FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
        |  UNION ALL
        |  SELECT 'new' AS metric, COUNT(*) AS n_users
        |  FROM (SELECT * FROM b EXCEPT SELECT * FROM a))
        |ORDER BY metric""".stripMargin,

    "events_heavy_hitters" ->
      """WITH per AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_users FROM per)
        |SELECT user_id, n, (n * 10000) // total AS share_x10k
        |FROM per, tot
        |WHERE n * n_users * 10 >= total * 12
        |ORDER BY n DESC, user_id ASC""".stripMargin,

    "part_brand_breadth" ->
      """SELECT p_brand,
        |       COUNT(DISTINCT l_suppkey) AS n_suppliers,
        |       COUNT(DISTINCT l_partkey) AS n_parts,
        |       COUNT(*) AS n_lineitems
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 20
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_value_hour_covar" ->
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(round(value * 100, 0) AS BIGINT) AS x,
        |         CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS y
        |  FROM events),
        |a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |        CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        |      FROM e GROUP BY 1)
        |SELECT event_type, n,
        |       CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
        |            AS BIGINT) AS covar_num_x100
        |FROM a ORDER BY 1""".stripMargin,

    "events_user_profile" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |       MIN(CAST(ts AS TIMESTAMP)) AS first_ts,
        |       MAX(CAST(ts AS TIMESTAMP)) AS last_ts,
        |       arg_max(event_type, event_id) AS last_event_type,
        |       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS type_set
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "orders_pivot_priority" ->
      """SELECT date_trunc('month', o_orderdate) AS month,
        |       COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
        |       COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_high,
        |       COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_medium,
        |       COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_notspec,
        |       COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_low
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,

    "orders_unpivot_metrics" ->
      """WITH a AS (
        |  SELECT o_orderpriority,
        |         CAST(COUNT(*) AS BIGINT) AS n_orders,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_x100,
        |         CAST(MAX(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_x100
        |  FROM orders GROUP BY 1)
        |SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM a
        |UNION ALL SELECT o_orderpriority, 'total_x100', total_x100 FROM a
        |UNION ALL SELECT o_orderpriority, 'max_x100', max_x100 FROM a
        |ORDER BY o_orderpriority, metric""".stripMargin,

    "orders_monthly_mom" ->
      """WITH m AS (
        |  SELECT date_trunc('month', o_orderdate) AS month,
        |         CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT month, revenue,
        |       revenue - COALESCE(lag(revenue, 1) OVER (ORDER BY month), 0) AS delta
        |FROM m ORDER BY month""".stripMargin,

    "q1_rollup" ->
      """SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS returnflag,
        |       CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS linestatus,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_qty_x100
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY 1, 2""".stripMargin,

    "q14_promo" ->
      """SELECT date_trunc('month', l_shipdate) AS month,
        |       CAST(SUM(CASE WHEN p_type = 'PROMO'
        |             THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
        |             ELSE CAST(0 AS DECIMAL(18,4)) END) * 10000 AS BIGINT) AS promo_revenue_x10k,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) * 10000 AS BIGINT) AS total_revenue_x10k
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-07-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_session_paths" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |b AS (SELECT *, CASE WHEN us - lag(us) OVER
        |       (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |       > 1800000000 THEN 1 ELSE 0 END AS brk FROM e),
        |s AS (SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id
        |       ORDER BY ts ASC, event_id ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |      FROM b),
        |p AS (SELECT user_id, session_id,
        |        array_to_string((string_split(
        |          string_agg(event_type, '>' ORDER BY ts, event_id), '>'))[1:5], '>') AS path
        |      FROM s GROUP BY 1, 2),
        |c AS (SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1)
        |SELECT path, n_sessions FROM c
        |ORDER BY n_sessions DESC, path ASC LIMIT 20""".stripMargin,

    "events_rolling_mau" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        |dau AS (SELECT d AS day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY 1),
        |c AS (SELECT d + CAST(i AS INT) AS day, user_id FROM du,
        |      LATERAL (SELECT unnest(generate_series(0, 6)) AS i) g),
        |days AS (SELECT DISTINCT d AS day FROM du),
        |m AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau7 FROM c
        |      WHERE day IN (SELECT day FROM days) GROUP BY 1)
        |SELECT m.day, dau.dau, m.mau7
        |FROM m JOIN dau ON m.day = dau.day
        |ORDER BY m.day""".stripMargin,

    "events_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
        |  FROM events),
        |b AS (SELECT *, CASE WHEN us - lag(us) OVER
        |       (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |       > 1800000000 THEN 1 ELSE 0 END AS brk FROM e),
        |s AS (SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id
        |       ORDER BY ts ASC, event_id ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |      FROM b)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |       MIN(ts) AS session_start, MAX(ts) AS session_end,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_value_x100
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "events_anomaly" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS t_x100
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(t_x100) AS BIGINT) AS s,
        |         CAST(SUM(CAST(t_x100 AS HUGEINT) * t_x100) AS HUGEINT) AS q
        |       FROM hourly GROUP BY 1)
        |SELECT h.event_type, h.hour, h.t_x100
        |FROM hourly h JOIN st ON h.event_type = st.event_type
        |WHERE (CAST(n AS HUGEINT) * t_x100 - s) * (CAST(n AS HUGEINT) * t_x100 - s)
        |      > 4 * (CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
        |ORDER BY h.event_type, h.hour""".stripMargin,

    "events_hourly_agg" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_value_x100
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "events_variant_agg" ->
      """WITH k AS (SELECT event_type,
        |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |       FROM events)
        |SELECT event_type, COUNT(*) AS n,
        |       CAST(SUM(k) AS BIGINT) AS sum_k,
        |       CAST(COUNT(DISTINCT k) AS BIGINT) AS n_k,
        |       MIN(k) AS min_k, MAX(k) AS max_k
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_json_extract" ->
      """WITH e AS (
        |  SELECT TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT) AS k
        |  FROM events)
        |SELECT k % 10 AS k_bucket, COUNT(*) AS n, MIN(k) AS min_k,
        |       MAX(k) AS max_k, CAST(SUM(CAST(k AS BIGINT)) AS BIGINT) AS sum_k
        |FROM e GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin,
  )
}
