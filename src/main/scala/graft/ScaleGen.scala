package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool (not library surface): synthesize a larger scale factor
  * from an existing fixture dir by K-fold replication with
  * key-space shifts — `runMain graft.ScaleGen [src] [out] [K]`,
  * default sf0.1 → /tmp/graft_sf1 at K=10 (≈ sf1).
  *
  * The point is SCALING-EXPONENT measurement (SCALE.md): each replica
  * must reproduce the source's distributions while staying DISJOINT
  * from the others in every dimension an operator keys on, so a 10×
  * corpus does 10× work — not 100× via cross-replica collisions:
  *  - keys shift by `rep · (max+1)` (customers, orders, parts, docs,
  *    vectors, users, events) so joins and RI stay intact per replica;
  *  - document TEXT gets a per-replica token suffix (every token), so
  *    shingle/minhash/simhash channels see 10 disjoint corpora with
  *    identical per-doc token counts — replicating text verbatim would
  *    make every replica an exact near-dup of 9 others and the pair
  *    count would scale quadratically, measuring the replication
  *    artifact instead of the operator;
  *  - customer NAMES get a per-replica prefix (sorted-neighborhood
  *    linkage sees 10 disjoint sort regions, candidates scale ~10×);
  *  - embeddings rotate dims cyclically by `rep` (norms and
  *    within-replica geometry preserved, cross-replica cosine
  *    decorrelated);
  *  - event timestamps shift by `rep · 31 days` (the fixture spans 30
  *    days), so time-keyed cells (co-presence hours, sweep days,
  *    windows) replicate instead of densifying — hot-cell caps would
  *    otherwise clamp the work and fake sublinear scaling.
  *
  * region/nation copy as-is (fixed dimensions at every TPC-H SF).
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = LocalSession.builder(32, extensions = false).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val reps = broadcast(spark.range(k).select(col("id").as("rep")))
    // bounded scalar per table: one max per shifted key space
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c)).cast("long")).head.getLong(0) + 1
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[scalegen] $name done")
    }

    val (cust, ord, li, ev, doc, emb) =
      (Tables.customer(spark, src), Tables.orders(spark, src),
        Tables.lineitem(spark, src), Tables.events(spark, src),
        Tables.documents(spark, src), Tables.embeddings(spark, src))
    val (mc, mo, mp, ms) = (maxOf(cust, "c_custkey"), maxOf(ord, "o_orderkey"),
      maxOf(Tables.part(spark, src), "p_partkey"),
      maxOf(Tables.supplier(spark, src), "s_suppkey"))

    write(Tables.region(spark, src), "region")
    write(Tables.nation(spark, src), "nation")
    write(cust.crossJoin(reps).select(
      (col("c_custkey") + col("rep") * mc).as("c_custkey"),
      when(col("rep") === 0, col("c_name"))
        .otherwise(concat(expr("chr(97 + rep)"), lit("_"), col("c_name")))
        .as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")), "customer")
    write(Tables.supplier(spark, src).crossJoin(reps).select(
      (col("s_suppkey") + col("rep") * ms).as("s_suppkey"),
      col("s_name"), col("s_nationkey"), col("s_acctbal")), "supplier")
    write(Tables.part(spark, src).crossJoin(reps).select(
      (col("p_partkey") + col("rep") * mp).as("p_partkey"),
      col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
      col("p_retailprice")), "part")
    write(ord.crossJoin(reps).select(
      (col("o_orderkey") + col("rep") * mo).as("o_orderkey"),
      (col("o_custkey") + col("rep") * mc).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")), "orders")
    write(li.crossJoin(reps).select(
      (col("l_orderkey") + col("rep") * mo).as("l_orderkey"),
      (col("l_partkey") + col("rep") * mp).as("l_partkey"),
      (col("l_suppkey") + col("rep") * ms).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")), "lineitem")
    write(ev.crossJoin(reps).select(
      (col("event_id") + col("rep") * maxOf(ev, "event_id")).as("event_id"),
      expr("timestampadd(DAY, CAST(rep * 31 AS INT), ts)").as("ts"),
      (col("user_id") + col("rep") * maxOf(ev, "user_id")).as("user_id"),
      col("event_type"), col("value"), col("props")), "events")
    write(doc.crossJoin(reps).select(
      (col("doc_id") + col("rep") * maxOf(doc, "doc_id")).as("doc_id"),
      when(col("rep") === 0, col("text")).otherwise(regexp_replace(
        col("text"), lit("(\\S+)"),
        concat(lit("$1x"), col("rep").cast("string"))))
        .as("text"),
      col("lang"), col("source")).withColumn("n_chars",
        length(col("text")).cast("long")), "documents")
    write(emb.crossJoin(reps).select(
      (col("vec_id") + col("rep") * maxOf(emb, "vec_id")).as("vec_id"),
      expr("""concat(slice(embedding, CAST(rep + 1 AS INT),
             |             size(embedding) - CAST(rep AS INT)),
             |       slice(embedding, 1, CAST(rep AS INT)))""".stripMargin)
        .cast("array<float>").as("embedding"),
      col("label")), "embeddings")
    spark.stop()
  }
}
