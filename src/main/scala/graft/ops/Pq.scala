package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization ANN (Jégou/Douze/Schmid, TPAMI 2011 — the fine
  * quantizer this time; [[Ivf]] is the paper's coarse one): the vector
  * splits into `m` subvectors, each subspace gets its own k-means
  * codebook, and a vector compresses to `m` small codes — 64 floats
  * become 8 codes here (32× less memory), which is what lets a
  * 100 TB embedding corpus live in RAM-adjacent storage.
  *
  * Query scoring is ADC (asymmetric distance computation): the query
  * precomputes its inner product against every centroid of every
  * subspace (an m×k table, tiny), and a corpus vector's score is the
  * sum of m TABLE LOOKUPS — no float math against the original vector
  * at all. Here the lookup sum is a pure higher-order-function
  * expression (aggregate over sequence), fully inside whole-stage
  * codegen: the plan is brute-force's broadcast-queries × corpus scan
  * shape, but each pair costs m integer-indexed lookups instead of
  * `dim` multiplies, and the scan reads the 8-code column instead of
  * the 64-float embedding.
  *
  * Scale shape: training is m seeded k-means fits on a corpus sample
  * (bounded, centroids broadcast); encoding is one explode + one keyed
  * aggregation; the query-side table build touches m×k×|queries| rows.
  * Not oracle-SQL-expressible (iterative training), so the registered
  * query self-checks recall against exact brute force, like IVF.
  */
object Pq {

  /** `codes`: (vec_id, codes array<int> of length m); `cents`:
    * (sub, code, centroid) — the m codebooks flattened. */
  final case class Index(codes: DataFrame, cents: DataFrame, m: Int, k: Int)

  private[ops] def sliced(df: DataFrame, vecCol: Column, idCol: Column,
                          m: Int, dsub: Int): DataFrame =
    df.select(idCol.as("vec_id"), vecCol.as("v"))
      .select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), i -> slice(v, i * $dsub + 1, $dsub))")))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "subv")

  private val subL2 = expr(
    "aggregate(zip_with(subv, centroid, (a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), 0D, (acc, x) -> acc + x)")

  /** One flat ADC inner-product table per query — RAW query slices ×
    * the (sub, code, centroid) codebook, sorted to the positional
    * (sub·k + code) layout `adc_sum` indexes into. Used by
    * [[IvfPq.topK]]. */
  private[graft] def adcTables(queries: DataFrame, vecCol: Column,
      idCol: Column, cents: DataFrame, m: Int, dsub: Int): DataFrame = {
    val ip = expr(
      "aggregate(zip_with(subv, centroid, (a, b) -> CAST(a AS DOUBLE) * b), 0D, (acc, x) -> acc + x)")
    sliced(queries, vecCol, idCol, m, dsub)
      .withColumnRenamed("vec_id", "q_vec_id")
      .join(broadcast(cents), "sub")
      .withColumn("ip", ip)
      .groupBy(col("q_vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(sub, code, ip))), x -> x.ip)")
        .as("tbl"))
  }

  /** Train per-subspace codebooks (id-hash-based init — no seed
    * parameter; determinism notes below) and encode the corpus. `dim`
    * must be divisible by `m`.
    *
    * All m codebooks train SIMULTANEOUSLY over one exploded
    * (vec, sub, subv) frame — Lloyd assignment is a broadcast join
    * against the m×k centroid table, the centroid update is a keyed
    * average, and only the codebook itself (m×k×dsub values — bounded
    * metadata, exactly what an ML model holds on the driver) collects
    * between rounds, truncating the iterative lineage. `maxIter`
    * rounds × one shuffle each, independent of m — versus m separate
    * k-means fits each paying its own init/iteration job overhead
    * (measured 6s → ~1.5s for the whole operator at sf0.01). Init
    * seeds are the k corpus vectors with the smallest id-hash; a
    * cluster that empties keeps its previous centroid so the codebook
    * stays dense (ADC's positional lookup needs every slot).
    *
    * Determinism: the INIT is partitioning-exact (id-hash selection),
    * but the Lloyd centroid update averages doubles, whose summation
    * order follows partitioning — so the codebook is reproducible in
    * practice yet not bit-stable under AQE/repartition re-plans. The consumers tolerate that: every PQ
    * query is rows-only self-checking against exact brute force, and
    * the exact re-rank tail makes the final top-k insensitive to
    * code-boundary wobble. */
  def build(corpus: DataFrame, vecCol: Column, idCol: Column, dim: Int,
            m: Int = 8, k: Int = 16, maxIter: Int = 4,
            metaCols: Seq[(String, Column)] = Nil): Index = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val spark = corpus.sparkSession
    import spark.implicits._
    val dsub = dim / m
    // id cast to long up front: seedIds reads getLong, and callers may
    // pass int ids
    val base = corpus.select(idCol.cast("long").as("vec_id"), vecCol.as("v"))
    val sl = sliced(base, col("v"), col("vec_id"), m, dsub)
    // deterministic init: slices of the k smallest-hash vectors, the
    // same under any partitioning/AQE re-plan
    val seedIds = base
      .select(col("vec_id"), Sampling.hashVal(col("vec_id")).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .collect().map(_.getLong(0)).sorted.zipWithIndex
    // the positional ADC lookup (sub·k + code) requires a FULL codebook:
    // k' < k seeds would silently shift every subspace's table stride
    require(seedIds.length == k,
      s"PQ corpus has ${seedIds.length} vectors but k=$k codes per " +
        "subspace are required (lower k)")
    val seedCodes = seedIds.toSeq.toDF("vec_id", "code")
    // the codebook lives driver-side between rounds (bounded m×k×dsub
    // metadata, exactly what an ML model holds), truncating the
    // iterative lineage with zero persists. It stays DENSE: a cluster
    // that empties keeps its previous centroid, because ADC's
    // positional table lookup (sub·k + code) requires every code slot.
    var book: Map[(Int, Int), Seq[Double]] =
      sl.join(broadcast(seedCodes), "vec_id")
        .select(col("sub"), col("code"),
          col("subv").cast("array<double>").as("centroid"))
        .as[(Int, Int, Seq[Double])].collect()
        .map { case (s0, c0, v0) => (s0, c0) -> v0 }.toMap
    def centsDf = book.toSeq.map { case ((s0, c0), v0) => (s0, c0, v0) }
      .toDF("sub", "code", "centroid")
    for (_ <- 1 to maxIter) {
      val assigned = sl.join(broadcast(centsDf), "sub")
        .withColumn("d2", subL2)
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("d2"), col("code"))).getField("code").as("code"))
      val updated = sl.join(assigned, Seq("vec_id", "sub"))
        .select(col("sub"), col("code"), posexplode(col("subv")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(avg(col("col").cast("double")).as("mdim"))
        .groupBy(col("sub"), col("code"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, mdim))), x -> x.mdim)")
          .as("centroid"))
        .as[(Int, Int, Seq[Double])].collect()
        .map { case (s0, c0, v0) => (s0, c0) -> v0 }.toMap
      book = book.map { case (key, prev) => key -> updated.getOrElse(key, prev) }
    }
    val cents = centsDf
    // encode the FULL corpus: nearest centroid per (vector, subspace);
    // min(struct) makes ties deterministic by code
    val assigned = sliced(base, col("v"), col("vec_id"), m, dsub)
      .join(broadcast(cents), "sub")
      .withColumn("d2", subL2)
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("d2"), col("code"))).getField("code").as("code"))
    val codes0 = assigned.groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(sub, code))), x -> x.code)")
        .as("codes"))
    // metaCols ride INSIDE the coded table (one build-time join), so a
    // filtered search evaluates its predicate as a scan filter on the
    // pinned codes — the same seam as Ivf/IvfPq
    val codes = if (metaCols.isEmpty) codes0 else
      codes0.join(corpus.select(idCol.cast("long").as("vec_id") +:
        metaCols.map { case (n, c) => c.as(n) }: _*), "vec_id")
    Index(codes, cents, m, k)
  }

  /** ADC top-k: per-query m×k inner-product tables broadcast against
    * the coded corpus; score = sum of m table lookups per pair. */
  def topK(index: Index, queries: DataFrame, vecCol: Column, idCol: Column,
           k: Int, candFilter: Column = lit(true)): DataFrame = {
    val ip = expr(
      "aggregate(zip_with(subv, centroid, (a, b) -> CAST(a AS DOUBLE) * b), 0D, (acc, x) -> acc + x)")
    // flat table ordered by (sub, code): entry sub*k + code
    val qslices = queries.select(idCol.as("q_vec_id"), vecCol.as("qv"))
      .select(col("q_vec_id"), posexplode(expr(
        s"transform(sequence(0, ${index.m - 1}), i -> slice(qv, i * (size(qv) DIV ${index.m}) + 1, size(qv) DIV ${index.m}))")))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "subv")
    val qtables = qslices.join(broadcast(index.cents), "sub")
      .withColumn("ip", ip)
      .groupBy(col("q_vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(sub, code, ip))), x -> x.ip)")
        .as("tbl"))
    // the scoring kernel is the native codegen'd adc_sum expression —
    // one tight lookup loop per (query, candidate) pair; equivalence
    // with the HOF aggregate/element_at form is property-tested in
    // QuantizedDotSpec
    val adc = graft.functions.GraftFunctions.registerAdcSum(queries.sparkSession)
    index.codes.where(candFilter).crossJoin(broadcast(qtables))
      .withColumn("score", adc(col("codes"), col("tbl"), index.k))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_vec_id")).orderBy(col("score").desc, col("vec_id").asc)))
      .where(col("rnk") <= k)
      .select(col("q_vec_id"), col("vec_id"), col("score"), col("rnk"))
  }

  /** Exact q_dot re-rank of a (q_vec_id, vec_id) shortlist against the
    * original vectors — the shared tail of every two-stage ANN path
    * (PQ, IVF-PQ): one implementation so tie-breaks and null handling
    * cannot drift between them. */
  private[graft] def rerankExact(corpus: DataFrame, queries: DataFrame,
                               pairs: DataFrame, vecCol: Column, idCol: Column,
                               k: Int): DataFrame = {
    val qdot = graft.functions.GraftFunctions.registerQDot(queries.sparkSession)
    val cand = corpus.select(idCol.as("vec_id"), vecCol.as("cv"))
      .join(broadcast(pairs.select(col("q_vec_id"), col("vec_id"))), "vec_id")
    val qs = queries.select(idCol.as("qq"), vecCol.as("qv"))
    cand.join(broadcast(qs), col("q_vec_id") === col("qq"))
      .withColumn("dot", qdot(col("cv"), col("qv")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_vec_id")).orderBy(col("dot").desc, col("vec_id").asc)))
      .where(col("rnk") <= k)
      .select(col("q_vec_id"), col("vec_id"), col("dot"), col("rnk"))
  }

  /** The production PQ shape: ADC scores a cheap SHORTLIST of
    * `shortlist` candidates per query over the compressed codes, then
    * only those candidates re-rank against their ORIGINAL vectors with
    * the exact integer q_dot. Exact work drops from |corpus| to
    * `shortlist` pairs per query; recall@k measures whether the true
    * top-k survived into the shortlist — far more forgiving than raw
    * ADC order, which is what makes lossy codes usable. */
  def topKReranked(index: Index, corpus: DataFrame, queries: DataFrame,
                   vecCol: Column, idCol: Column, k: Int,
                   shortlist: Int, candFilter: Column = lit(true)): DataFrame =
    rerankExact(corpus, queries,
      topK(index, queries, vecCol, idCol, shortlist, candFilter),
      vecCol, idCol, k)
}
