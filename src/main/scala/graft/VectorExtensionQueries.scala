package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.{ApplyChanges, Fixtures, Routing}
import graft.ops.{Dedup, Multimodal, Sessionize, Similarity, Text, Vectors}

/** Extension queries — embedding & similarity serving (ANN, k-means, PCA, quantization, semantic dedup).
  * Builders + their DuckDB oracle mirrors for this family; shared
  * fragments come from [[ExtensionQueriesBase]]. Registered into the
  * single public registry by [[ExtensionQueries]].
  */
private[graft] trait VectorExtensionQueries extends ExtensionQueriesBase {
  /** Per-label embedding norm statistics over the quantized integer
    * norms — the corpus-health check before ANN indexing (a label whose
    * norms collapse or explode poisons cosine buckets). Quantization
    * makes the sums exact and order-independent; one scan, one keyed
    * shuffle of 4-value partials. */
  private def qEmbNormStats(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"),
        graft.ops.Vectors.intNorm2(graft.ops.Vectors.quantize(col("embedding"))).as("n2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("n2")).as("sum_norm2"),
        min(col("n2")).as("min_norm2"), max(col("n2")).as("max_norm2"))
      .orderBy("label")

  /** INT8 QUANTIZATION ERROR AUDIT — the quality report an embedding
    * store produces before committing to int8 serving (the standard
    * 4× compression: per-vector symmetric scale s = max|x|, code
    * c = round(127·x/s)). Everything runs in the repo's exact
    * milli-unit integer space ([[graft.ops.Vectors.quantize]]) so
    * both engines compute the identical rounding: code and
    * reconstruction use round-half-up on NON-NEGATIVE operands
    * ((|q|·254 + s) div 2s and (c·2s + 127) div 254), sidestepping
    * trunc-vs-floor divergence, and the per-dim error |‖q‖ − r| is
    * sign-free because code and reconstruction carry q's sign.
    * Per label: vector count, summed/max absolute reconstruction
    * error, and summed scale (the denominATOR of any relative-error
    * read) — all BIGINT.
    *
    * Scale shape: pure scan-stage HOF arithmetic per vector + one
    * label aggregate; no join, no window, no collect.
    */
  private def qEmbInt8QuantError(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), graft.ops.Vectors.quantize(col("embedding")).as("q"))
      .withColumn("s", expr(
        "greatest(aggregate(q, 0L, (a, x) -> greatest(a, abs(x))), 1L)"))
      .withColumn("errs", expr(
        """transform(q, x -> abs(abs(x) -
          |  (((abs(x) * 254 + s) div (2 * s)) * 2 * s + 127) div 254))"""
          .stripMargin))
      .withColumn("e_sum", expr("aggregate(errs, 0L, (a, x) -> a + x)"))
      .withColumn("e_max", expr("aggregate(errs, 0L, (a, x) -> greatest(a, x))"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("e_sum")).as("sum_err"),
        max(col("e_max")).as("max_err"),
        sum(col("s")).as("sum_scale"))
      .orderBy("label")

  private def qEmbSemdedup(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val qdot = graft.functions.GraftFunctions.registerQDot(s)
    val k = math.max(4L, emb.count() / SemdedupCellTarget)
    val a = graft.ops.SemanticCluster.seedAssignments(emb, col("embedding"),
        col("vec_id"), emb.where(col("vec_id") < k))
      .withColumn("n2", qdot(col("v"), col("v")))
    // The within-cell pair join is the query's quadratic-per-cell term
    // (Σ|cell|² ≈ n·cellTarget q_dot probes) and MUST parallelize by
    // cell: the checkpointed assignment frame inherits the INPUT FILE
    // layout, and the r20 sf1 probe caught the whole join running as
    // ONE task (33 of the query's 35 exec-s serial on a single-file
    // replica — wall grew 10× on 10× data with flat per-core work).
    // One narrow n-row repartition on the cell key fans the join out
    // to the shuffle width regardless of how few files the scan read;
    // both join sides read the SAME exchange (self-join), so it costs
    // one small shuffle, and k = n div 500 cells keep every partition
    // occupied at any corpus size. The count is PINNED
    // (REPARTITION_BY_NUM): the shuffled rows are only ~n·(dim+3)
    // longs, and AQE's advisory-size coalescing judges by THOSE bytes
    // — it re-merged the keyed layout to 2 partitions and kept the
    // |cell|²-heavy join nearly serial (measured 15.3 s vs 5.8 s at
    // sf1; the bytes-per-row vs work-per-row mismatch is inherent to
    // a quadratic-per-group operator).
    val ap = a.repartition(
      s.conf.get("spark.sql.shuffle.partitions").toInt, col("cl"))
    val pairs = ap.as("x").join(ap.as("y"),
        col("x.cl") === col("y.cl") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.cl").as("cell"),
        col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        qdot(col("x.v"), col("y.v")).as("dot"),
        col("x.n2").as("n2a"), col("y.n2").as("n2b"))
      .where(col("dot") > 0 &&
        lit(10000L).cast("decimal(38,0)") *
          col("dot").cast("decimal(38,0)") * col("dot").cast("decimal(38,0)") >=
        lit(1600L).cast("decimal(38,0)") *
          col("n2a").cast("decimal(38,0)") * col("n2b").cast("decimal(38,0)"))
      .select(col("cell"), col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    // Components via the blocked one-shuffle form, NOT the iterative
    // loop: SemDeDup pairs exist only WITHIN a cell (the join condition
    // is x.cl = y.cl), so no component crosses a cell and a per-cell
    // local union-find gives the identical min-id labels in a
    // data-independent number of stages. Semantic-dup graphs CHAIN
    // (a≈b≈c without a≈c) — the union-find handles arbitrary chain
    // depth inside the cell, where the r15 probe's label-prop budget
    // could not; and the r16 verdict measured the iterative form at
    // ~93% stage-scheduling overhead (40 stages, 0.1 MB shuffle).
    val comp = graft.ops.Components.componentsWithinGroups(pairs, col("cell"))
    a.select(col("vec_id"), col("cl"))
      .join(comp, col("vec_id") === comp("id"), "left")
      .select(col("vec_id"), col("cl").as("cluster"),
        (col("comp").isNull || col("comp") === col("vec_id")).as("keep"))
      .orderBy("vec_id")
  }

  /** Embedding-outlier screen: the 20 vectors farthest (exact integer
    * squared distance) from their assigned k-means seed centroid —
    * the corrupt-embedding / out-of-distribution detector an index
    * build runs first (a zeroed or garbage vector poisons cosine
    * buckets and recall audits). Rides the SAME seed-assignment frame
    * as SemDeDup (d2 comes free with the argmin); rank-based cut, no
    * magic distance threshold. TakeOrdered top-20, window over 20
    * rows post-cut.
    */
  private def qEmbOutliers(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, dir)
    graft.ops.SemanticCluster.seedAssignments(emb, col("embedding"),
        col("vec_id"), emb.where(col("vec_id") < 4))
      .select(col("vec_id"), col("cl"), col("d2"))
      .orderBy(col("d2").desc, col("vec_id").asc).limit(20)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("d2").desc, col("vec_id").asc))
          .cast("long"))
      .select(col("rank"), col("vec_id"), col("cl"), col("d2"))
      .orderBy("rank")
  }

  /** Exact range (threshold) similarity search
    * ([[graft.ops.Similarity.rangeSearch]]): all candidates with
    * integer dot ≥ 150,000 against each of the 8 query vectors — the
    * "everything above the similarity bar" retrieval form, where top-k
    * would either truncate a dense neighborhood or pad a sparse one.
    * The 150k bar sits near the p90 of the corpus dot distribution,
    * so the result is selective but never empty.
    *
    * Scale shape: the 8-query block broadcasts into one candidate
    * scan; the dot and the threshold filter run scan-stage inside
    * whole-stage codegen (`q_dot` is a codegen'd Catalyst expression).
    * Zero shuffles before the output sort.
    */
  private def qSimRangeSearch(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.rangeSearch(emb.where(col("vec_id") >= 8),
        emb.where(col("vec_id") < 8), col("embedding"), col("vec_id"),
        minDot = 150000L)
      .orderBy(col("q_vec_id"), col("dot").desc, col("vec_id"))
  }

  /** Centroid-distance OOD screen — the deployment twin of
    * emb_outliers: instead of a top-20 rank cut, every vector is
    * flagged against a data-derived bar (2× the corpus mean of the
    * exact integer d2 to its assigned seed centroid), and the readout
    * is the per-label OOD census — which label families drift out of
    * distribution. The threshold is exact on both engines (integer
    * mean with identical truncation, then an integer compare).
    *
    * Scale shape: assignments are scan-stage against literal centroids
    * (the shared seedAssignments frame); the threshold is a 1-row
    * broadcast; the census is one label-keyed aggregate over the
    * assignment frame. Nothing all-pairs, nothing data-sized collected.
    */
  private def qEmbOodCentroid(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val a = graft.ops.SemanticCluster.seedAssignments(emb, col("embedding"),
        col("vec_id"), emb.where(col("vec_id") < 4))
      .select(col("vec_id"), col("d2"))
    // decimal(38) sum: d2 ≤ ~10⁹ per row, so a BIGINT sum clears 2⁶³
    // near 10¹⁰ rows — decimal keeps the mean exact at any SF
    val thr = a.agg(expr(
      "CAST(2 * (sum(CAST(d2 AS DECIMAL(38,0))) div count(1)) AS BIGINT)")
      .as("thr"))
    a.join(emb.select(col("vec_id"), col("label").cast("long").as("label")),
        "vec_id")
      .crossJoin(broadcast(thr))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("d2") > col("thr"), 1L).otherwise(0L)).as("n_ood"),
        max(col("d2")).as("max_d2"))
      .withColumn("ood_share_bp", expr("(10000 * n_ood) div n"))
      .select(col("label"), col("n"), col("n_ood"), col("ood_share_bp"),
        col("max_d2"))
      .orderBy("label")
  }

  /** MMR diversity re-rank over the query-0 retrieval shortlist
    * ([[graft.ops.Similarity.mmrRerank]]): top-20 by exact integer
    * dot, then 5 greedy λ=1/2 MMR picks — the near-dup-suppressing
    * context-window selection RAG serving needs after ANN retrieval.
    * The greedy loop runs driver-side over the bounded shortlist (the
    * PQ-codebook pattern); the oracle replays the identical fold as a
    * generated CTE chain. */
  private def qSimMmrRerank(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.mmrRerank(Tables.embeddings(s, dir), col("embedding"),
        col("vec_id"), queryId = 0L, shortlist = 20, k = 5)
      .orderBy("rank")

  /** Hybrid retrieval with Reciprocal Rank Fusion (Cormack, Clarke &
    * Buettcher, SIGIR 2009) — the standard RAG serving pattern: a
    * lexical channel (integer BM25 top-20 on the literal query terms)
    * and a dense channel (exact integer-dot top-20 for the query
    * embedding, doc_id ≡ vec_id in the fixture) fuse by
    * `Σ 1e6 div (60 + rank)` — RRF's 1/(k₀+r) at scale 10⁶ in pure
    * integer division, so the fused ORDER is engine-exact (no float
    * reciprocal crosses the compare). A doc absent from a channel
    * contributes 0 (rank 0 encodes absence in the output).
    *
    * Scale shape: each channel is its existing one-scan serving plan
    * (BM25: zero-join scan + TakeOrdered; dense: brute/ANN top-k);
    * the fusion then runs on two ≤20-row frames — full-outer join,
    * score, top-10 — bounded by the channel k's, never corpus-sized,
    * and the global row_number windows sit on post-limit frames only.
    */
  private def qSimHybridRrf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, dir)
    val dense = Similarity.topKBruteForce(
        emb.where(col("vec_id") =!= 0), emb.where(col("vec_id") === 0),
        col("embedding"), col("vec_id"), k = 20)
      .select(col("vec_id").as("doc_id"), col("rnk").cast("long").as("dense_rank"))
    val lex = graft.ops.Retrieval.bm25TopK(Tables.documents(s, dir),
        col("text"), col("doc_id"), bm25Terms, 20)
      .withColumn("lex_rank", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    val fused = lex.join(dense, Seq("doc_id"), "full_outer")
      .na.fill(0L, Seq("lex_rank", "dense_rank"))
      .withColumn("rrf_x1e6",
        when(col("lex_rank") > 0, expr("1000000 div (60 + lex_rank)"))
          .otherwise(0L) +
        when(col("dense_rank") > 0, expr("1000000 div (60 + dense_rank)"))
          .otherwise(0L))
      .orderBy(col("rrf_x1e6").desc, col("doc_id"))
      .limit(10)
    fused
      .withColumn("fused_rank", row_number()
        .over(Window.orderBy(col("rrf_x1e6").desc, col("doc_id"))).cast("long"))
      .select(col("fused_rank"), col("doc_id"), col("lex_rank"),
        col("dense_rank"), col("rrf_x1e6"))
      .orderBy("fused_rank")
  }

  private def qSimTopkBrute(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.topKBruteForce(emb.where(col("vec_id") >= 8),
        emb.where(col("vec_id") < 8), col("embedding"), col("vec_id"), k = 10)
      .select(col("q_vec_id"), col("vec_id"), col("dot"), col("rnk"))
      .orderBy("q_vec_id", "rnk")
  }

  /** IVF cell-balance audit — the index-health readout an ANN build
    * publishes before serving: per coarse cell its occupancy and
    * corpus share, plus the global imbalance factor max/mean ×100
    * (a skewed cell is the one whose probe latency dominates the
    * p99 at scale — the signal that triggers re-training or cell
    * splitting). Rides the same seed-assignment frame as SemDeDup /
    * emb_kmeans; the two global statistics join back as a 1-row
    * broadcast. All integer arithmetic.
    */
  private def qEmbCellBalance(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val per = graft.ops.SemanticCluster.seedAssignments(emb, col("embedding"),
        col("vec_id"), emb.where(col("vec_id") < 4))
      .groupBy(col("cl").as("cell"))
      .agg(count(lit(1)).as("n_vecs"))
    val tot = per.agg(sum(col("n_vecs")).as("total"),
      max(col("n_vecs")).as("max_n"))
    per.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vecs"),
        expr("(10000 * n_vecs) div total").as("share_bp"),
        expr("(max_n * 400) div total").as("imbalance_x100"))
      .orderBy("cell")
  }

  /** k-NN label-vote classification over the serving split — the
    * labeling/moderation service one step past top-k retrieval: each
    * query vector takes the majority label of its 10 exact nearest
    * candidates (ties → smallest label), reported against its own
    * label. Neighbor sets ride the SAME integer-dot brute-force
    * contract as sim_topk_bruteforce, so the oracle reproduces them
    * bit-for-bit.
    *
    * Scale shape: the query side is a bounded serving set (8 vectors
    * broadcast), so scoring is one scan-stage pass over candidates;
    * the label lookup joins the 80-row top-k frame INTO the
    * embeddings scan as a broadcast, never the reverse; the vote is
    * an 80-row aggregate. No data-sized shuffle anywhere. */
  private def qSimKnnClassify(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, dir)
    val top = Similarity.topKBruteForce(emb.where(col("vec_id") >= 8),
        emb.where(col("vec_id") < 8), col("embedding"), col("vec_id"), k = 10)
      .select(col("q_vec_id"), col("vec_id"))
    val nbr = emb.select(col("vec_id"), col("label").cast("long").as("nbr_label"))
      .join(broadcast(top), Seq("vec_id"))
    val votes = nbr.groupBy(col("q_vec_id"), col("nbr_label"))
      .agg(count(lit(1)).as("votes"))
    val pred = votes.withColumn("pr", row_number().over(
        Window.partitionBy(col("q_vec_id"))
          .orderBy(col("votes").desc, col("nbr_label").asc)))
      .where(col("pr") === 1)
    pred.join(broadcast(emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("q_vec_id"), col("label").cast("long").as("true_label"))),
        Seq("q_vec_id"))
      .select(col("q_vec_id"), col("nbr_label").as("pred_label"),
        col("votes"), col("true_label"),
        (col("nbr_label") === col("true_label")).as("correct"))
      .orderBy("q_vec_id")
  }

  /** Triplet mining for contrastive training: per anchor (the serving
    * query set), the HARDEST POSITIVE (same-label candidate with the
    * minimum dot — the farthest example the model must still pull in)
    * and the HARDEST NEGATIVE (different-label candidate with the
    * maximum dot — the closest impostor it must push out), plus the
    * triplet margin pos_dot − neg_dot (negative ⇒ violated triplet —
    * exactly the rows a miner feeds back into training). Exact
    * integer dots, argmin/argmax tie-broken by vec_id.
    *
    * Scale shape: anchors broadcast, so scoring is scan-stage; the
    * arg-extremes are struct-min AGGREGATES (map-side combined, one
    * shuffle of 2 tiny partials per anchor) — NOT windows over the
    * scored frame, which would sort data-sized partitions per anchor
    * at 100 TB. (-dot, vec_id) struct-min gives the max-dot argmax
    * with the same asc vec_id tie-break the oracle's window uses. */
  private def qEmbTripletMining(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val qdot = graft.functions.GraftFunctions.registerQDot(s)
    val anchors = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("qv"),
        col("label").cast("long").as("a_label"))
    val scored = emb.where(col("vec_id") >= 8)
      .select(col("vec_id"), col("embedding").as("v"),
        col("label").cast("long").as("c_label"))
      .crossJoin(broadcast(anchors))
      .select(col("anchor_id"), col("a_label"), col("vec_id"),
        qdot(col("v"), col("qv")).as("dot"),
        (col("c_label") === col("a_label")).as("same"))
    scored.groupBy(col("anchor_id"), col("a_label"))
      .agg(
        min(when(col("same"), struct(col("dot"), col("vec_id")))).as("pos"),
        min(when(!col("same"), struct((-col("dot")).as("ndot"), col("vec_id")))).as("neg"))
      .where(col("pos").isNotNull && col("neg").isNotNull)
      .select(col("anchor_id"), col("a_label"),
        col("pos.vec_id").as("pos_id"), col("pos.dot").as("pos_dot"),
        col("neg.vec_id").as("neg_id"), (-col("neg.ndot")).as("neg_dot"),
        (col("pos.dot") + col("neg.ndot")).as("margin"))
      .orderBy("anchor_id")
  }

  private def qSimTopkLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.topKLsh(emb.where(col("vec_id") >= 8),
        emb.where(col("vec_id") < 8), col("embedding"), col("vec_id"),
        k = 5, bits = 8)
      .select(col("q_vec_id"), col("vec_id"), col("dot"), col("rnk"))
      .orderBy("q_vec_id", "rnk")
  }

  // recall floors: measured per-query minima are 80 (IVF), 40 (PQ), 50
  // (IVF-PQ) at sf0.01 and 80/30/30 at sf0.001; the floors sit ≥ 15
  // recall points below every observed value so a one-neighbor flip
  // from float-merge-order jitter can't cross them
  private def qSimTopkIvf(s: SparkSession, dir: String): DataFrame =
    annAudit(simTopkIvfRows(s, dir), minRecallX100 = 45)

  private def qSimTopkIvfFiltered(s: SparkSession, dir: String): DataFrame =
    annAudit(simTopkIvfFilteredRows(s, dir), minRecallX100 = 45)

  private def qSimTopkIvfPqFiltered(s: SparkSession, dir: String): DataFrame =
    annAudit(simTopkIvfPqFilteredRows(s, dir), minRecallX100 = 15)

  private def qSimTopkPq(s: SparkSession, dir: String): DataFrame =
    annAudit(simTopkPqRows(s, dir), minRecallX100 = 15)

  private def qSimTopkPqFiltered(s: SparkSession, dir: String): DataFrame =
    annAudit(simTopkPqFilteredRows(s, dir), minRecallX100 = 15)

  private def qSimTopkIvfPq(s: SparkSession, dir: String): DataFrame =
    annAudit(simTopkIvfPqRows(s, dir), minRecallX100 = 15)

  /** Filtered (hybrid) vector search: top-k restricted to candidates
    * whose metadata passes a predicate (here `label < 5`) — the
    * "search only the docs this user may see / only this language"
    * production shape. The label predicate is a plain scan filter, so
    * it pushes into the parquet reader and the expensive dot product
    * only runs on the matching fraction (PlanSpec pins the pushdown) —
    * at 100 TB a selective filter is the single biggest ANN
    * accelerator, ahead of any index. */
  private def qSimTopkFiltered(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.topKBruteForce(
        emb.where(col("vec_id") >= 8 && col("label") < 5),
        emb.where(col("vec_id") < 8), col("embedding"), col("vec_id"), k = 10)
      .select(col("q_vec_id"), col("vec_id"), col("dot"), col("rnk"))
      .orderBy("q_vec_id", "rnk")
  }

  /** Semantic clustering / semantic dedup: one exact-integer Lloyd
    * round of k-means over the embeddings (seeds = vec_id < 4),
    * emitting per-cluster size, inertia, and the representative
    * vector ([[graft.ops.SemanticCluster]]). The whole round is two
    * scan-stage assignment passes against literal centroids plus one
    * bounded (k·dim) refit aggregate — no shuffle ever carries a
    * vector. */
  private def qEmbKmeans(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    graft.ops.SemanticCluster.lloydOnce(emb, col("embedding"), col("vec_id"),
        emb.where(col("vec_id") < 4))
      .orderBy("cluster")
  }

  /** [[qEmbKmeans]] run to a second Lloyd round — assignments move as
    * the centroids leave their seed positions, and the oracle mirrors
    * BOTH rounds as generated CTE chains ([[kmeansOracleSql]]), the
    * same single-source-of-truth pattern as the PageRank rank steps.
    * Cost grows by exactly one scan + one bounded refit aggregate per
    * extra round. */
  private def qEmbKmeans2(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    graft.ops.SemanticCluster.lloyd(emb, col("embedding"), col("vec_id"),
        emb.where(col("vec_id") < 4), refits = 2)
      .orderBy("cluster")
  }

  /** [[qEmbKmeans]] with farthest-point (Gonzalez k-center) seeding
    * instead of lowest-id seeds — the deterministic k-means++ stand-in
    * AND a diversity-sampling primitive (the seeds themselves are k
    * maximally-spread exemplars). The traversal and the Lloyd round
    * are both integer-exact, so the full chain — including the
    * non-contiguous seed ids the traversal picks — hash-matches the
    * generated CTE mirror. */
  private def qEmbKmeansFp(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val ids = graft.ops.SemanticCluster.farthestPointSeedIds(
      emb, col("embedding"), col("vec_id"), k = 4)
    graft.ops.SemanticCluster.lloydOnce(emb, col("embedding"), col("vec_id"),
        emb.where(col("vec_id").isin(ids: _*)))
      .orderBy("cluster")
  }

  /** Johnson–Lindenstrauss ±1 sign projection of the embeddings
    * (64 → 16 dims, [[Vectors.signProject]]): the ANN-prefilter /
    * embedding-compression primitive — distances survive (Achlioptas),
    * memory and per-pair compute drop 4×. Integer-exact, so the
    * oracle hash-pins the projected table (sampled components + the
    * full projected norm² — array columns stay out of the compare).
    * Pure scan-stage expression: one scan, zero shuffles before the
    * final sort. */
  private def qEmbRandomProjection(s: SparkSession, dir: String): DataFrame = {
    val proj = Tables.embeddings(s, dir)
      .select(col("vec_id"), Vectors.quantize(col("embedding")).as("qz"))
      .select(col("vec_id"), Vectors.signProject(col("qz"), 16, EMB_DIM).as("p"))
    proj.select(col("vec_id"),
        element_at(col("p"), 1).as("p0"), element_at(col("p"), 2).as("p1"),
        element_at(col("p"), 3).as("p2"), element_at(col("p"), 4).as("p3"),
        Vectors.intNorm2(col("p")).as("pnorm2"))
      .orderBy("vec_id")
  }

  /** EMBEDDING-SPACE DRIFT audit — cosine between the CENTROIDS of
    * two deterministic halves of the embedding table (vec_id parity =
    * the deployment-A/B or before/after-reencode split), plus the
    * squared L2 gap and the worst-drifting dimension's gap — the
    * regression check an embedding pipeline runs when the encoder,
    * preprocessing, or corpus mix changes (the vector-space sibling
    * of `events_drift_halves`). Exact integers throughout: centroids
    * in MILLI-quantized units via `sign(s)·(|s|·1000 div n)` — the
    * abs/sign form makes trunc and floor agree, so Spark's
    * toward-zero `div` and DuckDB's floor `//` cannot split on
    * negative sums — and cosine is emitted as `sign` + `cos²·10⁴`
    * cross-multiplied (the [[graft.ops.Dedup.embeddingNearDups]]
    * convention). Milli-centroid components are bounded by 10⁶
    * regardless of n, so every product fits DECIMAL(38,0)/HUGEINT at
    * ANY corpus size — the naive mean-free form (dot of raw sums)
    * would overflow its square past ~10⁶ rows.
    *
    * Scale shape: scan-stage quantize + posexplode, ONE dim-keyed
    * shuffle whose partial aggregates reduce to 64 rows map-side,
    * then a 64-row fold — no window, no join, no collect.
    */
  private def qEmbCentroidDrift(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(s, dir)
      .select((col("vec_id") % 2 === 0).as("ha"),
        posexplode(Vectors.quantize(col("embedding"))).as(Seq("dim", "qv")))
    q.groupBy(col("dim"))
      .agg(sum(when(col("ha"), col("qv")).otherwise(0L)).as("sa"),
        sum(when(!col("ha"), col("qv")).otherwise(0L)).as("sb"),
        sum(when(col("ha"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("ha"), 1L).otherwise(0L)).as("cb"))
      .select(
        // greatest(·, 1): an empty parity half has sum 0, so the
        // clamped division still yields the correct 0 centroid instead
        // of a Spark-NULL / DuckDB-error engine split
        expr("CAST(sign(sa) AS BIGINT) * ((abs(sa) * 1000) div greatest(ca, 1))")
          .as("ma"),
        expr("CAST(sign(sb) AS BIGINT) * ((abs(sb) * 1000) div greatest(cb, 1))")
          .as("mb"),
        col("ca"), col("cb"))
      .agg(min(col("ca")).as("n_a"), min(col("cb")).as("n_b"),
        sum(col("ma") * col("mb")).as("dot"),
        sum(col("ma") * col("ma")).as("n2a"),
        sum(col("mb") * col("mb")).as("n2b"),
        sum((col("ma") - col("mb")) * (col("ma") - col("mb")))
          .as("l2sq_diff_milli2"),
        max(abs(col("ma") - col("mb"))).as("max_dim_gap"))
      .select(col("n_a"), col("n_b"),
        expr("CAST(sign(dot) AS BIGINT)").as("dot_sign"),
        expr("""CAST((10000 * CAST(dot AS DECIMAL(38,0)) * dot)
                div greatest(CAST(n2a AS DECIMAL(38,0)) * n2b, 1)
                AS BIGINT)""").as("cos2_bp"),
        col("l2sq_diff_milli2"), col("max_dim_gap"))
  }

  /** Principal-direction projection ([[graft.ops.Pca]]): the corpus
    * Gram matrix aggregates distributed (4096-long bounded collect),
    * three integer power-iteration rounds run driver-side in BigInt,
    * and every vector projects onto the literal converged direction as
    * a scan-stage dot — the anisotropy-axis / whitening primitive for
    * embedding spaces. Oracle replays the identical integer recurrence
    * as CTEs, so pc1 is bit-exact across engines.
    */
  private def qEmbPcaProject(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val dirV = graft.ops.Pca.powerIterate(
      graft.ops.Pca.gram(emb, col("embedding"), EMB_DIM), rounds = 3)
    emb.select(col("vec_id"), col("label"),
        graft.ops.Pca.project(Vectors.quantize(col("embedding")), dirV).as("pc1"))
      .orderBy("vec_id")
  }

  /** Mutual 5-NN graph ([[mutualKnnEdges]]): the reciprocal-neighbor
    * edge set that k-NN-graph clustering and agreement-based semantic
    * dedup consume. Bucket-keyed self-join, WindowGroupLimit top-k,
    * one semi join for reciprocity — engine-exact by integer dot +
    * total rank order.
    */
  private def qEmbMutualKnn(s: SparkSession, dir: String): DataFrame =
    mutualKnnEdges(s, dir)
      .orderBy("vec_a", "vec_b")

  /** Semi-supervised label spreading over the mutual-kNN graph (Zhu &
    * Ghahramani 2002 label propagation, in the data-annotation role:
    * a 10% labeled seed set annotates the rest of the corpus through
    * embedding-neighborhood majority votes). Two rounds; each
    * unlabeled vector adopts the majority label of its CURRENTLY
    * labeled mutual neighbors (count desc, label asc — a total order,
    * so the spread is engine-exact), seeds never change, and vectors
    * with no labeled neighbor stay null. Rides the same memoized
    * mutual-kNN edge set as `emb_mutual_knn` ([[mutualKnnEdges]] —
    * the expensive build is paid once per session, not per consumer;
    * each round is one edge-keyed join + one majority window on the
    * src key).
    */
  private def qEmbLabelSpread(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, dir)
    val mk = mutualKnnEdges(s, dir)
    val edges = mk.select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .unionAll(mk.select(col("vec_b").as("src"), col("vec_a").as("dst")))
      .transform(graft.ops.AnnCache.pin) // 2 rounds re-read it; the kNN build runs once
    val seeds = emb.select(col("vec_id"),
      when(col("vec_id") % 10 === 0, col("label").cast("long")).as("lab"))
    var lab = seeds
    for (_ <- 1 to 2) {
      val nbr = edges
        .join(lab.select(col("vec_id").as("dst"), col("lab").as("nlab")), "dst")
        .where(col("nlab").isNotNull)
        .groupBy(col("src"), col("nlab")).agg(count(lit(1)).as("cnt"))
      val top = nbr.withColumn("rn", row_number().over(
          Window.partitionBy(col("src")).orderBy(col("cnt").desc, col("nlab").asc)))
        .where(col("rn") === 1).select(col("src"), col("nlab"))
      lab = lab.join(top, lab("vec_id") === top("src"), "left")
        .select(col("vec_id"), coalesce(col("lab"), col("nlab")).as("lab"))
    }
    seeds.select(col("vec_id"), col("lab").as("seed_label"))
      .join(lab.withColumnRenamed("lab", "spread_label"), "vec_id")
      .orderBy("vec_id")
  }

  /** Matryoshka adaptive-retrieval serving — prefix-16 shortlist of
    * 30, full-64 re-rank to top-10 ([[graft.ops.Similarity
    * .topKMatryoshka]]): the funnel an MRL-trained embedding runs at
    * scale, where the narrow pass reads 1/4 of the bytes and only 30
    * rows per query pay full-width arithmetic. Same output contract
    * as `sim_topk_bruteforce` (q_vec_id, vec_id, dot, rnk) so the two
    * serving paths are directly comparable — and `emb_matryoshka_audit`
    * does exactly that comparison as a registered certificate.
    */
  private def qSimTopkMrl(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.topKMatryoshka(emb.where(col("vec_id") >= 8),
        emb.where(col("vec_id") < 8), col("embedding"), col("vec_id"),
        k = 10, prefixDim = 16, shortlist = 30)
      .select(col("q_vec_id"), col("vec_id"), col("dot"),
        col("rnk").cast("int").as("rnk"))
      .orderBy("q_vec_id", "rnk")
  }

  /** Matryoshka funnel QUALITY certificate — per query vector, how
    * much of the exact top-10 the prefix-16 funnel retained
    * (overlap@10) and whether the top-1 survived. The audit every
    * adaptive-retrieval deployment publishes before cutting scan
    * width; both sides ride the same integer-dot contract, so the
    * numbers are engine-exact rather than sampled. MRL always emits
    * 10 rows per query (the shortlist is ≥ k), so the left join
    * cannot lose a query.
    */
  private def qEmbMatryoshkaAudit(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val cand = emb.where(col("vec_id") >= 8)
    val qs = emb.where(col("vec_id") < 8)
    val mrl = Similarity.topKMatryoshka(cand, qs, col("embedding"),
      col("vec_id"), k = 10, prefixDim = 16, shortlist = 30)
      .select(col("q_vec_id"), col("vec_id"), col("rnk"))
    val full = Similarity.topKBruteForce(cand, qs, col("embedding"),
      col("vec_id"), k = 10)
      .select(col("q_vec_id"), col("vec_id"), col("rnk").as("frnk"))
    mrl.join(full, Seq("q_vec_id", "vec_id"), "left")
      .groupBy(col("q_vec_id"))
      .agg(sum(when(col("frnk").isNotNull, 1L).otherwise(0L)).as("overlap_10"),
        max(when(col("rnk") === 1 && col("frnk") === 1, 1L).otherwise(0L))
          .as("top1_match"))
      .orderBy("q_vec_id")
  }

  /** Per-dimension variance audit — the feature-selection readout
    * behind dimension pruning / PCA triage (and the sanity check for
    * the Matryoshka funnel: if variance is NOT front-loaded, a prefix
    * shortlist is the wrong funnel). Per dimension the variance in
    * milli² units via the truncated-mean form s2 div n − (s1 div n)²
    * over the milli-quantized components, its share of total variance
    * in bp, and the variance rank. The raw moment n·s2 − s1² grows as
    * n²·10⁶ and clears 2⁶³ near 3M rows; the truncated-mean form is
    * bounded by the quantization DOMAIN (max qv² = 10⁶) at any row
    * count, so it is genuinely SF-independent. Both engines apply the
    * identical truncation, which is all the hash compare needs; the
    * greatest(…, 0) guards the rare case where the two truncations
    * land the difference a hair below zero.
    *
    * Scale shape: scan-stage quantize + posexplode, ONE dim-keyed
    * aggregate (64 output rows), total and rank on the 64-row frame
    * (dimension-sized window, the globalRank-offsets pattern).
    */
  private def qEmbDimVariance(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = Tables.embeddings(s, dir)
      .select(posexplode(Vectors.quantize(col("embedding"))).as(Seq("d", "qv")))
      .groupBy(col("d").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"), sum(col("qv")).as("s1"),
        sum(col("qv") * col("qv")).as("s2"))
      .withColumn("var_milli2",
        expr("greatest(s2 div n - (s1 div n) * (s1 div n), 0)"))
    val tot = per.agg(sum(col("var_milli2")).as("tot_var"))
    per.crossJoin(broadcast(tot))
      .select(col("dim"), col("n"), col("var_milli2"),
        expr("(10000 * var_milli2) div greatest(tot_var, 1)").as("share_bp"))
      .withColumn("var_rank", row_number().over(
        Window.orderBy(col("var_milli2").desc, col("dim"))).cast("long"))
      .orderBy("dim")
  }

  protected def vectorExtQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_dim_variance" -> (qEmbDimVariance _),
    "sim_topk_mrl" -> (qSimTopkMrl _),
    "emb_matryoshka_audit" -> (qEmbMatryoshkaAudit _),
    "emb_centroid_drift" -> (qEmbCentroidDrift _),
    "emb_int8_quant_error" -> (qEmbInt8QuantError _),
    "emb_kmeans" -> (qEmbKmeans _),
    "emb_kmeans2" -> (qEmbKmeans2 _),
    "emb_kmeans_fp" -> (qEmbKmeansFp _),
    "emb_label_spread" -> (qEmbLabelSpread _),
    "emb_mutual_knn" -> (qEmbMutualKnn _),
    "emb_norm_stats" -> (qEmbNormStats _),
    "emb_outliers" -> (qEmbOutliers _),
    "emb_pca_project" -> (qEmbPcaProject _),
    "emb_random_projection" -> (qEmbRandomProjection _),
    "emb_semdedup" -> (qEmbSemdedup _),
    "sim_hybrid_rrf" -> (qSimHybridRrf _),
    "sim_mmr_rerank" -> (qSimMmrRerank _),
    "sim_topk_bruteforce" -> (qSimTopkBrute _),
    "sim_range_search" -> (qSimRangeSearch _),
    "emb_ood_centroid" -> (qEmbOodCentroid _),
    "sim_knn_classify" -> (qSimKnnClassify _),
    "emb_triplet_mining" -> (qEmbTripletMining _),
    "emb_cell_balance" -> (qEmbCellBalance _),
    "sim_topk_filtered" -> (qSimTopkFiltered _),
    "sim_topk_ivf" -> (qSimTopkIvf _),
    "sim_topk_ivf_filtered" -> (qSimTopkIvfFiltered _),
    "sim_topk_ivfpq" -> (qSimTopkIvfPq _),
    "sim_topk_ivfpq_filtered" -> (qSimTopkIvfPqFiltered _),
    "sim_topk_lsh" -> (qSimTopkLsh _),
    "sim_topk_pq" -> (qSimTopkPq _),
    "sim_topk_pq_filtered" -> (qSimTopkPqFiltered _),
  )

  protected def vectorExtOracles: Map[String, String] = Map(
    // the CASTs keep DuckDB's HUGEINT promotion out of the output; the
    // 10^6 pre-scale mirrors the Spark side token for token
    "emb_dim_variance" ->
      s"""WITH q AS (SELECT ${Vectors.quantizeSql("embedding")} AS q FROM embeddings),
         |d AS (SELECT i - 1 AS dim, q[i] AS qv FROM q,
         |        LATERAL (SELECT unnest(generate_series(1, $EMB_DIM)) AS i) t),
         |per AS (SELECT CAST(dim AS BIGINT) AS dim,
         |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(qv) AS BIGINT) AS s1,
         |    CAST(SUM(qv * qv) AS BIGINT) AS s2
         |  FROM d GROUP BY 1),
         |v AS (SELECT dim, n,
         |    CAST(greatest(s2 // n - (s1 // n) * (s1 // n), 0) AS BIGINT)
         |      AS var_milli2
         |  FROM per),
         |t AS (SELECT CAST(SUM(var_milli2) AS BIGINT) AS tot_var FROM v)
         |SELECT dim, n, var_milli2,
         |  (10000 * var_milli2) // greatest(tot_var, 1) AS share_bp,
         |  CAST(row_number() OVER (ORDER BY var_milli2 DESC, dim) AS BIGINT)
         |    AS var_rank
         |FROM v, t ORDER BY dim""".stripMargin,

    "sim_topk_mrl" ->
      s"""WITH ${Similarity.matryoshkaSql(prefixDim = 16, shortlist = 30, dim = EMB_DIM)}
         |SELECT q_vec_id, vec_id, dot, rnk FROM mrl
         |WHERE rnk <= 10 ORDER BY q_vec_id, rnk""".stripMargin,

    "emb_matryoshka_audit" ->
      s"""WITH ${Similarity.matryoshkaSql(prefixDim = 16, shortlist = 30, dim = EMB_DIM)},
         |fscored AS (SELECT s.vec_id AS q_vec_id, c.vec_id,
         |    ${graft.ops.Vectors.intDotSql("c.z", "s.z", EMB_DIM)} AS dot
         |  FROM qv c CROSS JOIN qv s WHERE c.vec_id >= 8 AND s.vec_id < 8),
         |full10 AS (SELECT q_vec_id, vec_id, rnk FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_vec_id
         |      ORDER BY dot DESC, vec_id ASC) AS rnk FROM fscored)
         |  WHERE rnk <= 10)
         |SELECT m.q_vec_id,
         |  CAST(SUM(CASE WHEN f.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS overlap_10,
         |  CAST(MAX(CASE WHEN m.rnk = 1 AND f.rnk = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS top1_match
         |FROM (SELECT * FROM mrl WHERE rnk <= 10) m
         |LEFT JOIN full10 f ON f.q_vec_id = m.q_vec_id AND f.vec_id = m.vec_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "emb_centroid_drift" ->
      s"""WITH q AS (SELECT vec_id % 2 = 0 AS ha,
         |             ${Vectors.quantizeSql("embedding")} AS qz
         |           FROM embeddings),
         |e AS (SELECT ha, i AS dim, qz[i] AS qv
         |      FROM q, LATERAL (SELECT unnest(generate_series(1, $EMB_DIM)) AS i) g),
         |s AS (SELECT dim,
         |        CAST(SUM(CASE WHEN ha THEN qv ELSE 0 END) AS BIGINT) AS sa,
         |        CAST(SUM(CASE WHEN NOT ha THEN qv ELSE 0 END) AS BIGINT) AS sb,
         |        CAST(SUM(CASE WHEN ha THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |        CAST(SUM(CASE WHEN NOT ha THEN 1 ELSE 0 END) AS BIGINT) AS cb
         |      FROM e GROUP BY 1),
         |m AS (SELECT CAST(sign(sa) AS BIGINT)
         |               * ((abs(sa) * 1000) // greatest(ca, 1)) AS ma,
         |             CAST(sign(sb) AS BIGINT)
         |               * ((abs(sb) * 1000) // greatest(cb, 1)) AS mb,
         |             ca, cb FROM s),
         |a AS (SELECT MIN(ca) AS n_a, MIN(cb) AS n_b,
         |             CAST(SUM(ma * mb) AS BIGINT) AS dot,
         |             CAST(SUM(ma * ma) AS BIGINT) AS n2a,
         |             CAST(SUM(mb * mb) AS BIGINT) AS n2b,
         |             CAST(SUM((ma - mb) * (ma - mb)) AS BIGINT)
         |               AS l2sq_diff_milli2,
         |             CAST(MAX(abs(ma - mb)) AS BIGINT) AS max_dim_gap
         |      FROM m)
         |SELECT n_a, n_b, CAST(sign(dot) AS BIGINT) AS dot_sign,
         |       CAST((10000 * CAST(dot AS HUGEINT) * dot)
         |            // greatest(CAST(n2a AS HUGEINT) * n2b, 1) AS BIGINT)
         |         AS cos2_bp,
         |       l2sq_diff_milli2, max_dim_gap
         |FROM a""".stripMargin,

    "emb_int8_quant_error" ->
      s"""WITH q AS (SELECT label, ${Vectors.quantizeSql("embedding")} AS q
         |           FROM embeddings),
         |sc AS (SELECT label, q,
         |         -- COALESCE matches Spark's aggregate(..., 0L, ...) fold,
         |         -- which returns 0 (not NULL) on a zero-length embedding;
         |         -- DuckDB's list_max/list_sum return NULL there (r16 ADVICE)
         |         greatest(COALESCE(
         |           list_max(list_transform(q, x -> abs(x))), 0), 1) AS s
         |       FROM q),
         |e AS (SELECT label, s,
         |        CAST(COALESCE(list_sum(list_transform(q, x -> abs(abs(x) -
         |          (((abs(x) * 254 + s) // (2 * s)) * 2 * s + 127) // 254))), 0)
         |          AS BIGINT) AS e_sum,
         |        CAST(COALESCE(list_max(list_transform(q, x -> abs(abs(x) -
         |          (((abs(x) * 254 + s) // (2 * s)) * 2 * s + 127) // 254))), 0)
         |          AS BIGINT) AS e_max
         |      FROM sc)
         |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |       CAST(SUM(e_sum) AS BIGINT) AS sum_err,
         |       CAST(MAX(e_max) AS BIGINT) AS max_err,
         |       CAST(SUM(s) AS BIGINT) AS sum_scale
         |FROM e GROUP BY 1 ORDER BY label""".stripMargin,

    "emb_kmeans" -> kmeansOracleSql(refits = 1),

    "emb_kmeans2" -> kmeansOracleSql(refits = 2),

    "emb_kmeans_fp" -> kmeansOracleSql(refits = 1, seedsCte = kcenterSeedsCte(4)),

    "emb_label_spread" ->
      s"""WITH ${graft.ops.Similarity.mutualKnnSqlCtes(5, 6, 32, EMB_DIM)},
         |ed AS (SELECT vec_a AS src, vec_b AS dst FROM mk
         |       UNION ALL SELECT vec_b, vec_a FROM mk),
         |l0 AS (SELECT vec_id,
         |         CASE WHEN vec_id % 10 = 0 THEN CAST(label AS BIGINT) END AS lab
         |       FROM embeddings),
         |n1 AS (SELECT ed.src, l0.lab AS nlab, COUNT(*) AS cnt
         |       FROM ed JOIN l0 ON ed.dst = l0.vec_id
         |       WHERE l0.lab IS NOT NULL GROUP BY 1, 2),
         |t1 AS (SELECT src, nlab FROM (
         |         SELECT src, nlab, row_number() OVER (PARTITION BY src
         |           ORDER BY cnt DESC, nlab) AS rn FROM n1) WHERE rn = 1),
         |l1 AS (SELECT l0.vec_id, COALESCE(l0.lab, t1.nlab) AS lab
         |       FROM l0 LEFT JOIN t1 ON l0.vec_id = t1.src),
         |n2 AS (SELECT ed.src, l1.lab AS nlab, COUNT(*) AS cnt
         |       FROM ed JOIN l1 ON ed.dst = l1.vec_id
         |       WHERE l1.lab IS NOT NULL GROUP BY 1, 2),
         |t2 AS (SELECT src, nlab FROM (
         |         SELECT src, nlab, row_number() OVER (PARTITION BY src
         |           ORDER BY cnt DESC, nlab) AS rn FROM n2) WHERE rn = 1),
         |l2 AS (SELECT l1.vec_id, COALESCE(l1.lab, t2.nlab) AS lab
         |       FROM l1 LEFT JOIN t2 ON l1.vec_id = t2.src)
         |SELECT l0.vec_id, l0.lab AS seed_label, l2.lab AS spread_label
         |FROM l0 JOIN l2 ON l0.vec_id = l2.vec_id ORDER BY 1""".stripMargin,

    "emb_mutual_knn" ->
      s"""WITH ${graft.ops.Similarity.mutualKnnSqlCtes(5, 6, 32, EMB_DIM)}
         |SELECT vec_a, vec_b, dot FROM mk ORDER BY 1, 2""".stripMargin,

    "emb_norm_stats" ->
      s"""WITH q AS (SELECT label, ${Vectors.quantizeSql("embedding")} AS q FROM embeddings),
         |n AS (SELECT label, ${Vectors.intNorm2Sql("q", EMB_DIM)} AS n2 FROM q)
         |SELECT label, COUNT(*) AS n_vecs, CAST(SUM(n2) AS BIGINT) AS sum_norm2,
         |       MIN(n2) AS min_norm2, MAX(n2) AS max_norm2
         |FROM n GROUP BY 1 ORDER BY label""".stripMargin,

    "emb_outliers" -> {
      val dim = EMB_DIM
      s"""WITH q AS (SELECT vec_id, ${Vectors.quantizeSql("embedding")} AS q FROM embeddings),
         |seeds AS (SELECT vec_id AS cid, q AS cq,
         |          ${Vectors.intNorm2Sql("q", dim)} AS cn2 FROM q WHERE vec_id < 4),
         |d1 AS (SELECT v.vec_id, v.q, s.cid,
         |       s.cn2 - 2 * ${Vectors.intDotSql("v.q", "s.cq", dim)} AS sc
         |       FROM q v CROSS JOIN seeds s),
         |a1 AS (SELECT vec_id, q, cid AS cl, sc FROM (
         |         SELECT *, row_number() OVER (PARTITION BY vec_id
         |                   ORDER BY sc, cid) AS rn FROM d1) WHERE rn = 1),
         |o AS (SELECT vec_id, cl, ${Vectors.intNorm2Sql("q", dim)} + sc AS d2
         |      FROM a1 ORDER BY d2 DESC, vec_id LIMIT 20)
         |SELECT CAST(row_number() OVER (ORDER BY d2 DESC, vec_id) AS BIGINT) AS rank,
         |       vec_id, cl, d2
         |FROM o ORDER BY rank""".stripMargin
    },

    "emb_pca_project" -> graft.ops.Pca.projectSql(EMB_DIM, rounds = 3),

    "emb_random_projection" ->
      s"""WITH q AS (SELECT vec_id, ${Vectors.quantizeSql("embedding")} AS q FROM embeddings),
         |p AS (SELECT vec_id, ${Vectors.signProjectSql("q", 16, EMB_DIM)} AS p FROM q)
         |SELECT vec_id, p[1] AS p0, p[2] AS p1, p[3] AS p2, p[4] AS p3,
         |       ${Vectors.intNorm2Sql("p", 16)} AS pnorm2
         |FROM p ORDER BY vec_id""".stripMargin,

    "emb_semdedup" -> {
      val dim = EMB_DIM
      s"""WITH RECURSIVE q AS (SELECT vec_id, ${Vectors.quantizeSql("embedding")} AS q FROM embeddings),
         |seeds AS (SELECT vec_id AS cid, q AS cq,
         |          ${Vectors.intNorm2Sql("q", dim)} AS cn2 FROM q
         |          WHERE vec_id < (SELECT greatest(4, count(*) // $SemdedupCellTarget)
         |                          FROM embeddings)),
         |d1 AS (SELECT v.vec_id, v.q, s.cid,
         |       s.cn2 - 2 * ${Vectors.intDotSql("v.q", "s.cq", dim)} AS sc
         |       FROM q v CROSS JOIN seeds s),
         |a1 AS (SELECT vec_id, q, cid AS cl FROM (
         |         SELECT *, row_number() OVER (PARTITION BY vec_id
         |                   ORDER BY sc, cid) AS rn FROM d1) WHERE rn = 1),
         |n AS (SELECT vec_id, cl, q, ${Vectors.intNorm2Sql("q", dim)} AS n2 FROM a1),
         |p AS (SELECT x.vec_id AS doc_a, y.vec_id AS doc_b,
         |       ${Vectors.intDotSql("x.q", "y.q", dim)} AS dot,
         |       x.n2 AS n2a, y.n2 AS n2b
         |      FROM n x JOIN n y ON x.cl = y.cl AND x.vec_id < y.vec_id),
         |pairs AS (SELECT doc_a, doc_b FROM p
         |  WHERE dot > 0 AND 10000 * CAST(dot AS HUGEINT) * dot >= 1600 * CAST(n2a AS HUGEINT) * n2b),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |cc AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id)
         |SELECT a1.vec_id, a1.cl AS cluster,
         |       (cc.comp IS NULL OR cc.comp = a1.vec_id) AS keep
         |FROM a1 LEFT JOIN cc ON a1.vec_id = cc.id
         |ORDER BY vec_id""".stripMargin
    },

    "sim_hybrid_rrf" ->
      s"""WITH lexb AS (SELECT * FROM (
         |${graft.ops.Retrieval.bm25TopKSql(bm25Terms, 20)}) x),
         |lex AS (SELECT doc_id, CAST(row_number() OVER (
         |          ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank FROM lexb),
         |q AS (SELECT vec_id, ${graft.ops.Vectors.quantizeSql("embedding")} AS qz
         |      FROM embeddings),
         |qq AS (SELECT qz AS qqz FROM q WHERE vec_id = 0),
         |sc AS (SELECT c.vec_id AS doc_id,
         |         ${graft.ops.Vectors.intDotSql("c.qz", "qqz", EMB_DIM)} AS dot
         |       FROM q c CROSS JOIN qq WHERE c.vec_id <> 0),
         |dense AS (SELECT doc_id, rnk AS dense_rank FROM (
         |            SELECT doc_id, CAST(row_number() OVER (
         |              ORDER BY dot DESC, doc_id) AS BIGINT) AS rnk FROM sc) r
         |          WHERE rnk <= 20),
         |f AS (SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
         |             COALESCE(l.lex_rank, 0) AS lex_rank,
         |             COALESCE(d.dense_rank, 0) AS dense_rank
         |      FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id),
         |scr AS (SELECT *,
         |          (CASE WHEN lex_rank > 0 THEN 1000000 // (60 + lex_rank) ELSE 0 END)
         |        + (CASE WHEN dense_rank > 0 THEN 1000000 // (60 + dense_rank) ELSE 0 END)
         |          AS rrf_x1e6 FROM f),
         |t AS (SELECT * FROM scr ORDER BY rrf_x1e6 DESC, doc_id LIMIT 10)
         |SELECT CAST(row_number() OVER (ORDER BY rrf_x1e6 DESC, doc_id) AS BIGINT)
         |         AS fused_rank,
         |       doc_id, lex_rank, dense_rank, CAST(rrf_x1e6 AS BIGINT) AS rrf_x1e6
         |FROM t ORDER BY fused_rank""".stripMargin,

    "sim_mmr_rerank" ->
      s"""WITH ${graft.ops.Similarity.mmrRerankSql(0L, 20, 5, EMB_DIM)}
         |SELECT rank, vec_id, dot_q, mmr FROM picks ORDER BY rank""".stripMargin,

    // same seed-assignment CTEs as the kmeans family (argmin ties →
    // lowest cid on both engines); totals fold from the 4-row frame
    "emb_cell_balance" ->
      s"""WITH q AS (SELECT vec_id, ${Vectors.quantizeSql("embedding")} AS q FROM embeddings),
         |seeds AS (SELECT vec_id AS cid, q AS cq,
         |          ${Vectors.intNorm2Sql("q", EMB_DIM)} AS cn2 FROM q WHERE vec_id < 4),
         |d1 AS (SELECT v.vec_id, s.cid,
         |       s.cn2 - 2 * ${Vectors.intDotSql("v.q", "s.cq", EMB_DIM)} AS sc
         |       FROM q v CROSS JOIN seeds s),
         |a1 AS (SELECT vec_id, cid AS cl FROM (
         |         SELECT *, row_number() OVER (PARTITION BY vec_id
         |                   ORDER BY sc, cid) AS rn FROM d1) WHERE rn = 1),
         |per AS (SELECT cl AS cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
         |        FROM a1 GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS total,
         |             CAST(MAX(n_vecs) AS BIGINT) AS max_n FROM per)
         |SELECT cell, n_vecs, (10000 * n_vecs) // total AS share_bp,
         |       (max_n * 400) // total AS imbalance_x100
         |FROM per, t ORDER BY cell""".stripMargin,

    // identical neighbor contract as sim_topk_bruteforce (same scored
    // CTE), then the vote: per (query, neighbor-label) counts, rank 1
    // by (votes DESC, label ASC) — the engine's window mirror
    "sim_knn_classify" ->
      s"""WITH q AS (SELECT vec_id, label, ${Vectors.quantizeSql("embedding")} AS q FROM embeddings),
         |scored AS (SELECT s.vec_id AS q_vec_id, c.vec_id,
         |       ${Vectors.intDotSql("c.q", "s.q", EMB_DIM)} AS dot
         |      FROM q c CROSS JOIN q s WHERE c.vec_id >= 8 AND s.vec_id < 8),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_vec_id
         |       ORDER BY dot DESC, vec_id ASC) AS rnk FROM scored),
         |top AS (SELECT q_vec_id, vec_id FROM r WHERE rnk <= 10),
         |v AS (SELECT t.q_vec_id, CAST(e.label AS BIGINT) AS nbr_label,
         |        CAST(COUNT(*) AS BIGINT) AS votes
         |      FROM top t JOIN q e ON t.vec_id = e.vec_id GROUP BY 1, 2),
         |p AS (SELECT *, row_number() OVER (PARTITION BY q_vec_id
         |       ORDER BY votes DESC, nbr_label ASC) AS pr FROM v)
         |SELECT p.q_vec_id, p.nbr_label AS pred_label, p.votes,
         |       CAST(e.label AS BIGINT) AS true_label,
         |       p.nbr_label = CAST(e.label AS BIGINT) AS correct
         |FROM p JOIN q e ON p.q_vec_id = e.vec_id
         |WHERE p.pr = 1 ORDER BY p.q_vec_id""".stripMargin,

    // argmin/argmax mirrored as rank-1 windows with the same
    // (dot, vec_id) tie-break the engine's struct-min aggregates use
    "emb_triplet_mining" ->
      s"""WITH q AS (SELECT vec_id, label, ${Vectors.quantizeSql("embedding")} AS q FROM embeddings),
         |scored AS (SELECT s.vec_id AS anchor_id,
         |       CAST(s.label AS BIGINT) AS a_label, c.vec_id,
         |       ${Vectors.intDotSql("c.q", "s.q", EMB_DIM)} AS dot,
         |       c.label = s.label AS same
         |      FROM q c CROSS JOIN q s WHERE c.vec_id >= 8 AND s.vec_id < 8),
         |pos AS (SELECT anchor_id, a_label, vec_id AS pos_id, dot AS pos_dot,
         |          row_number() OVER (PARTITION BY anchor_id
         |            ORDER BY dot ASC, vec_id ASC) AS rn
         |        FROM scored WHERE same),
         |neg AS (SELECT anchor_id, vec_id AS neg_id, dot AS neg_dot,
         |          row_number() OVER (PARTITION BY anchor_id
         |            ORDER BY dot DESC, vec_id ASC) AS rn
         |        FROM scored WHERE NOT same)
         |SELECT p.anchor_id, p.a_label, p.pos_id, p.pos_dot,
         |       n.neg_id, n.neg_dot, p.pos_dot - n.neg_dot AS margin
         |FROM pos p JOIN neg n ON p.anchor_id = n.anchor_id
         |WHERE p.rn = 1 AND n.rn = 1 ORDER BY p.anchor_id""".stripMargin,

    "sim_topk_bruteforce" ->
      s"""WITH q AS (SELECT vec_id, ${Vectors.quantizeSql("embedding")} AS q FROM embeddings),
         |scored AS (SELECT s.vec_id AS q_vec_id, c.vec_id,
         |       ${Vectors.intDotSql("c.q", "s.q", EMB_DIM)} AS dot
         |      FROM q c CROSS JOIN q s WHERE c.vec_id >= 8 AND s.vec_id < 8),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_vec_id
         |       ORDER BY dot DESC, vec_id ASC) AS rnk FROM scored)
         |SELECT q_vec_id, vec_id, dot, CAST(rnk AS INT) AS rnk FROM r
         |WHERE rnk <= 10 ORDER BY q_vec_id, rnk""".stripMargin,

    "sim_range_search" ->
      s"""WITH q AS (SELECT vec_id, ${Vectors.quantizeSql("embedding")} AS q FROM embeddings),
         |scored AS (SELECT s.vec_id AS q_vec_id, c.vec_id,
         |       ${Vectors.intDotSql("c.q", "s.q", EMB_DIM)} AS dot
         |      FROM q c CROSS JOIN q s WHERE c.vec_id >= 8 AND s.vec_id < 8)
         |SELECT q_vec_id, vec_id, dot FROM scored WHERE dot >= 150000
         |ORDER BY q_vec_id, dot DESC, vec_id""".stripMargin,

    "emb_ood_centroid" -> {
      val dim = EMB_DIM
      s"""WITH q AS (SELECT vec_id, label, ${Vectors.quantizeSql("embedding")} AS q FROM embeddings),
         |seeds AS (SELECT vec_id AS cid, q AS cq,
         |          ${Vectors.intNorm2Sql("q", dim)} AS cn2 FROM q WHERE vec_id < 4),
         |d1 AS (SELECT v.vec_id, v.label, v.q, s.cid,
         |       s.cn2 - 2 * ${Vectors.intDotSql("v.q", "s.cq", dim)} AS sc
         |       FROM q v CROSS JOIN seeds s),
         |a1 AS (SELECT vec_id, label, q, sc FROM (
         |         SELECT *, row_number() OVER (PARTITION BY vec_id
         |                   ORDER BY sc, cid) AS rn FROM d1) WHERE rn = 1),
         |o AS MATERIALIZED (SELECT vec_id, CAST(label AS BIGINT) AS label,
         |      ${Vectors.intNorm2Sql("q", dim)} + sc AS d2 FROM a1),
         |t AS (SELECT CAST(2 * (CAST(SUM(CAST(d2 AS HUGEINT)) AS HUGEINT)
         |        // COUNT(*)) AS BIGINT) AS thr FROM o)
         |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
         |       CAST(SUM(CASE WHEN d2 > t.thr THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_ood,
         |       (10000 * CAST(SUM(CASE WHEN d2 > t.thr THEN 1 ELSE 0 END)
         |         AS BIGINT)) // COUNT(*) AS ood_share_bp,
         |       CAST(MAX(d2) AS BIGINT) AS max_d2
         |FROM o, t GROUP BY label ORDER BY label""".stripMargin
    },

    "sim_topk_filtered" ->
      s"""WITH q AS (SELECT vec_id, label, ${Vectors.quantizeSql("embedding")} AS q FROM embeddings),
         |scored AS (SELECT s.vec_id AS q_vec_id, c.vec_id,
         |       ${Vectors.intDotSql("c.q", "s.q", EMB_DIM)} AS dot
         |      FROM q c CROSS JOIN q s
         |      WHERE c.vec_id >= 8 AND c.label < 5 AND s.vec_id < 8),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_vec_id
         |       ORDER BY dot DESC, vec_id ASC) AS rnk FROM scored)
         |SELECT q_vec_id, vec_id, dot, CAST(rnk AS INT) AS rnk FROM r
         |WHERE rnk <= 10 ORDER BY q_vec_id, rnk""".stripMargin,

    // the ANN audit contract: every query vector yields exactly
    // least(k=10, candidate availability) results and clears its
    // calibrated recall floor. The neighbor SETS can't be
    // SQL-expressed (iterative k-means training), but this summary is
    // deterministic on the seeded fixture — the engine-side recall_ok
    // is computed against the in-engine exact brute-force top-k, so a
    // broken index (empty cells, collapsed codebook, lost shortlist)
    // fails the hash compare. The expected count derives from the
    // fixture (LEAST over the candidate pool), not a hard-coded 10,
    // so a regenerated fixture with a scarcer pool fails as a recall
    // problem, not a spurious row-count mismatch. Residual
    // assumption, probed-cells-local and NOT SQL-derivable: whenever
    // the GLOBAL pool holds ≥ k candidates, the probed cells retain
    // ≥ k too — true by a wide margin on all measured fixtures
    // (calibration next to the 45/15 recall floors).
    "sim_topk_ivf" ->
      """SELECT vec_id AS q_vec_id,
        |       LEAST(CAST(10 AS BIGINT), (SELECT COUNT(*) FROM embeddings
        |              WHERE vec_id >= 8)) AS n_results,
        |       TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 8 ORDER BY 1""".stripMargin,

    // same audit contract as sim_topk_ivf, with the candidate pool
    // restricted by the engine's metadata predicate (label < 5)
    "sim_topk_ivf_filtered" ->
      """SELECT vec_id AS q_vec_id,
        |       LEAST(CAST(10 AS BIGINT), (SELECT COUNT(*) FROM embeddings
        |              WHERE vec_id >= 8 AND label < 5)) AS n_results,
        |       TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 8 ORDER BY 1""".stripMargin,

    "sim_topk_ivfpq" ->
      """SELECT vec_id AS q_vec_id,
        |       LEAST(CAST(10 AS BIGINT), (SELECT COUNT(*) FROM embeddings
        |              WHERE vec_id >= 8)) AS n_results,
        |       TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 8 ORDER BY 1""".stripMargin,

    "sim_topk_ivfpq_filtered" ->
      """SELECT vec_id AS q_vec_id,
        |       LEAST(CAST(10 AS BIGINT), (SELECT COUNT(*) FROM embeddings
        |              WHERE vec_id >= 8 AND label < 5)) AS n_results,
        |       TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 8 ORDER BY 1""".stripMargin,

    "sim_topk_lsh" ->
      s"""WITH q AS (SELECT vec_id, ${Vectors.quantizeSql("embedding")} AS q FROM embeddings),
         |n AS (SELECT vec_id, q, ${Vectors.signBucketSql("q", 8)} AS bucket FROM q),
         |scored AS (SELECT s.vec_id AS q_vec_id, c.vec_id,
         |       ${Vectors.intDotSql("c.q", "s.q", EMB_DIM)} AS dot
         |      FROM n c JOIN n s ON c.bucket = s.bucket
         |      WHERE c.vec_id >= 8 AND s.vec_id < 8),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_vec_id
         |       ORDER BY dot DESC, vec_id ASC) AS rnk FROM scored)
         |SELECT q_vec_id, vec_id, dot, CAST(rnk AS INT) AS rnk FROM r
         |WHERE rnk <= 5 ORDER BY q_vec_id, rnk""".stripMargin,

    "sim_topk_pq" ->
      """SELECT vec_id AS q_vec_id,
        |       LEAST(CAST(10 AS BIGINT), (SELECT COUNT(*) FROM embeddings
        |              WHERE vec_id >= 8)) AS n_results,
        |       TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 8 ORDER BY 1""".stripMargin,

    "sim_topk_pq_filtered" ->
      """SELECT vec_id AS q_vec_id,
        |       LEAST(CAST(10 AS BIGINT), (SELECT COUNT(*) FROM embeddings
        |              WHERE vec_id >= 8 AND label < 5)) AS n_results,
        |       TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 8 ORDER BY 1""".stripMargin,

  )
}
