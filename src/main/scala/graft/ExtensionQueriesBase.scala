package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.{ApplyChanges, Fixtures, Routing}
import graft.ops.{Dedup, Multimodal, Sessionize, Similarity, Text, Vectors}

/** Shared helpers for the extension-query families: fixture accessors,
  * oracle SQL fragments (single source of truth for both engines),
  * capped edge builders, and the ANN serving rows the specs and Dev
  * tooling read directly. Every member here is used by two or more
  * family traits (or by tests via private[graft]); family-specific
  * builders live in the *ExtensionQueries traits.
  */
private[graft] trait ExtensionQueriesBase {
  protected val EMB_DIM = 64

  protected def validLog(s: SparkSession, dir: String): DataFrame =
    Routing.validateSplit(Fixtures.employeeCdcLog(s, dir)).valid

  /** Memoized MinHash-LSH near-dup pair graph over the `documents`
    * table at `dir` (default parameters). Five registered queries
    * consume this exact frame (`dedup_minhash`, both cluster paths,
    * `split_contamination`, `corpus_dedup_keep_best`); at 100 TB the
    * pair graph is the expensive artifact of the whole dedup family,
    * and recomputing it per downstream consumer is the scale-killer —
    * the production shape is "write the pair table once, every
    * consumer scans it". [[graft.ops.AnnCache]] is the single-JVM
    * analog: first caller pays the shingle→band→verify pipeline
    * (shingles persisted across its two internal consumers), the
    * localCheckpoint pin survives inter-query cache hygiene, and the
    * memo dies with the SparkContext. */
  protected def dedupPairs(s: SparkSession, dir: String): DataFrame =
    graft.ops.AnnCache.memo(s, s"dedup-pairs:$dir") {
      // the verify keep set is a filter of the shared candidate-stats
      // table ([[lshCandidateStats]]) — output identical to the old
      // direct minhashNearDups build (jaccardFromStats scaladoc has
      // the equivalence argument; the oracle gate pins it), but the
      // candidate generation + exact intersection now runs once for
      // the whole calibration family instead of once per member
      graft.ops.AnnCache.scaledRead(graft.ops.AnnCache.pin(
        Dedup.jaccardFromStats(lshCandidateStats(s, dir), num = 1, den = 2)))
    }

  /** Memoized LSH candidate-pair Jaccard statistics
    * ([[graft.ops.Dedup.pairJaccardStats]] over the family's default
    * 8×4 banding and the shared 3-shingle table): every capped band
    * collision with its exact intersection size (NULL = zero overlap)
    * and both set sizes. The calibration family's shared expensive
    * artifact — [[dedupPairs]] (the verify keep set) is a filter of
    * it, `dedup_minhash_estimate` joins signatures onto it, and
    * `dedup_jaccard_histogram` folds it; at 100 TB the production
    * shape is "write the candidate-stats table once, every readout
    * scans it", and recomputing the banded self-join + intersection
    * per consumer is the scale-killer (same rationale as the shingle
    * memo one level below). */
  protected def lshCandidateStats(s: SparkSession, dir: String): DataFrame =
    graft.ops.AnnCache.memo(s, s"lsh-cand-stats:$dir") {
      val sh = docShingles(s, dir)
      graft.ops.AnnCache.scaledRead(graft.ops.AnnCache.pin(
        Dedup.pairJaccardStats(
          Dedup.lshCandidates(Dedup.minhashBandKeys(sh, 8, 4)), sh)))
    }

  /** Memoized exact PPJoin truth pair set over the family's default
    * threshold (J ≥ 1/2 on the shared 3-shingle sets, with
    * inter/union_sz) — [[graft.ops.Dedup.prefixFilterPairs]] on the
    * memoized shingle + ranked scaffolds. Two registered queries
    * consume this exact frame: `dedup_prefix_filter` (the declared
    * exact channel) and `dedup_lsh_recall` (the coverage certificate,
    * which measures the LSH channel AGAINST it). The truth table is
    * the exact-channel analog of [[dedupPairs]]: the expensive
    * artifact is computed once and every audit reads it — recomputing
    * the full PPJoin candidate join + verify per consumer is the
    * scale-killer at 100 TB. */
  protected def prefixTruthPairs(s: SparkSession, dir: String): DataFrame =
    graft.ops.AnnCache.memo(s, s"prefix-pairs:$dir") {
      graft.ops.AnnCache.scaledRead(graft.ops.AnnCache.pin(
        Dedup.prefixFilterPairs(Tables.documents(s, dir), col("text"), col("doc_id"),
          shingles = Some(docShingles(s, dir)),
          rankedShingles = Some(docShinglesRanked(s, dir)))))
    }

  /** Memoized distinct 3-shingle table over the documents at `dir` —
    * the shared RAW artifact one level below [[dedupPairs]]: the
    * MinHash pair graph, the PPJoin prefix filter, and the containment
    * channel all start from the identical (doc_id, shingle) set, and
    * tokenize+explode+distinct over the corpus is the part that scales
    * with the DATA (everything after it scales with candidates). The
    * production shape at 100 TB is "write the shingle table once,
    * bucketed by shingle; every dedup channel scans it" —
    * [[graft.ops.AnnCache]]'s pin is the single-JVM analog, and unlike
    * the old per-operator `persist`, it survives the inter-query
    * `clearCache` hygiene Verify/Bench run. */
  protected def docShingles(s: SparkSession, dir: String): DataFrame =
    graft.ops.AnnCache.memo(s, s"shingles3:$dir") {
      // NO repartition under the pin (r21 adjudication): pin =
      // localCheckpoint, whose LogicalRDD reports UnknownPartitioning
      // (the Graph.pinEdgesByKey probe), so a doc-keyed fanout here is
      // invisible to EnsureRequirements — every consumer re-exchanges
      // anyway and the fanout only fragments the sub-MB fixture frame
      // (r20 shipped a 32-way pinned one; the driver's full 32-core
      // bench measured the family 0.16-0.87× with a 70 exec-s / 2.7 s
      // GC blow-up on dedup_containment_prefix, reverted here). At
      // real scale the checkpoint inherits the parquet scan's file
      // layout, which is already data-proportional.
      graft.ops.AnnCache.pin(
        Text.distinctShingles(Tables.documents(s, dir), col("text"), col("doc_id"), 3))
    }

  /** Memoized rarest-first ranking scaffold over [[docShingles]]
    * ([[graft.ops.Dedup.rankShingles]]) — threshold-independent, so
    * the Jaccard prefix filter and the containment prefix channel
    * both read ONE pinned (doc_id, shingle, f, rn, n) table instead
    * of each paying the freq group-by + join + doc-keyed window
    * pass. */
  protected def docShinglesRanked(s: SparkSession, dir: String): DataFrame =
    graft.ops.AnnCache.memo(s, s"shingles3-ranked:$dir") {
      // no fanout under the pin — same r21 adjudication as
      // [[docShingles]]: localCheckpoint erases the partitioning from
      // the plan's point of view, so the r20 re-fan bought no
      // downstream exchange and only multiplied per-task overhead.
      graft.ops.AnnCache.pin(Dedup.rankShingles(docShingles(s, dir)))
    }

  /** Memoized connected-component labels over [[dedupPairs]]
    * (label-propagation fixpoint). Shared by `dedup_clusters` and
    * `corpus_dedup_keep_best` — the keep-best ending is a per-cluster
    * argmax on top of the SAME labeling, so deriving the labels twice
    * would re-run the iterative fixpoint for an identical answer.
    * (`dedup_clusters_star` keeps its own memo below: its point is
    * exercising the structurally different star-contraction fixpoint
    * against the same oracle.) No pin of its own: the labels are a
    * projection of the label loop's last eager checkpoint. */
  protected def dedupComponents(s: SparkSession, dir: String): DataFrame =
    graft.ops.AnnCache.memo(s, s"dedup-comp:$dir") {
      graft.ops.AnnCache.scaledRead(graft.ops.Components.connectedComponents(
        dedupPairs(s, dir).select("doc_a", "doc_b")))
    }

  /** [[dedupComponents]]'s Large-Star/Small-Star twin — the same
    * cluster artifact through the O(log² n) fixpoint, memoized under
    * its own key so the build (the honest star cost) runs once per
    * session and every re-read is an index scan, exactly like the
    * label-prop labels and the ANN indexes. The star fixpoint's output
    * is already an eager checkpoint, so it is not pinned again. */
  protected def dedupComponentsStar(s: SparkSession, dir: String): DataFrame =
    graft.ops.AnnCache.memo(s, s"dedup-comp-star:$dir") {
      graft.ops.AnnCache.scaledRead(graft.ops.Components.connectedComponentsStar(
        dedupPairs(s, dir).select("doc_a", "doc_b")))
    }

  /** Count-Min sketch frequency certificates over the exact top-20 —
    * the mergeable point-count sketch completing the family (HLL
    * distinct, GK quantiles, KMV set ops). The sketch is bounded
    * metadata (width × depth counters); estimates for the top-20 keys
    * read driver-side from the collected sketch exactly like PQ's
    * codebook, while the exact audit is a plain aggregate. No
    * portable SQL computes CMS, so the registered output is the
    * CERTIFICATE form: (user_id, n_exact, ok) where `ok` = est ∈
    * [exact, exact + ⌈ε·N⌉] — the CMS overestimate guarantee — as
    * BIGINT; the oracle emits the exact top-20 plus literal 1, so a
    * sketch regression flips `ok` and fails the driver's hash gate.
    * SketchSpec asserts ok across fixtures. */
  /** The exact top-20 user event counts — single source of truth for
    * the CMS audit ([[qEventsCmsCounts]] collects it to probe the
    * sketch) AND the oracle-pinned `events_cms_exact` query, so a
    * fixture drift that moved the top-20 would fail the DuckDB gate
    * rather than silently re-baselining the sketch's bound check. */
  protected def cmsExactTop(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id")).limit(20)

  /** Corpus-scaled LSH width for the embedding near-dup channel: the
    * smallest b ∈ [8, 24] with 2^b · 8 ≥ n, i.e. mean sign-bucket
    * occupancy pins at ≤ 8 vectors — the same lesson as
    * [[SemdedupCellTarget]]: a FIXED bucket count means bucket size
    * grows ∝ n and the within-bucket pair join grows ∝ n² (the r15
    * sf1 probe caught exactly that shape on the k-means channel).
    * Because [[graft.ops.Vectors.hyperplanes]] draws planes
    * sequentially from a fixed seed, the b-bit bucket is EXACTLY the
    * 24-bit bucket mod 2^b (prefix property, pinned in VectorsSpec),
    * so the DuckDB oracle computes the full 24-bit bucket and masks
    * with the same smallest-power-of-two scalar — engine-identical at
    * any corpus size. At every driver fixture (n ≤ 2000) this is 8,
    * the r14 constant, so gated outputs are byte-identical. */
  protected def embeddingLshBits(n: Long): Int =
    Vectors.scaledLshBits(n, minBits = 8, occupancy = 8)

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic dedup with
    * k-means cells as the blocking structure — embeddings assign to
    * their nearest seed centroid ([[graft.ops.SemanticCluster
    * .seedAssignments]], the oracle-mirrored round-0 labeling), pairs
    * are scored ONLY within a cell (cos ≥ 0.4, the same fused `q_dot`
    * + DECIMAL(38) cross-multiplication as dedup_embedding_cos), and
    * each duplicate group keeps its min-id representative via the
    * connected-components machinery. vs the hyperplane-LSH channel:
    * k-means cells are the SemDeDup paper's trade — k scales with the
    * corpus so cells stay bounded and the within-cell quadratic never
    * exceeds |cell|², while LSH buckets need no training. Emits every
    * vector with its cell and keep verdict.
    *
    * k = max(4, n div [[SemdedupCellTarget]]) — corpus-SCALED, and
    * that scaling is load-bearing: the r15 sf1 probe measured the
    * fixed-k=4 form at wall exponent 1.75 (4.1 s → 229 s for 10×
    * data) because mean cell size grew with n and the within-cell
    * pair join is |cell|²; with k ∝ n the mean cell pins at the
    * target and the pair work scales linearly. The one driver-side
    * count() is bounded model metadata (it sizes the seed literal
    * set the assignment expression inlines anyway). Both engines
    * compute k from the same count, and at every driver fixture
    * (n ≤ 2000) k = 4 — the formula extends the query to big
    * corpora without moving a byte of the gated output.
    */
  protected val SemdedupCellTarget = 500L

  /** Fixed weight vector for [[qTextClassifierScore]] — stands in for
    * an offline-trained model; single source of truth for BOTH the
    * Spark literal and the SQL mirror so the inference contract (not
    * the training) is what the gate pins. Knuth-hash spread, centered
    * so scores land on both sides of the keep threshold. */
  protected val clfWeights: Seq[Long] =
    (0 until 64).map(b => ((b * 2654435761L) % 1009L) - 504L)

  /** Full 5-column moment form of [[qEventsAssortativity]] — m plus
    * the exact DECIMAL(38,0) moment combinations and the bp ratio.
    * Spec-gated (FrontierAnalyticsSpec) rather than driver-gated
    * because DECIMAL(38,0) and DuckDB HUGEINT hash differently under
    * the driver's typed compare even at equal values. */
  private[graft] def assortativityMoments(s: SparkSession, dir: String): DataFrame = {
    val e = coPresenceEdges(s, dir)
    val sym = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("d"))
    sym
      .join(deg.select(col("a"), col("d").as("dx")), "a")
      .join(deg.select(col("a").as("b"), col("d").as("dy")), "b")
      .agg(count(lit(1)).as("m"),
        sum(col("dx").cast("decimal(38,0)")).as("sx"),
        sum(col("dy").cast("decimal(38,0)")).as("sy"),
        sum(col("dx").cast("decimal(38,0)") * col("dx")).as("sxx"),
        sum(col("dy").cast("decimal(38,0)") * col("dy")).as("syy"),
        sum(col("dx").cast("decimal(38,0)") * col("dy")).as("sxy"))
      .select(col("m"),
        expr("CAST(m AS DECIMAL(38,0)) * sxy - sx * sy")
          .cast("decimal(38,0)").as("num"),
        expr("CAST(m AS DECIMAL(38,0)) * sxx - sx * sx")
          .cast("decimal(38,0)").as("den_x"),
        expr("CAST(m AS DECIMAL(38,0)) * syy - sy * sy")
          .cast("decimal(38,0)").as("den_y"))
      .withColumn("r_bp_signed",
        expr(graft.ops.Graph.assortativityRbpSql("div")))
  }

  /** Per-language deterministic down/up-weighting — the data-mixture
    * primitive (e.g. downsample English, keep all French). Strata
    * absent from the rate map (here: zh) are dropped entirely. */
  protected val strataRates = Map("de" -> 5000, "en" -> 2500, "es" -> 5000, "fr" -> 10000)

  /** Lexicon sentiment scoring (the EDBT'16 Spark-sentiment shape):
    * token-in-set counts per document against positive/negative word
    * lists, rates in basis points. Integer division is kept on
    * NONNEGATIVE numerators only (Spark's `div` truncates toward zero
    * while DuckDB's `//` floors — they diverge on negatives); the
    * signed net score is the difference of the two truncated rates,
    * identical on both engines. Pure codegen'd per-row expressions —
    * fuses into the scan, zero shuffles, lexicon swaps are constants.
    */
  protected val posLex = Seq("fast", "big", "win", "good")

  protected val negLex = Seq("slow", "small", "dup", "bad")

  /** Shared self-check for the rows-only ANN queries: join the result
    * against the exact brute-force top-k and emit `in_brute` plus
    * per-query `recall_x100`. One implementation so the recall
    * denominator always tracks `k` — three hand-copies would let a
    * changed k silently misreport recall to the driver's gate. */
  protected def withRecallCheck(got: DataFrame, corpus: DataFrame,
                              qs: DataFrame, k: Int): DataFrame = {
    val brute = Similarity.topKBruteForce(corpus, qs,
        col("embedding"), col("vec_id"), k)
      .select(col("q_vec_id").as("b_q"), col("vec_id").as("b_v"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("q_vec_id"))
    got.join(broadcast(brute),
        col("q_vec_id") === col("b_q") && col("vec_id") === col("b_v"), "left")
      .withColumn("in_brute", col("b_v").isNotNull)
      .withColumn("recall_x100",
        (lit(100) * sum(when(col("in_brute"), 1L).otherwise(0L)).over(w) / lit(k))
          .cast("long"))
      .select(col("q_vec_id"), col("vec_id"), col("rnk"),
        col("in_brute"), col("recall_x100"))
      .orderBy("q_vec_id", "rnk")
  }

  /** Collapse a row-level ANN result (from [[withRecallCheck]]) to the
    * ORACLE-CHECKABLE audit: one row per query — result count plus a
    * recall_ok flag at a threshold calibrated far below the fixture's
    * measured floor. Exact neighbor sets aren't SQL-expressible
    * (iterative k-means training), but "every query returned exactly k
    * rows and recall cleared the floor" IS deterministic on the seeded
    * fixture — so the driver's DuckDB gate can hash-pin it instead of
    * recording a rows-only non-check. The row-level frames stay
    * exposed ([[simTopkIvfRows]] etc.) for the tighter mean-recall
    * envelopes in ExtensionOpsSpec. */
  protected def annAudit(rows: DataFrame, minRecallX100: Int): DataFrame =
    // recall_x100 is CONSTANT within a q_vec_id group today (the
    // full-partition window in withRecallCheck), so any per-group
    // aggregate reads the same value; min() is chosen so that if the
    // semantics ever shift to per-rank/cumulative recall, the gate
    // fails CLOSED (strictest row decides) instead of max() silently
    // passing on the best row.
    rows.groupBy(col("q_vec_id"))
      .agg(count(lit(1)).cast("long").as("n_results"),
        min(col("recall_x100")).as("__r"))
      .select(col("q_vec_id"), col("n_results"),
        (col("__r") >= minRecallX100).as("recall_ok"))
      .orderBy("q_vec_id")

  /** IVF ANN (k-means cells, 2-probe). Exact neighbor rows aren't
    * SQL-expressible — the registered query emits the [[annAudit]]
    * summary (count-exact + recall-floor per query, DuckDB-pinned);
    * row-level `in_brute`/`recall_x100` audit data stays available via
    * [[simTopkIvfRows]] and is envelope-gated in ExtensionOpsSpec.
    *
    * Cell/probe choice is fixture-honest: these synthetic embeddings
    * are near-uniform random, so recall@10 ≈ probed corpus fraction
    * (measured: k=8 cells, nProbe∈{2,4,6} → 0.39/0.75/0.90 at sf0.01
    * and 0.58/0.75/0.90 at sf0.1). 8 cells × 6 probes ⇒ recall 0.90
    * here; real embedding corpora cluster, which is what buys IVF its
    * low probe fractions at scale.
    */
  private[graft] def simTopkIvfRows(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.where(col("vec_id") >= 8)
    val qs = emb.where(col("vec_id") < 8)
    val index = graft.ops.AnnCache.memo(s, s"ivf:$dir:k8") {
      val i = graft.ops.Ivf.build(corpus, col("embedding"), col("vec_id"), k = 8)
      i.copy(assigned = graft.ops.AnnCache.pin(i.assigned))
    }
    val ivf = graft.ops.Ivf.topK(index, qs,
      col("embedding"), col("vec_id"), k = 10, nProbe = 6)
    withRecallCheck(ivf, corpus, qs, k = 10)
  }

  /** PQ ANN (product quantization + ADC, [[graft.ops.Pq]]).
    * [[annAudit]]-gated like IVF (iterative training isn't
    * SQL-expressible); the row-level frame self-reports `in_brute` and
    * per-query `recall_x100` vs the exact brute-force top-k and stays
    * exposed via [[simTopkPqRows]]. The corpus compresses 64 floats → 8
    * codes; ADC scores are 8 table lookups per pair inside codegen,
    * shortlisting 50 candidates per query that then re-rank EXACTLY
    * against their original vectors (the production PQ deployment
    * shape — raw ADC order on near-uniform random fixtures is
    * structurally lossy; the shortlist + exact re-rank is what makes
    * compressed codes usable, and the recall envelope in
    * ExtensionOpsSpec is calibrated to the fixture). */
  private[graft] def simTopkPqRows(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.where(col("vec_id") >= 8)
    val qs = emb.where(col("vec_id") < 8)
    val index = graft.ops.AnnCache.memo(s, s"pq:$dir:m8k16") {
      val i = graft.ops.Pq.build(corpus, col("embedding"), col("vec_id"),
        dim = EMB_DIM, m = 8, k = 16)
      i.copy(codes = graft.ops.AnnCache.pin(i.codes),
        cents = graft.ops.AnnCache.pin(i.cents))
    }
    val pq = graft.ops.Pq.topKReranked(index, corpus, qs,
      col("embedding"), col("vec_id"), k = 10, shortlist = 50)
    withRecallCheck(pq, corpus, qs, k = 10)
  }

  /** Filtered search on the INDEXED path: the same IVF probe but with
    * `label < 5` evaluated as a scan-stage predicate on the index rows
    * themselves — the label rides INSIDE the index (build metaCols),
    * so no join back to the source table; filtered search costs LESS
    * than unfiltered, never more. Recall audits against the filtered
    * brute force. The separate AnnCache key builds the labeled index
    * once. */
  private[graft] def simTopkIvfFilteredRows(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.where(col("vec_id") >= 8)
    val qs = emb.where(col("vec_id") < 8)
    val index = graft.ops.AnnCache.memo(s, s"ivf-meta:$dir:k8") {
      val i = graft.ops.Ivf.build(corpus, col("embedding"), col("vec_id"),
        k = 8, metaCols = Seq("label" -> col("label")))
      i.copy(assigned = graft.ops.AnnCache.pin(i.assigned))
    }
    val got = graft.ops.Ivf.topK(index, qs, col("embedding"), col("vec_id"),
      k = 10, nProbe = 6, candFilter = col("label") < 5)
    withRecallCheck(got, corpus.where(col("label") < 5), qs, k = 10)
  }

  /** Filtered search on the FULL IVF-PQ construction: the label rides
    * in `cellOf` (build metaCols) and the predicate prunes candidates
    * before any ADC scoring; the shortlist and exact re-rank inherit
    * the filter by construction. Audits recall vs the filtered brute
    * force under the same oracle-pinned contract. */
  private[graft] def simTopkIvfPqFilteredRows(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.where(col("vec_id") >= 8)
    val qs = emb.where(col("vec_id") < 8)
    val index = graft.ops.AnnCache.memo(s, s"ivfpq-meta:$dir:c8m8k16") {
      val i = graft.ops.IvfPq.build(corpus, col("embedding"), col("vec_id"),
        dim = EMB_DIM, cells = 8, m = 8, k = 16,
        metaCols = Seq("label" -> col("label")))
      i.copy(pq = i.pq.copy(codes = graft.ops.AnnCache.pin(i.pq.codes),
          cents = graft.ops.AnnCache.pin(i.pq.cents)),
        cellOf = graft.ops.AnnCache.pin(i.cellOf),
        cents = graft.ops.AnnCache.pin(i.cents))
    }
    val got = graft.ops.IvfPq.topK(index, corpus, qs,
      col("embedding"), col("vec_id"), k = 10, nProbe = 6, shortlist = 50,
      candFilter = col("label") < 5)
    withRecallCheck(got, corpus.where(col("label") < 5), qs, k = 10)
  }

  /** Filtered search on the plain-PQ path — completing the filtered
    * family (brute force, IVF, IVF-PQ, PQ): the label rides the coded
    * table (build metaCols), pruning candidates before any ADC lookup;
    * shortlist + exact re-rank inherit the filter by construction. */
  private[graft] def simTopkPqFilteredRows(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.where(col("vec_id") >= 8)
    val qs = emb.where(col("vec_id") < 8)
    val index = graft.ops.AnnCache.memo(s, s"pq-meta:$dir:m8k16") {
      val i = graft.ops.Pq.build(corpus, col("embedding"), col("vec_id"),
        dim = EMB_DIM, m = 8, k = 16, metaCols = Seq("label" -> col("label")))
      i.copy(codes = graft.ops.AnnCache.pin(i.codes),
        cents = graft.ops.AnnCache.pin(i.cents))
    }
    val got = graft.ops.Pq.topKReranked(index, corpus, qs,
      col("embedding"), col("vec_id"), k = 10, shortlist = 50,
      candFilter = col("label") < 5)
    withRecallCheck(got, corpus.where(col("label") < 5), qs, k = 10)
  }

  /** IVF-PQ ANN ([[graft.ops.IvfPq]]): coarse cells prune the search,
    * PQ residual codes score the survivors, exact q_dot re-ranks the
    * shortlist — the full billion-vector construction. [[annAudit]]
    * gate with the same in_brute/recall_x100 row-level self-check as
    * IVF and PQ, exposed via [[simTopkIvfPqRows]]. */
  private[graft] def simTopkIvfPqRows(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.where(col("vec_id") >= 8)
    val qs = emb.where(col("vec_id") < 8)
    val index = graft.ops.AnnCache.memo(s, s"ivfpq:$dir:c8m8k16") {
      val i = graft.ops.IvfPq.build(corpus, col("embedding"), col("vec_id"),
        dim = EMB_DIM, cells = 8, m = 8, k = 16)
      i.copy(pq = i.pq.copy(codes = graft.ops.AnnCache.pin(i.pq.codes),
          cents = graft.ops.AnnCache.pin(i.pq.cents)),
        cellOf = graft.ops.AnnCache.pin(i.cellOf),
        cents = graft.ops.AnnCache.pin(i.cents))
    }
    val got = graft.ops.IvfPq.topK(index, corpus, qs,
      col("embedding"), col("vec_id"), k = 10, nProbe = 6, shortlist = 50)
    withRecallCheck(got, corpus, qs, k = 10)
  }

  /** Chunk granularity ([[graft.ops.Dedup.ChunkTokens]]) — aliased for
    * the SQL mirror. */
  protected val ChunkTokens = Dedup.ChunkTokens

  /** Literal query for [[qTextBm25Topk]] — one rare term (df ≈ 5%)
    * against two common ones, so the idf weighting is what the gate
    * actually exercises. */
  protected val bm25Terms = Seq("dup", "spark", "hash")

  /** Shared co-presence edge builder for the graph-mining family:
    * users sharing ≥ 4 capped (event_type, hour) cells. Blocking runs
    * through cells with the same deterministic hash-rank cap (50
    * users/cell) every dedup blocker uses, so a viral cell can never
    * go quadratic. The ≥ 4 support threshold is the edge analog of
    * every blocker's candidate-verify step: at ≥ 2 the fixture's
    * co-presence graph is near-complete (384k edges over 1.5k users
    * at sf0.1, avg degree 512 — measured) and downstream wedge volume
    * explodes on co-presence NOISE; ≥ 4 keeps real affinity (39k
    * edges, 44k triangles) at 1/60th the work.
    *
    * Memoized (AnnCache pattern, like the dedup pair graph): the
    * triangle census and the k-core both consume the identical edge
    * set, and at 100 TB the pair generation is the expensive artifact
    * — each family member reads the pinned build instead of re-paying
    * the cells self-join (~9 core-seconds per consumer at sf0.1). */
  protected def coPresenceEdges(s: SparkSession, dir: String): DataFrame =
    graft.ops.AnnCache.memo(s, s"copresence:$dir") {
      // scaledRead: the pin keeps its build's 16-partition layout and
      // every graph consumer's map stages inherit it — at fixture
      // scale that was ~250 ms of fixed task cost per partition per
      // exchange (events_assortativity: 8.0 of 8.1 exec-s; kcore,
      // components, triangles same shape). Data-proportional width,
      // so a corpus-sized edge set still fans out.
      graft.ops.AnnCache.scaledRead(
        graft.ops.AnnCache.pin(coPresenceEdgesBuild(s, dir)))
    }

  /** Capped co-presence cells — the SHARED artifact every graph-edge
    * build reads (static ns ≥ 4 edges, timestamped temporal edges,
    * strength-weighted edges): one events scan + one per-cell
    * hash-rank cap, memoized per session so the three reach queries
    * don't re-scan and re-cap the same frame. `t` rides along for the
    * temporal build; the static builds ignore it (the distinct set is
    * unchanged — t is functionally dependent on the cell). */
  protected def cappedCells(s: SparkSession, dir: String): DataFrame =
    graft.ops.AnnCache.memo(s, s"cappedcells:$dir") {
      graft.ops.AnnCache.scaledRead(graft.ops.AnnCache.pin {
        val cells = Tables.events(s, dir)
          .select(col("user_id"),
            concat(col("event_type"), lit("|"),
              date_trunc("hour", col("ts")).cast("string")).as("cell"),
            date_trunc("hour", col("ts")).as("t"))
          .distinct()
        graft.ops.Sampling
          .capPerGroup(cells, col("cell"), col("user_id"), cap = 50)
          .select(col("cell"), col("user_id"), col("t"))
      })
    }

  /** TIMESTAMPED co-presence edges — the temporal sibling of
    * [[coPresenceEdges]]: one edge per (pair, hour-cell) occurrence
    * instead of the ns ≥ 4 aggregate, keeping WHEN each contact
    * happened (the input [[graft.ops.Graph.temporalReach]] needs).
    * Same per-cell hash-rank cap bounds every cell at cap² pairs. */
  protected def temporalEdges(s: SparkSession, dir: String): DataFrame =
    graft.ops.AnnCache.memo(s, s"temporaledges:$dir") {
      graft.ops.AnnCache.scaledRead(graft.ops.AnnCache.pin {
        val capped = cappedCells(s, dir)
        capped.select(col("cell"), col("user_id").as("a"), col("t"))
          .join(capped.select(col("cell"), col("user_id").as("b")), "cell")
          .where(col("a") < col("b"))
          .select(col("a"), col("b"), col("t")).distinct()
      })
    }

  protected def coPresenceEdgesBuild(s: SparkSession, dir: String): DataFrame = {
    val capped = cappedCells(s, dir).select(col("cell"), col("user_id"))
    capped.select(col("cell"), col("user_id").as("a"))
      .join(capped.select(col("cell"), col("user_id").as("b")), "cell")
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("ns"))
      .where(col("ns") >= 4)
      .select(col("a"), col("b"))
  }

  /** Literal merge table for [[qTextBpeEncode]] — 8 rules in priority
    * order, with hierarchical composition ((sc,an) consumes (s,c) and
    * (a,n) output; (tabl,e) completes a whole-word merge chain). Single
    * source of truth for the Spark expression and the SQL mirror. */
  protected val bpeMerges = Seq(
    "s" -> "c", "a" -> "n", "t" -> "a", "b" -> "l",
    "e" -> "r", "sc" -> "an", "ta" -> "bl", "tabl" -> "e")

  /** Memoized mutual 5-NN edge set over the embeddings at `dir`
    * ([[graft.ops.Similarity.mutualKnn]], bits = 6 so buckets hold
    * enough peers for a meaningful top-5). Shared by `emb_mutual_knn`
    * and `emb_label_spread` — the bucket self-join + top-k +
    * reciprocity check is the expensive artifact of the kNN-graph
    * family, and the [[graft.ops.AnnCache]] memo (keyed on dir and the
    * hyperparameters, same discipline as [[dedupPairs]]) makes the
    * build run once per session with every later consumer reading the
    * pinned frame. */
  protected def mutualKnnEdges(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    // corpus-scaled width (occupancy ≤ 32 peers — comfortably above
    // the top-5 ask, so recall is bucket-bounded, not corpus-bounded);
    // bits = 6 at every driver fixture, the r14 constant
    val bits = Vectors.scaledLshBits(emb.count(), minBits = 6, occupancy = 32)
    graft.ops.AnnCache.memo(s, s"mutual-knn:$dir:k=5:bits=$bits") {
      graft.ops.AnnCache.scaledRead(graft.ops.AnnCache.pin(
        graft.ops.Similarity.mutualKnn(emb,
          col("embedding"), col("vec_id"), k = 5, bits = bits)))
    }
  }

  /** Benford first-digit distribution scaled to the leading digit
    * of each ×10⁶ expected share so both engines carry identical
    * literals. */
  protected val benfordX1m: Map[Int, Long] = Map(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  protected val L = Fixtures.cdcLogSql

  protected val TK = graft.ops.Text.tokensSql()

  /** Shared DuckDB CTEs for the co-presence edge builder — one source
    * of truth for every graph-mining oracle, mirroring
    * [[coPresenceEdges]] the same way TK mirrors Text.tokens. All
    * MATERIALIZED: the consumers reference `ed` multiple times. */
  protected val coPresenceSql: String =
    s"""cells AS MATERIALIZED (SELECT DISTINCT user_id,
       |    event_type || '|' || CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS VARCHAR) AS cell
       |  FROM events),
       |cap AS MATERIALIZED (SELECT cell, user_id FROM (
       |    SELECT cell, user_id, row_number() OVER (PARTITION BY cell
       |      ORDER BY ${graft.ops.Sampling.capOrderSql("user_id")}) AS rk FROM cells)
       |  WHERE rk <= 50),
       |ed AS MATERIALIZED (SELECT x.user_id AS a, y.user_id AS b
       |       FROM cap x JOIN cap y ON x.cell = y.cell AND x.user_id < y.user_id
       |       GROUP BY 1, 2 HAVING COUNT(*) >= 4)""".stripMargin

  protected val VALID_WHERE =
    """WHERE NOT (COALESCE(TRY_CAST(substr(emp_dob, 1, 4) AS INT), 0) <= 2007
      |             OR emp_salary <= 100 OR emp_id < 0)""".stripMargin

  protected val SHINGLE3 =
    s"""t AS (SELECT doc_id, $TK AS tk FROM documents),
       |sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
       |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(tk)-2)) AS i) g
       |       WHERE len(tk) >= 3),
       |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id)""".stripMargin

  protected def jaccardTail(num: Int, den: Int): String =
    s"""inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b, i.inter, ca.n_sh + cb.n_sh - i.inter AS union_sz
       |FROM inter i
       |JOIN cnt ca ON ca.doc_id = i.doc_a
       |JOIN cnt cb ON cb.doc_id = i.doc_b
       |WHERE $den * i.inter >= $num * (ca.n_sh + cb.n_sh - i.inter)
       |ORDER BY doc_a, doc_b""".stripMargin

  protected def containmentTail(num: Int, den: Int): String =
    s"""inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b, i.inter, least(ca.n_sh, cb.n_sh) AS min_sz
       |FROM inter i
       |JOIN cnt ca ON ca.doc_id = i.doc_a
       |JOIN cnt cb ON cb.doc_id = i.doc_b
       |WHERE $den * i.inter >= $num * least(ca.n_sh, cb.n_sh)
       |ORDER BY doc_a, doc_b""".stripMargin

  protected val stopList = Text.stopwords.map(s => s"'$s'").mkString(", ")

  protected val langScoreSql = Text.langMarkers.map { case (lang, ms) =>
    val list = ms.map(m => s"'$m'").mkString(", ")
    s"CAST(len(list_filter(tk, t -> t IN ($list))) AS BIGINT) AS s_$lang"
  }.mkString(",\n       ")

  protected val langGuessSql = {
    val langs = Text.langMarkers.map(_._1)
    val cases = langs.map { lang =>
      val others = langs.filterNot(_ == lang).map(o => s"s_$o").mkString(", ")
      s"WHEN s_$lang > 0 AND s_$lang >= greatest($others) THEN '$lang'"
    }.mkString(" ")
    s"CASE $cases ELSE 'und' END"
  }

  protected val (simhashBitSumsSql, simhashFpSql) = Dedup.simhashSql()
  protected val (simhashWideSumsSql, simhashWideFpSql) =
    Dedup.simhashSqlN(Dedup.simhashPairBits)

  /** Recursive-CTE fixpoint (min reachable id per node) over the
    * MinHash near-dup pair graph — the independent oracle both
    * cluster formulations (label propagation and Large-Star/
    * Small-Star) are gated against. */
  /** DuckDB mirror of [[graft.ops.SemanticCluster.lloyd]] with
    * `refits` rounds, generated so both kmeans queries share one
    * source of truth (the Graph.rankStepSql pattern): seed assignment
    * a1 (`‖c‖² − 2·x·c` score, ties → lowest cid), then per round r a
    * (m_r, sums_r, cent_r) truncated-integer-mean refit and a dd_r /
    * a_{r+1} full-distance re-assignment; the final summary reads
    * a_{refits+1}. */
  protected def kmeansOracleSql(refits: Int, seedsCte: String = ""): String = {
    val dim = EMB_DIM
    // default seeds: the k lowest-id vectors; callers may supply any
    // CTE chain ending in seeds(cid, cq, cn2) — e.g. the farthest-point
    // traversal of kcenterSeedsCte
    val seeds = if (seedsCte.nonEmpty) seedsCte else
      s"""seeds AS (SELECT vec_id AS cid, q AS cq,
         |          ${Vectors.intNorm2Sql("q", dim)} AS cn2 FROM q WHERE vec_id < 4)""".stripMargin
    val head =
      s"""WITH q AS (SELECT vec_id, ${Vectors.quantizeSql("embedding")} AS q FROM embeddings),
         |$seeds,
         |d1 AS (SELECT v.vec_id, v.q, s.cid,
         |       s.cn2 - 2 * ${Vectors.intDotSql("v.q", "s.cq", dim)} AS sc
         |       FROM q v CROSS JOIN seeds s),
         |a1 AS (SELECT vec_id, q, cid AS cl FROM (
         |         SELECT *, row_number() OVER (PARTITION BY vec_id
         |                   ORDER BY sc, cid) AS rn FROM d1) WHERE rn = 1)""".stripMargin
    val rounds = (1 to refits).map { r =>
      s""",
         |m$r AS (SELECT cl, COUNT(*) AS m FROM a$r GROUP BY cl),
         |sums$r AS (SELECT cl, i, SUM(q[i]) AS s
         |         FROM a$r, LATERAL (SELECT unnest(generate_series(1, $dim)) AS i) g
         |         GROUP BY cl, i),
         |cent$r AS (SELECT sums$r.cl, list(sums$r.s // m$r.m ORDER BY sums$r.i) AS cv
         |         FROM sums$r JOIN m$r ON sums$r.cl = m$r.cl GROUP BY sums$r.cl),
         |dd$r AS (SELECT v.vec_id, v.q, c.cl,
         |         CAST(list_sum(list_transform(generate_series(1, $dim),
         |           i -> (v.q[i] - c.cv[i]) * (v.q[i] - c.cv[i]))) AS BIGINT) AS d2
         |       FROM q v CROSS JOIN cent$r c),
         |a${r + 1} AS (SELECT vec_id, q, cl, d2 FROM (
         |         SELECT *, row_number() OVER (PARTITION BY vec_id
         |                   ORDER BY d2, cl) AS rn FROM dd$r) WHERE rn = 1)""".stripMargin
    }.mkString
    val fin = refits + 1
    val tail =
      s""",
         |rep AS (SELECT cl, vec_id AS rep_vec_id FROM (
         |         SELECT cl, vec_id, row_number() OVER (PARTITION BY cl
         |                   ORDER BY d2, vec_id) AS rn FROM a$fin) WHERE rn = 1)
         |SELECT a.cl AS cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
         |       CAST(SUM(a.d2) AS BIGINT) AS inertia, MIN(r.rep_vec_id) AS rep_vec_id
         |FROM a$fin a JOIN rep r ON a.cl = r.cl
         |GROUP BY a.cl ORDER BY cluster""".stripMargin
    head + rounds + tail
  }

  /** CTE chain for [[kmeansOracleSql]]'s `seedsCte` mirroring
    * [[graft.ops.SemanticCluster.farthestPointSeedIds]]: fc1 = lowest
    * id, then each fc_j takes the max-min-distance row (ties → lowest
    * id), with fd_j folding the new center into the running min. */
  protected def kcenterSeedsCte(k: Int): String = {
    val dim = EMB_DIM
    val head =
      s"""n AS (SELECT vec_id, q, ${Vectors.intNorm2Sql("q", dim)} AS n2 FROM q),
         |fc1 AS (SELECT vec_id, q, n2 FROM n ORDER BY vec_id LIMIT 1),
         |fd1 AS (SELECT v.vec_id, v.q, v.n2,
         |        v.n2 + c.n2 - 2 * ${Vectors.intDotSql("v.q", "c.q", dim)} AS dmin
         |        FROM n v CROSS JOIN fc1 c WHERE v.vec_id <> c.vec_id)""".stripMargin
    val steps = (2 to k).map { j =>
      val pick =
        s""",
           |fc$j AS (SELECT vec_id, q, n2 FROM fd${j - 1}
           |        ORDER BY dmin DESC, vec_id ASC LIMIT 1)""".stripMargin
      // each fold also DROPS the picked row (d.vec_id <> c.vec_id),
      // mirroring the engine's exclusion of already-chosen ids: a
      // duplicate vector would otherwise tie its chosen twin at
      // dmin = 0 and the lowest-id tie-break could re-pick it
      val fold = if (j == k) "" else
        s""",
           |fd$j AS (SELECT d.vec_id, d.q, d.n2,
           |        least(d.dmin, d.n2 + c.n2 - 2 * ${Vectors.intDotSql("d.q", "c.q", dim)}) AS dmin
           |        FROM fd${j - 1} d CROSS JOIN fc$j c WHERE d.vec_id <> c.vec_id)""".stripMargin
      pick + fold
    }.mkString
    val union = (1 to k)
      .map(j => s"SELECT vec_id AS cid, q AS cq, n2 AS cn2 FROM fc$j")
      .mkString(" UNION ALL ")
    s"$head$steps,\nseeds AS ($union)"
  }

  protected lazy val dedupClustersCtes: String =
    s"""WITH RECURSIVE $SHINGLE3,
       |${Dedup.minhashBandSqlCtes(8, 4)},
       |ok AS (SELECT doc_id, band, bk FROM (
       |         SELECT *, COUNT(*) OVER (PARTITION BY band, bk) AS bsz FROM band)
       |       WHERE bsz <= 100),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM ok x JOIN ok y
       |         ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
       |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.doc_a
       |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |pairs AS (SELECT i.doc_a, i.doc_b
       |  FROM inter i
       |  JOIN cnt ca ON ca.doc_id = i.doc_a
       |  JOIN cnt cb ON cb.doc_id = i.doc_b
       |  WHERE 2 * i.inter >= 1 * (ca.n_sh + cb.n_sh - i.inter)),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
       |cc AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
       |sz AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |       FROM cc GROUP BY 1)""".stripMargin

  protected lazy val dedupClustersOracle: String =
    s"""$dedupClustersCtes
       |SELECT cc.id AS doc_id, cc.comp AS rep_doc_id, sz.cluster_size
       |FROM cc JOIN sz ON cc.comp = sz.comp
       |ORDER BY doc_id""".stripMargin

}
