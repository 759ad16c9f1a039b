package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.{ApplyChanges, Fixtures, Routing}
import graft.ops.{Dedup, Multimodal, Sessionize, Similarity, Text, Vectors}

/** Extension queries — deduplication (exact, MinHash-LSH, SimHash, blocked n-gram, containment, spans).
  * Builders + their DuckDB oracle mirrors for this family; shared
  * fragments come from [[ExtensionQueriesBase]]. Registered into the
  * single public registry by [[ExtensionQueries]].
  */
private[graft] trait DedupExtensionQueries extends ExtensionQueriesBase {
  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(Tables.documents(s, dir), col("text"), col("doc_id"))
      .orderBy("fingerprint")

  private def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    dedupPairs(s, dir)
      .orderBy("doc_a", "doc_b")

  /** MinHash-estimator calibration certificate — the exact-audit-
    * beside-sketch pattern (CMS, KMV, Bloom) applied to the dedup
    * family's own sketch: for every LSH candidate pair, the Broder
    * match-fraction Jaccard ESTIMATE from the 32-hash signature next
    * to the EXACT shingle Jaccard, with the signed error in basis
    * points. This is the table that justifies the banding thresholds:
    * a drifting estimator (bad hash family, too few hashes) shows up
    * here before it shows up as missed duplicates. All integer
    * arithmetic; candidates, signatures, and constants are byte-shared
    * with dedup_minhash_lsh so the oracle mirrors exactly.
    *
    * Scale shape: signature = one keyed wide-min shuffle; candidates
    * = the capped band-bucket join; estimate = two doc-keyed joins of
    * the candidate list against the signature frame; exact = the
    * shingle-keyed intersection join. Nothing all-pairs.
    */
  private def qDedupMinhashEstimate(s: SparkSession, dir: String): DataFrame = {
    val sig = Dedup.minhashSignature(docShingles(s, dir), 32)
    val matches = (0 until 32)
      .map(h => when(col(s"x.mh$h") === col(s"y.mh$h"), 1L).otherwise(0L))
      .reduce(_ + _)
    // candidates + exact intersections + set sizes come from the
    // family's shared pinned stats table; this query adds only the
    // signature joins and the estimator arithmetic. Join reordering is
    // output-neutral: all joins are 1:≤1 per candidate pair, and every
    // candidate doc has ≥1 shingle so the inner signature joins drop
    // nothing.
    lshCandidateStats(s, dir)
      .join(sig.as("x"), col("doc_a") === col("x.doc_id"))
      .join(sig.as("y"), col("doc_b") === col("y.doc_id"))
      .select(col("doc_a"), col("doc_b"), matches.as("matches"),
        col("inter"), col("n_a"), col("n_b"))
      .select(col("doc_a"), col("doc_b"), col("matches"),
        expr("(10000 * matches) div 32").as("est_bp"),
        expr("(10000 * coalesce(inter, 0L)) div (n_a + n_b - coalesce(inter, 0L))")
          .as("exact_bp"))
      .withColumn("err_bp", col("est_bp") - col("exact_bp"))
      .orderBy("doc_a", "doc_b")
  }

  private def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(Tables.documents(s, dir), col("text"), col("doc_id"))
      .orderBy("doc_id")

  /** Exact-Jaccard HISTOGRAM over the LSH candidate set — the
    * threshold-tuning readout next to dedup_minhash_estimate's
    * per-pair calibration and dedup_lsh_recall's recall curve: how the
    * candidate population distributes across similarity bands (a thick
    * 0.1–0.3 band means the banding over-generates; mass at 0.5+ is
    * what the verify keeps). Buckets of 1000 bp, exact intersection
    * counts, LEFT join so zero-overlap band collisions stay visible in
    * bucket 0 — the estimator-error population the calibration query
    * also keeps.
    *
    * Scale shape: rides the shared shingle table and the capped banded
    * candidates (never all-pairs); the histogram is an 11-row fold.
    */
  private def qDedupJaccardHistogram(s: SparkSession, dir: String): DataFrame = {
    // one 11-row fold over the family's shared pinned stats table
    // (identical frame to the old inline cand + left-join-intersection
    // + size-join chain — see [[lshCandidateStats]])
    lshCandidateStats(s, dir)
      .select(expr("(10000 * coalesce(inter, 0L)) div " +
        "(n_a + n_b - coalesce(inter, 0L))").as("j_bp"))
      .select(expr("least(j_bp div 1000, 9)").as("bucket"), col("j_bp"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"), min(col("j_bp")).as("min_bp"),
        max(col("j_bp")).as("max_bp"))
      .orderBy("bucket")
  }

  /** Near-dup pairs → dedup CLUSTERS: connected components over the
    * MinHash-LSH pair graph, one row per clustered doc with its
    * canonical survivor (= min doc id in the component) and the
    * cluster size. The oracle recomputes the same fixpoint with a
    * recursive CTE (min reachable id per node) — an independent
    * formulation of the identical semantics. */
  /** Per-cluster SOURCE purity — the provenance readout on top of the
    * shared cluster labels: for every near-dup cluster, how many
    * distinct sources feed it and what share the majority source
    * holds. A pure cluster (10⁴ bp) is one source syndicating to
    * itself; a mixed cluster is cross-source scraping/mirroring — the
    * per-cluster view that corpus_dup_by_source's source-pair census
    * aggregates away. Majority pick is (n DESC, source ASC) — total,
    * so engine-exact.
    *
    * Scale shape: rides the memoized component labels; one
    * (cluster, source) aggregate, the majority window runs on that
    * cluster-sized frame, never on documents.
    */
  private def qDedupClusterSources(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = dedupComponents(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
        col("id") === col("doc_id"))
      .groupBy(col("comp"), col("source")).agg(count(lit(1)).as("n"))
      // pinned: the size fold and the majority window both read this
      // cluster-sized frame — unpinned, each re-runs the documents join
      .transform(graft.ops.AnnCache.pin)
    val tot = m.groupBy(col("comp"))
      .agg(sum(col("n")).as("cluster_size"),
        count(lit(1)).as("n_sources"))
    val mj = m.withColumn("rk", row_number().over(
        Window.partitionBy(col("comp")).orderBy(col("n").desc, col("source"))))
      .where(col("rk") === 1)
      .select(col("comp"), col("source").as("majority_source"),
        col("n").as("mj_n"))
    tot.join(mj, "comp")
      .select(col("comp").as("cluster_id"), col("cluster_size"),
        col("n_sources"), col("majority_source"),
        expr("(10000 * mj_n) div cluster_size").as("majority_share_bp"))
      .orderBy("cluster_id")
  }

  private def qDedupClusters(s: SparkSession, dir: String): DataFrame = {
    val comp = dedupComponents(s, dir)
    val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "comp")
      .select(col("id").as("doc_id"), col("comp").as("rep_doc_id"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  /** [[qDedupClusters]] with the Large-Star/Small-Star formulation
    * ([[graft.ops.Components.connectedComponentsStar]]) — identical
    * cluster semantics through a structurally different fixpoint
    * (star contraction vs label propagation), gated against the SAME
    * recursive-CTE oracle. Covers the deep-component path at driver
    * level; ComponentsSpec covers it at property level. */
  private def qDedupClustersStar(s: SparkSession, dir: String): DataFrame = {
    val comp = dedupComponentsStar(s, dir)
    val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "comp")
      .select(col("id").as("doc_id"), col("comp").as("rep_doc_id"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  /** The depth-adaptive components path
    * ([[graft.ops.Components.connectedComponentsAdaptive]]): label-prop
    * probe, star contraction only if the probe doesn't converge —
    * the production entry point when cluster-graph depth is unknown.
    * On the shallow LSH fixture the probe converges, so this runs the
    * label-prop cost per invocation (deliberately unmemoized: the
    * query demonstrates the selector, not the memo); the deep branch
    * is property-covered in ComponentsSpec. Same fixpoint, same
    * recursive-CTE oracle as both siblings. */
  private def qDedupClustersAdaptive(s: SparkSession, dir: String): DataFrame = {
    val pairs = dedupPairs(s, dir).select("doc_a", "doc_b")
    val comp = graft.ops.Components.connectedComponentsAdaptive(pairs)
    val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "comp")
      .select(col("id").as("doc_id"), col("comp").as("rep_doc_id"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  /** PPJoin prefix-filter near-dup pairs
    * ([[graft.ops.Dedup.prefixFilterPairs]]): the EXACT candidate
    * generator — rarest-token prefixes must intersect for any pair at
    * J ≥ 1/2, so unlike the LSH channels there is no probabilistic
    * miss to calibrate. Oracle mirrors the full prefix construction
    * (global token frequencies, per-doc rank, prefix length
    * arithmetic) in SQL. */
  private def qDedupPrefixFilter(s: SparkSession, dir: String): DataFrame =
    prefixTruthPairs(s, dir) // family memo: lsh_recall audits this same frame
      .orderBy("doc_a", "doc_b")

  /** LSH RECALL CURVE — the certificate that closes the dedup
    * family's calibration story: dedup_minhash_estimate audits the
    * estimator's VALUES, this audits the pipeline's COVERAGE. Ground
    * truth is the exact PPJoin pair set (prefix filtering is
    * candidate-complete for J ≥ 1/2 — no sketch, no banding); a truth
    * pair is "caught" when the production MinHash-LSH channel (the
    * same memoized [[dedupPairs]] frame five queries serve from) also
    * returns it. Per 1000-bp Jaccard bucket: pairs, caught, recall in
    * bp — the measured S-curve that justifies the 8×4 banding choice
    * (theory: catch P = 1−(1−j⁴)⁸ ≈ 40% at j = 0.5, → 1 as j → 1;
    * the table shows where the corpus actually sits against that).
    *
    * Scale shape: both inputs are the family's shared memoized
    * artifacts (no new scan of documents); the join is pair-keyed;
    * the fold is ≤ 6 buckets.
    *
    * On the driver fixtures the corpus's true dups all sit at
    * J ≥ 0.8 and the curve reads 10000 bp in every populated bucket —
    * i.e. the banding missed NOTHING, which is exactly the production
    * question the certificate answers (a borderline-J corpus would
    * populate the 5000–7000 buckets at the theoretical ~40–90%).
    */
  private def qDedupLshRecall(s: SparkSession, dir: String): DataFrame = {
    val truth = prefixTruthPairs(s, dir) // the same pinned frame
      .select(col("doc_a"), col("doc_b"),   // dedup_prefix_filter declares
        expr("(10000 * inter) div union_sz").as("j_bp"))
    val caught = dedupPairs(s, dir)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
    truth.join(caught, Seq("doc_a", "doc_b"), "left")
      .select((least(expr("j_bp div 1000"), lit(9)) * 1000).cast("long")
          .as("j_bucket"),
        coalesce(col("hit"), lit(0L)).as("hit"))
      .groupBy(col("j_bucket"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("hit")).as("n_caught"))
      .withColumn("recall_bp", expr("(10000 * n_caught) div n_pairs"))
      .orderBy("j_bucket")
  }

  /** Manku-style simhash near-dup pairs (banded 60-bit fingerprints,
    * Hamming ≤ 3 verified by exact popcount). */
  private def qDedupSimhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDups(Tables.documents(s, dir), col("text"), col("doc_id"))
      .orderBy("doc_a", "doc_b")

  private def qDedupNgramBlocked(s: SparkSession, dir: String): DataFrame =
    Dedup.blockedJaccard(Tables.documents(s, dir), col("text"), col("doc_id"),
        Seq(), num = 1, den = 2)
      .orderBy("doc_a", "doc_b")

  /** Edit-distance near-dups: character-level variants (typos, OCR
    * noise) that token-level Jaccard under-scores. Length-difference
    * bound prunes before the quadratic distance runs. */
  private def qDedupEditDistance(s: SparkSession, dir: String): DataFrame =
    Dedup.editDistancePairs(Tables.documents(s, dir), col("text"), col("doc_id"),
        maxDist = 20)
      .orderBy("doc_a", "doc_b")

  /** Containment near-dups: the near-SUBSET pairs (quoted/embedded
    * docs) a Jaccard threshold drops — inter/min(|A|,|B|) ≥ 0.8 over
    * the same LSH candidate channel. */
  private def qDedupContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashContainmentDups(Tables.documents(s, dir), col("text"), col("doc_id"),
        shingles = Some(docShingles(s, dir)))
      .orderBy("doc_a", "doc_b")

  /** The containment-COMPLETE channel
    * ([[graft.ops.Dedup.containmentPrefixPairs]]): prefix filtering
    * with the pigeonhole on the smaller set, prefix ⋈ full-table join
    * — closes the LSH containment channel's documented recall caveat
    * (skewed-size near-subset pairs whose Jaccard sits far below the
    * band tuning). Same exact verify tail and threshold as
    * `dedup_containment`; rides the family shingle memo. */
  private def qDedupContainmentPrefix(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPrefixPairs(Tables.documents(s, dir), col("text"), col("doc_id"),
        shingles = Some(docShingles(s, dir)),
        rankedShingles = Some(docShinglesRanked(s, dir)))
      .orderBy("doc_a", "doc_b")

  private def qDedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Dedup.embeddingNearDups(emb, col("embedding"),
        col("vec_id"), bucketBits = embeddingLshBits(emb.count()),
        num = 40, den = 100)
      .orderBy("vec_a", "vec_b")
  }

  /** Exact duplicated-substring dedup ([[graft.ops.Spans]]): doc pairs
    * sharing a verbatim run of ≥ 20 tokens, with the longest shared
    * span — the Lee et al. ACL'22 signal that set-similarity dedup
    * under-weights (one long quoted block inside two otherwise
    * different docs). Positioned 8-gram diagonals + one
    * gaps-and-islands window; the gram join is keyed by an integer
    * gram hash with a 50-doc boilerplate cap, so the shuffle stays
    * ~|corpus grams| at any scale.
    */
  private def qDedupSubstringSpan(s: SparkSession, dir: String): DataFrame =
    graft.ops.Spans.sharedSpans(Tables.documents(s, dir), col("text"), col("doc_id"))
      .orderBy("doc_a", "doc_b")

  protected def dedupExtQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_clusters" -> (qDedupClusters _),
    "dedup_cluster_sources" -> (qDedupClusterSources _),
    "dedup_jaccard_histogram" -> (qDedupJaccardHistogram _),
    "dedup_clusters_adaptive" -> (qDedupClustersAdaptive _),
    "dedup_clusters_star" -> (qDedupClustersStar _),
    "dedup_containment" -> (qDedupContainment _),
    "dedup_containment_prefix" -> (qDedupContainmentPrefix _),
    "dedup_edit_distance" -> (qDedupEditDistance _),
    "dedup_embedding_cos" -> (qDedupEmbedding _),
    "dedup_exact" -> (qDedupExact _),
    "dedup_minhash_lsh" -> (qDedupMinhash _),
    "dedup_minhash_estimate" -> (qDedupMinhashEstimate _),
    "dedup_lsh_recall" -> (qDedupLshRecall _),
    "dedup_ngram_blocked" -> (qDedupNgramBlocked _),
    "dedup_prefix_filter" -> (qDedupPrefixFilter _),
    "dedup_simhash" -> (qDedupSimhash _),
    "dedup_simhash_pairs" -> (qDedupSimhashPairs _),
    "dedup_substring_span" -> (qDedupSubstringSpan _),
  )

  protected def dedupExtOracles: Map[String, String] = Map(
    // signature/candidate CTEs byte-shared with dedup_minhash_lsh;
    // LEFT JOIN on the intersection: a band collision between docs
    // with zero shared shingles is a legitimate estimator error row
    // candidate CTEs byte-shared with the estimator; bucket 0 keeps the
    // zero-overlap band collisions (LEFT join, same as the estimator)
    "dedup_jaccard_histogram" ->
      s"""WITH $SHINGLE3,
         |${Dedup.minhashBandSqlCtes(8, 4)},
         |ok AS (SELECT doc_id, band, bk FROM (
         |         SELECT *, COUNT(*) OVER (PARTITION BY band, bk) AS bsz FROM band)
         |       WHERE bsz <= 100),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM ok x JOIN ok y
         |         ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
         |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
         |          FROM cand c
         |          JOIN sh sa ON sa.doc_id = c.doc_a
         |          JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         |          GROUP BY 1, 2),
         |j AS (SELECT CAST((10000 * COALESCE(i.inter, 0)) //
         |        (ca.n_sh + cb.n_sh - COALESCE(i.inter, 0)) AS BIGINT) AS j_bp
         |      FROM cand c
         |      LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |      JOIN cnt ca ON ca.doc_id = c.doc_a
         |      JOIN cnt cb ON cb.doc_id = c.doc_b)
         |SELECT least(j_bp // 1000, 9) AS bucket,
         |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |       MIN(j_bp) AS min_bp, MAX(j_bp) AS max_bp
         |FROM j GROUP BY 1 ORDER BY bucket""".stripMargin,

    "dedup_minhash_estimate" ->
      s"""WITH $SHINGLE3,
         |${Dedup.minhashBandSqlCtes(8, 4)},
         |ok AS (SELECT doc_id, band, bk FROM (
         |         SELECT *, COUNT(*) OVER (PARTITION BY band, bk) AS bsz FROM band)
         |       WHERE bsz <= 100),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM ok x JOIN ok y
         |         ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
         |m AS (SELECT c.doc_a, c.doc_b,
         |        CAST(${(0 until 32).map(h =>
               s"(CASE WHEN x.mh$h = y.mh$h THEN 1 ELSE 0 END)").mkString(" + ")}
         |          AS BIGINT) AS matches
         |      FROM cand c JOIN sig x ON x.doc_id = c.doc_a
         |                  JOIN sig y ON y.doc_id = c.doc_b),
         |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
         |          FROM cand c
         |          JOIN sh sa ON sa.doc_id = c.doc_a
         |          JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         |          GROUP BY 1, 2),
         |e AS (SELECT m.doc_a, m.doc_b, m.matches,
         |        (10000 * m.matches) // 32 AS est_bp,
         |        CAST((10000 * COALESCE(i.inter, 0)) //
         |          (ca.n_sh + cb.n_sh - COALESCE(i.inter, 0)) AS BIGINT) AS exact_bp
         |      FROM m
         |      LEFT JOIN inter i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b
         |      JOIN cnt ca ON ca.doc_id = m.doc_a
         |      JOIN cnt cb ON cb.doc_id = m.doc_b)
         |SELECT doc_a, doc_b, matches, est_bp, exact_bp,
         |       est_bp - exact_bp AS err_bp
         |FROM e ORDER BY doc_a, doc_b""".stripMargin,

    // shared by dedup_clusters / dedup_clusters_star /
    // dedup_clusters_adaptive: all three operators compute the
    // identical fixpoint, so one oracle gates them all
    "dedup_clusters" -> dedupClustersOracle,

    "dedup_cluster_sources" ->
      s"""$dedupClustersCtes,
         |m AS (SELECT cc.comp, d.source, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM cc JOIN documents d ON cc.id = d.doc_id GROUP BY 1, 2),
         |tot AS (SELECT comp, CAST(SUM(n) AS BIGINT) AS cluster_size,
         |    CAST(COUNT(*) AS BIGINT) AS n_sources FROM m GROUP BY 1),
         |mj AS (SELECT comp, source AS majority_source, n AS mj_n FROM (
         |    SELECT *, row_number() OVER (PARTITION BY comp
         |      ORDER BY n DESC, source) AS rk FROM m) WHERE rk = 1)
         |SELECT t.comp AS cluster_id, t.cluster_size, t.n_sources,
         |       mj.majority_source,
         |       (10000 * mj.mj_n) // t.cluster_size AS majority_share_bp
         |FROM tot t JOIN mj ON t.comp = mj.comp
         |ORDER BY cluster_id""".stripMargin,

    "dedup_clusters_adaptive" -> dedupClustersOracle,

    "dedup_clusters_star" -> dedupClustersOracle,

    "dedup_containment" ->
      s"""WITH $SHINGLE3,
         |${Dedup.minhashBandSqlCtes(8, 4)},
         |ok AS (SELECT doc_id, band, bk FROM (
         |         SELECT *, COUNT(*) OVER (PARTITION BY band, bk) AS bsz FROM band)
         |       WHERE bsz <= 100),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM ok x JOIN ok y
         |         ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
         |${containmentTail(8, 10)}""".stripMargin,

    "dedup_containment_prefix" ->
      s"""WITH $SHINGLE3,
         |freq AS (SELECT shingle, COUNT(*) AS f FROM sh GROUP BY 1),
         |rk AS (SELECT doc_id, sh.shingle, f,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY f, sh.shingle) AS rn,
         |         COUNT(*) OVER (PARTITION BY doc_id) AS n
         |       FROM sh JOIN freq USING (shingle)),
         |pc AS (SELECT doc_id,
         |         MAX(CASE WHEN f > 100 THEN 1 ELSE 0 END) AS pc
         |       FROM rk WHERE rn <= n - ((n * 8 + 9) // 10) + 1
         |       GROUP BY 1),
         |pre AS (SELECT rk.doc_id, shingle, rn, n, pc.pc FROM rk
         |        JOIN pc USING (doc_id)
         |        WHERE rn <= n - ((n * 8 + 9) // 10) + 1 AND f <= 100),
         |ful AS (SELECT rk.doc_id, shingle, rn, n, pc.pc FROM rk
         |        JOIN pc USING (doc_id) WHERE f <= 100),
         |cand AS (SELECT DISTINCT least(x.doc_id, y.doc_id) AS doc_a,
         |                greatest(x.doc_id, y.doc_id) AS doc_b
         |         FROM pre x JOIN ful y
         |         ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
         |            AND (x.pc = 1 OR y.pc = 1 OR
         |                 1 + least(x.n - x.rn, y.n - y.rn) >=
         |                 (8 * least(x.n, y.n) + 9) // 10)),
         |${containmentTail(8, 10)}""".stripMargin,

    "dedup_edit_distance" ->
      s"""WITH t AS (SELECT doc_id,
         |         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
         |         $TK AS tk FROM documents),
         |k0 AS (SELECT doc_id, norm, len(norm) AS ln, tk[1] AS _f, tk[-1] AS _l
         |       FROM t WHERE len(tk) >= 1),
         |k AS (SELECT doc_id, norm, ln, _f, _l FROM (
         |        SELECT *, COUNT(*) OVER (PARTITION BY _f, _l) AS bsz FROM k0)
         |      WHERE bsz <= 200),
         |cand AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |                x.norm AS na, y.norm AS nb
         |         FROM k x JOIN k y ON x._f = y._f AND x._l = y._l
         |          AND x.doc_id < y.doc_id AND abs(x.ln - y.ln) <= 20)
         |SELECT doc_a, doc_b, CAST(levenshtein(na, nb) AS BIGINT) AS edit_dist
         |FROM cand WHERE levenshtein(na, nb) <= 20
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_embedding_cos" ->
      s"""WITH q AS (SELECT vec_id, ${Vectors.quantizeSql("embedding")} AS q FROM embeddings),
         |pw AS (SELECT ${Vectors.scaledLshPow2Sql("embeddings", 8, 8)} AS p),
         |n AS (SELECT vec_id, q, ${Vectors.intNorm2Sql("q", EMB_DIM)} AS n2,
         |       (${Vectors.signBucketSql("q", 24)}) % (SELECT p FROM pw)
         |         AS bucket FROM q),
         |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       ${Vectors.intDotSql("a.q", "b.q", EMB_DIM)} AS dot,
         |       a.n2 AS n2a, b.n2 AS n2b
         |      FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, dot FROM p
         |WHERE dot > 0 AND 10000 * CAST(dot AS HUGEINT) * dot >= 1600 * CAST(n2a AS HUGEINT) * n2b
         |ORDER BY vec_a, vec_b""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
        |       COUNT(*) AS n_docs, MIN(doc_id) AS rep_doc_id
        |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin,

    // truth = the prefix-filter CTEs verbatim (candidate-complete for
    // J >= 1/2); caught = the minhash-LSH CTEs verbatim; both ride the
    // SHARED shingle table. MATERIALIZED: sh/cnt feed both channels.
    "dedup_lsh_recall" ->
      s"""WITH t AS MATERIALIZED (SELECT doc_id, $TK AS tk FROM documents),
         |sh AS MATERIALIZED (SELECT DISTINCT doc_id,
         |         tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
         |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(tk)-2)) AS i) g
         |       WHERE len(tk) >= 3),
         |cnt AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |freq AS (SELECT shingle, COUNT(*) AS f FROM sh GROUP BY 1),
         |rk AS (SELECT doc_id, sh.shingle,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY f, sh.shingle) AS rn,
         |         COUNT(*) OVER (PARTITION BY doc_id) AS n
         |       FROM sh JOIN freq USING (shingle)),
         |pre AS (SELECT doc_id, shingle FROM rk WHERE rn <= n - ((n + 1) // 2) + 1),
         |candp AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |          FROM pre x JOIN pre y
         |          ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
         |interp AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
         |           FROM candp c
         |           JOIN sh a ON a.doc_id = c.doc_a
         |           JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |           GROUP BY 1, 2),
         |truth AS MATERIALIZED (SELECT i.doc_a, i.doc_b,
         |          (10000 * i.inter) // (ca.n_sh + cb.n_sh - i.inter) AS j_bp
         |        FROM interp i
         |        JOIN cnt ca ON ca.doc_id = i.doc_a
         |        JOIN cnt cb ON cb.doc_id = i.doc_b
         |        WHERE 2 * i.inter >= ca.n_sh + cb.n_sh - i.inter),
         |${Dedup.minhashBandSqlCtes(8, 4)},
         |ok AS (SELECT doc_id, band, bk FROM (
         |         SELECT *, COUNT(*) OVER (PARTITION BY band, bk) AS bsz FROM band)
         |       WHERE bsz <= 100),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM ok x JOIN ok y
         |         ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
         |interl AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
         |           FROM cand c
         |           JOIN sh sa ON sa.doc_id = c.doc_a
         |           JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
         |           GROUP BY 1, 2),
         |lsh AS MATERIALIZED (SELECT i.doc_a, i.doc_b
         |       FROM interl i
         |       JOIN cnt ca ON ca.doc_id = i.doc_a
         |       JOIN cnt cb ON cb.doc_id = i.doc_b
         |       WHERE 2 * i.inter >= ca.n_sh + cb.n_sh - i.inter)
         |SELECT CAST(LEAST(j_bp // 1000, 9) * 1000 AS BIGINT) AS j_bucket,
         |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |       CAST(SUM(CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_caught,
         |       (10000 * CAST(SUM(CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0
         |         END) AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS recall_bp
         |FROM truth tr LEFT JOIN lsh l
         |  ON l.doc_a = tr.doc_a AND l.doc_b = tr.doc_b
         |GROUP BY 1 ORDER BY j_bucket""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""WITH $SHINGLE3,
         |${Dedup.minhashBandSqlCtes(8, 4)},
         |ok AS (SELECT doc_id, band, bk FROM (
         |         SELECT *, COUNT(*) OVER (PARTITION BY band, bk) AS bsz FROM band)
         |       WHERE bsz <= 100),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM ok x JOIN ok y
         |         ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
         |${jaccardTail(1, 2)}""".stripMargin,

    "dedup_ngram_blocked" ->
      s"""WITH t AS (SELECT doc_id, $TK AS tk FROM documents),
         |k0 AS (SELECT doc_id, tk[1] AS _f, tk[-1] AS _l FROM t),
         |k AS (SELECT doc_id, _f, _l FROM (
         |        SELECT *, COUNT(*) OVER (PARTITION BY _f, _l) AS bsz FROM k0)
         |      WHERE bsz <= 200),
         |cand AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM k x JOIN k y ON x._f = y._f
         |          AND x._l = y._l AND x.doc_id < y.doc_id),
         |sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] AS shingle
         |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(tk)-1)) AS i) g
         |       WHERE len(tk) >= 2),
         |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |${jaccardTail(1, 2)}""".stripMargin,

    // full prefix construction mirrored on the SHARED shingle CTE:
    // global shingle frequencies, per-doc (freq, shingle) rank,
    // L = n - ceil(n/2) + 1 via the nonneg-exact (n+1)//2, prefix
    // candidate join, exact Jaccard >= 1/2 verify
    "dedup_prefix_filter" ->
      s"""WITH $SHINGLE3,
         |freq AS (SELECT shingle, COUNT(*) AS f FROM sh GROUP BY 1),
         |rk AS (SELECT doc_id, sh.shingle,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY f, sh.shingle) AS rn,
         |         COUNT(*) OVER (PARTITION BY doc_id) AS n
         |       FROM sh JOIN freq USING (shingle)),
         |pre AS (SELECT doc_id, shingle FROM rk WHERE rn <= n - ((n + 1) // 2) + 1),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM pre x JOIN pre y
         |         ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
         |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
         |          FROM cand c
         |          JOIN sh a ON a.doc_id = c.doc_a
         |          JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |          GROUP BY 1, 2)
         |SELECT i.doc_a, i.doc_b, CAST(i.inter AS BIGINT) AS inter,
         |       CAST(ca.n_sh + cb.n_sh - i.inter AS BIGINT) AS union_sz
         |FROM inter i
         |JOIN cnt ca ON ca.doc_id = i.doc_a
         |JOIN cnt cb ON cb.doc_id = i.doc_b
         |WHERE 2 * i.inter >= ca.n_sh + cb.n_sh - i.inter
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id, $TK AS tk FROM documents),
         |tok AS (SELECT doc_id, ${Text.polyHashSql("u.t")} AS d
         |        FROM t, LATERAL (SELECT unnest(tk) AS t) u),
         |bits AS (SELECT doc_id, $simhashBitSumsSql FROM tok GROUP BY doc_id)
         |SELECT doc_id, CAST($simhashFpSql AS BIGINT) AS simhash
         |FROM bits ORDER BY doc_id""".stripMargin,

    "dedup_simhash_pairs" -> {
      val bandW = Dedup.simhashPairBits / Dedup.simhashPairBands
      val bandList = (0 until Dedup.simhashPairBands).mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, $TK AS tk FROM documents),
         |tok AS (SELECT doc_id, ${Text.polyHashSql("u.t")} AS d
         |        FROM t, LATERAL (SELECT unnest(tk) AS t) u),
         |bits AS (SELECT doc_id, $simhashWideSumsSql FROM tok GROUP BY doc_id),
         |fp AS (SELECT doc_id, CAST($simhashWideFpSql AS BIGINT) AS simhash FROM bits),
         |banded AS (SELECT doc_id, simhash, b.band,
         |        (simhash >> (b.band * $bandW)) % ${1L << bandW} AS bv
         |        FROM fp, LATERAL (SELECT unnest($bandList) AS band) b),
         |ok AS (SELECT doc_id, simhash, band, bv FROM (
         |         SELECT *, COUNT(*) OVER (PARTITION BY band, bv) AS bsz FROM banded)
         |       WHERE bsz <= 100),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |         CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
         |         FROM ok x JOIN ok y
         |         ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b, hamming FROM cand
         |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin
    },

    "dedup_substring_span" ->
      (graft.ops.Spans.sharedSpansSql(TK) + "\nORDER BY 1, 2"),

  )
}
