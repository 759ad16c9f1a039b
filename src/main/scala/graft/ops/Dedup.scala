package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for training-data pipelines (SURVEY §7.4):
  * exact, MinHash-LSH, SimHash, blocked n-gram Jaccard, embedding
  * cosine. Every operator is a keyed-shuffle pipeline — candidate
  * generation always goes through a bucket/band join (never an
  * all-pairs product), which is what survives 100 TB: cost is
  * O(docs × signature) + O(true-ish candidate pairs), not O(docs²).
  */
object Dedup {

  /** Chunk granularity for sub-document dedup — single source of truth
    * for the batch operator and its SQL mirror. */
  val ChunkTokens = 16

  /** Consecutive `chunkTokens`-token chunks per doc: (doc_id, pos,
    * chunk, k) where `k` packs (doc_id, pos) into one BIGINT so
    * first-occurrence-wins stays a single-column MIN in any engine.
    * The packing is CHECKED: it requires 0 ≤ doc_id < 2⁴³ and
    * pos < 2²⁰ (docs beyond 16M tokens, negative ids, or an id space
    * past 8.8·10¹² would silently wrap and corrupt winner selection),
    * and an out-of-range row raises instead of wrapping. The chunking
    * itself is scan-stage (sequence + slice + posexplode); used by
    * `corpus_chunk_dedup`.
    */
  def tokenChunks(docs: DataFrame, textCol: Column, idCol: Column,
      chunkTokens: Int = ChunkTokens): DataFrame =
    docs.select(idCol.as("doc_id"), Text.tokens(textCol).as("tk"))
      .withColumn("nc", expr(s"(size(tk) - 1) div $chunkTokens"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), col("nc")),
        i => array_join(slice(col("tk"), i * chunkTokens + lit(1), lit(chunkTokens)), " "))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("chunk"))
      .withColumn("k",
        when(col("doc_id").between(0L, (1L << 43) - 1) && col("pos") < 1048576L,
          col("doc_id") * 1048576L + col("pos"))
        .otherwise(expr("raise_error('tokenChunks: (doc_id, pos) outside " +
          "[0, 2^43) x [0, 2^20) — the BIGINT packing would wrap and " +
          "corrupt first-occurrence winner selection')")))

  /** Exact dedup groups by content fingerprint: one hash-shuffle.
    * `rep_doc_id` = min id is the canonical survivor (first-writer-wins
    * like A1).
    */
  def exactGroups(docs: DataFrame, textCol: Column, idCol: Column): DataFrame =
    docs.select(Text.fingerprint(textCol).as("fingerprint"), idCol.as("doc_id"))
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep_doc_id"))

  /** Incremental exact dedup — the production ingestion shape: a new
    * batch checks against the HISTORICAL fingerprint store (anti-join)
    * instead of re-deduping the whole corpus, then first-writer-wins
    * within the batch itself. Cost per batch is one shuffle of the
    * batch plus a join against the store keyed on fingerprint — at
    * 100 TB the corpus is never rescanned; the store is the compact
    * (fingerprint → rep) table [[exactGroups]] emits, maintained by
    * appending each batch's survivors (the [[Rollup]]/[[DeltaJoin]]
    * incremental-state discipline applied to dedup).
    *
    * `seen` needs only a `fingerprint` column; survivors keep the
    * batch's columns plus their fingerprint (ready to append to the
    * store).
    */
  def incrementalExact(batch: DataFrame, seen: DataFrame,
                       textCol: Column, idCol: Column): DataFrame = {
    val fp = batch.withColumn("fingerprint", Text.fingerprint(textCol))
    val firstInBatch = fp
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("fingerprint")).orderBy(idCol)))
      .where(col("_rn") === 1).drop("_rn")
    firstInBatch.join(seen.select(col("fingerprint")).distinct(),
      Seq("fingerprint"), "left_anti")
  }

  /** Banded MinHash signatures (Broder, "On the resemblance and
    * containment of documents", 1997; banding analysis per Leskovec/
    * Rajaraman/Ullman, Mining of Massive Datasets ch. 3): `bands` keys
    * per doc, each the concatenation of `rowsPerBand` minhashes.
    * Collision probability is the proper LSH s-curve 1-(1-J^r)^b — r≥2 is what keeps the
    * candidate set sub-quadratic at scale: with r=1 every doc pair
    * sharing ONE common-shingle minhash collides (P=1-(1-J)^b ≈ 0.57 at
    * J=0.1 for b=8), which degenerates toward all-pairs on a 100 TB
    * corpus.
    *
    * Minhash family: one [[Text.polyHash]] digest `d` per shingle, then
    * h_i(d) = (a_i·d + b_i) mod p (universal hashing) — all codegen'd
    * integer arithmetic. One digest per shingle row, b·r cheap
    * multiply-adds on top; no per-row crypto (see polyHash scaladoc for
    * why md5 here serialized the whole stage). a_i·d < 1e18.1 < 2^63,
    * so the arithmetic never overflows.
    *
    * Computed as one wide aggregation (b·r min-columns over the shingle
    * rows — map-side partial, one keyed shuffle) followed by a per-doc
    * unpivot to (doc_id, band, bk), so the shuffled row count is
    * |docs|·b, not |shingles|·b·r.
    */
  private val P = graft.ops.Text.polyHashMod
  /** Deterministic universal-hash constants (a_i ≠ 0, both < p). */
  private[ops] def hashConsts(i: Int): (Long, Long) = {
    val a = (1103515245L * (i + 1) + 12345L) % P
    val b = (69069L * (i + 1) + 1L) % P
    (if (a == 0L) 1L else a, b)
  }

  def minhashBandKeys(shingles: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    val hashed = shingles.select(col("doc_id"), Text.polyHash(col("shingle")).as("d"))
    val mins = (0 until numHashes).map { h =>
      val (a, b) = hashConsts(h)
      min((col("d") * lit(a) + lit(b)) % lit(P)).as(s"mh$h")
    }
    val bandRows = (0 until bands).map { b =>
      val ms = (0 until rowsPerBand).map(r => s"mh${b * rowsPerBand + r}")
      s"$b, concat_ws('|', ${ms.mkString(", ")})"
    }
    val stackExpr = bandRows.mkString(s"stack($bands, ", ", ", ") as (band, bk)")
    hashed.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), expr(stackExpr))
  }

  /** Per-doc minhash signature as WIDE columns (doc_id, mh0..mh{n-1}) —
    * the raw per-hash minima [[minhashBandKeys]] folds into band keys,
    * exposed for signature-level reads: Jaccard ESTIMATION (match
    * fraction across the n hashes — Broder's original estimator) and
    * its calibration against the exact shingle Jaccard. Same
    * [[hashConsts]] family and the same one-keyed-shuffle wide
    * aggregation, so the SQL mirror generated from the identical
    * constants ([[minhashBandSqlCtes]]'s `sig` CTE) can never drift. */
  def minhashSignature(shingles: DataFrame, numHashes: Int): DataFrame = {
    val hashed = shingles.select(col("doc_id"), Text.polyHash(col("shingle")).as("d"))
    val mins = (0 until numHashes).map { h =>
      val (a, b) = hashConsts(h)
      min((col("d") * lit(a) + lit(b)) % lit(P)).as(s"mh$h")
    }
    hashed.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** DuckDB mirror of [[minhashBandKeys]]: CTEs `hsh`, `sig`, `band`
    * over an existing `sh(doc_id, shingle)` CTE — generated from the
    * same constants so the two sides can never drift.
    */
  def minhashBandSqlCtes(bands: Int, rowsPerBand: Int): String = {
    val minExprs = (0 until bands * rowsPerBand).map { h =>
      val (a, b) = hashConsts(h)
      s"min(($a * d + $b) % $P) AS mh$h"
    }.mkString(", ")
    val bandSelects = (0 until bands).map { b =>
      val ms = (0 until rowsPerBand).map(r => s"mh${b * rowsPerBand + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws('|', $ms) AS bk FROM sig"
    }.mkString(" UNION ALL ")
    s"""hsh AS (SELECT doc_id, ${Text.polyHashSql("shingle")} AS d FROM sh),
       |sig AS (SELECT doc_id, $minExprs FROM hsh GROUP BY doc_id),
       |band AS ($bandSelects)""".stripMargin
  }

  /** AQE-sized keyed fanout: one explicit exchange on `keys` whose
    * width AQE's coalescing sizes to the data (REPARTITION_BY_COL —
    * coalescible, unlike a pinned REPARTITION_BY_NUM). Its only job is
    * exchange SHARING: placed above a multi-consumer fork it lets
    * ReuseExchange materialize the frame once instead of per consumer.
    *
    * History (r20→r21): the r20 form pinned the width to
    * `spark.sql.shuffle.partitions` to stop AQE's byte-judged
    * coalescing from serializing the quadratic pair stages — and the
    * driver's full 32-core bench measured it as a NET regression
    * (dedup_containment_prefix 2.0→12.5 s wall / 70 exec-s / 2709
    * gcMs, the whole dedup family 0.16-0.87× while the same code at 8
    * cores matched r19): fragmenting sub-MB fixture frames 32 ways
    * multiplied per-task fixed cost and GC across every consumer in
    * the shared bench JVM. At real scale the frames are GB-sized and
    * AQE's advisory-size coalescing alone yields full width, so the
    * pin bought nothing there either. */
  private[graft] def keyedFanout(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(keys: _*)

  /** Shared bucketed self-join core: cap hot buckets (strictly larger
    * than `maxBucket` are dropped before the join — a hot band key,
    * e.g. the signature shared by thousands of boilerplate docs, would
    * otherwise go quadratic inside its bucket), then pair each bucket's
    * docs (a < b), carrying optional per-doc `payload` columns through
    * for the verify step.
    *
    * Layout: the sizing window's clustered-distribution requirement
    * inserts ONE hash(keyCols) exchange (AQE-sized), and the x/y join
    * sides both read the window's output partitioning, so the whole
    * core runs behind a single exchange with no repartition of its
    * own. r20 pinned a REPARTITION_BY_NUM fanout under the window;
    * measured as a regression and reverted — see [[keyedFanout]]. */
  private[ops] def cappedPairJoin(keyed: DataFrame, keyCols: Seq[String],
                                  maxBucket: Int, payload: Seq[String] = Nil): DataFrame = {
    val sized = keyed
      .withColumn("bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(keyCols.map(col): _*)))
      .where(col("bsz") <= maxBucket)
      .select((("doc_id" +: keyCols) ++ payload).map(col): _*)
    sized.as("x").join(sized.as("y"),
      keyCols.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) &&
        col("x.doc_id") < col("y.doc_id"))
  }

  /** Band-bucket join → distinct candidate pairs (a < b).
    *
    * Buckets with more than `maxBucket` docs are dropped before the
    * self-join (see [[cappedPairJoin]]). Exact dedup (one keyed
    * shuffle, no join) already covers identical docs, which is what
    * giant buckets are. Use [[oversizedBuckets]] to count/log what a
    * cap drops.
    */
  def lshCandidates(banded: DataFrame, maxBucket: Int = 100): DataFrame =
    cappedPairJoin(banded, Seq("band", "bk"), maxBucket)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

  /** The (band, bk, size) buckets a `maxBucket` cap would drop —
    * callers log/monitor this count rather than the operator collecting
    * anything to the driver on the hot path.
    */
  def oversizedBuckets(banded: DataFrame, maxBucket: Int): DataFrame =
    banded.groupBy(col("band"), col("bk"))
      .agg(count(lit(1)).as("bucket_size"))
      .where(col("bucket_size") > maxBucket)

  /** Exact Jaccard verification of candidate pairs against the true
    * shingle sets; keeps pairs with J >= num/den (integer
    * cross-multiplication — exact). Cost is proportional to candidate
    * pairs only.
    */
  def jaccardVerify(candidates: DataFrame, shingles: DataFrame,
                    num: Int, den: Int): DataFrame =
    pairOverlap(candidates, shingles)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("n_a") + col("n_b") - col("inter")).as("union_sz"))
      .where(lit(den) * col("inter") >= lit(num) * col("union_sz"))

  /** Containment verification: keeps pairs with
    * inter / min(|A|,|B|) >= num/den — the near-SUBSET test Jaccard
    * misses (a short doc embedded verbatim in a long one has
    * containment ≈ 1 but Jaccard ≈ |short|/|long|). Same integer
    * cross-multiplication, same candidate-pairs-only cost shape as
    * [[jaccardVerify]].
    */
  def containmentVerify(candidates: DataFrame, shingles: DataFrame,
                        num: Int, den: Int): DataFrame =
    pairOverlap(candidates, shingles)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        least(col("n_a"), col("n_b")).as("min_sz"))
      .where(lit(den) * col("inter") >= lit(num) * col("min_sz"))

  /** Candidate-pair Jaccard STATISTICS table: every candidate pair
    * with its exact shingle-intersection size (`inter`, NULL when the
    * pair shares no shingle — kept, unlike [[jaccardVerify]]'s inner
    * tail, because the calibration readouts count zero-overlap band
    * collisions as estimator-error rows) and both set sizes. This is
    * [[pairOverlap]] with a LEFT intersection join: at corpus scale
    * the candidate generation + exact intersection is the expensive
    * shared product of the whole calibration family — the verify keep
    * set ([[jaccardFromStats]]), the estimator calibration, and the
    * similarity histogram are all cheap reads of this one table, so
    * the production shape is "compute the pair-stats table once, every
    * readout scans it" (the same economics as the shingle table one
    * level below).
    */
  def pairJaccardStats(candidates: DataFrame, shingles: DataFrame): DataFrame = {
    val counts = shingles.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = candidates
      .join(shingles.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(shingles.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    candidates
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(counts.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(counts.as("cb"), col("doc_b") === col("cb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("ca.n_sh").as("n_a"), col("cb.n_sh").as("n_b"))
  }

  /** [[jaccardVerify]]'s keep set evaluated from a precomputed
    * [[pairJaccardStats]] frame — identical output by construction:
    * the `isNotNull` filter is the inner intersection join (a pair
    * with zero shared shingles has no inter row there and cannot pass
    * any num > 0 threshold here), the 1:≤1 join cardinalities make the
    * row multiplicities equal, and the coalesce is a no-op on the
    * surviving rows that restores the inner form's non-nullable
    * `inter` so the two forms' schemas stay byte-identical (the
    * driver's output contract is typed). Property-pinned equal to
    * [[jaccardVerify]] in ExtensionOpsSpec.
    */
  def jaccardFromStats(stats: DataFrame, num: Int, den: Int): DataFrame = {
    val inter = coalesce(col("inter"), lit(0L))
    stats.where(col("inter").isNotNull)
      .select(col("doc_a"), col("doc_b"), inter.as("inter"),
        (col("n_a") + col("n_b") - inter).as("union_sz"))
      .where(lit(den) * col("inter") >= lit(num) * col("union_sz"))
  }

  /** Shared verify core: exact shingle-intersection size plus both set
    * sizes per candidate pair. Cost is proportional to candidate pairs
    * (the shingle-equijoin groups by pair).
    *
    * Join strategy, adjudicated r20: at fixture scale the planner
    * broadcasts the SHINGLE side of both joins (the pinned memo leaf
    * inherits the pre-explode parquet estimate, a few hundred KB, so
    * the 260 k-row frame reads as broadcastable) — a serial 16-40 MiB
    * driver-side hash build per join that stage metrics never show.
    * Forcing the scale-shaped alternative (`shuffle_hash` built on the
    * candidate side) was MEASURED SLOWER here (dedup_prefix_filter
    * 2.3 → 3.3 s, containment_prefix 2.7 → 4.2 s, same-noise-regime
    * subset bench): two extra corpus-keyed exchanges of the shingle
    * side cost more than the serial builds they replace. Left as
    * planner's choice: the mis-estimate is a FIXTURE artifact — at
    * real scale the shingle leaf's stats are corpus-sized, no
    * threshold admits them, and the planner lands on the shuffled
    * join unprompted. */
  private def pairOverlap(candidates: DataFrame, shingles: DataFrame): DataFrame = {
    val counts = shingles.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = candidates
      .join(shingles.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(shingles.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(counts.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(counts.as("cb"), col("doc_b") === col("cb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("ca.n_sh").as("n_a"), col("cb.n_sh").as("n_b"))
  }

  /** End-to-end MinHash-LSH near-dup detection on word `n`-shingles.
    *
    * The shingle table feeds four consumers (signatures, both sides of
    * the verify join, the size counts). Spark's ReuseExchange dedups the
    * repeated shuffle at execution; on a 100 TB corpus you would write
    * the shingle table out bucketed by shingle once per corpus rather
    * than re-scan the raw text four times.
    */
  def minhashNearDups(docs: DataFrame, textCol: Column, idCol: Column,
                      shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                      num: Int = 1, den: Int = 2, maxBucket: Int = 100): DataFrame = {
    val sh = Text.distinctShingles(docs, textCol, idCol, shingleN)
    // Signatures use the aggregated form, not a per-row higher-order
    // expression over each doc's shingle array: that re-evaluates
    // inside the pair self-join and measured ~9× slower than paying
    // the one |shingles|-keyed exchange (which ReuseExchange shares
    // with the verify side).
    jaccardVerify(
      lshCandidates(minhashBandKeys(sh, bands, rowsPerBand), maxBucket),
      sh, num, den)
  }

  /** End-to-end containment near-dup detection: MinHash-LSH candidate
    * pairs verified by shingle CONTAINMENT instead of Jaccard. Catches
    * the near-subset duplicates (quoted/embedded docs) a Jaccard
    * threshold drops.
    *
    * Recall caveat, by construction: candidates come from Jaccard-tuned
    * MinHash bands, so a subset pair is surfaced only if it also
    * collides in some band — high-containment/low-Jaccard pairs with
    * extreme length skew may not. At 100 TB the fix is a second
    * candidate channel keyed on the SHORT doc's signature (or suffix
    * arrays); the verify stage here is agnostic to where candidates
    * come from.
    */
  def minhashContainmentDups(docs: DataFrame, textCol: Column, idCol: Column,
                             shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                             num: Int = 8, den: Int = 10,
                             maxBucket: Int = 100,
                             shingles: Option[DataFrame] = None): DataFrame = {
    val sh = shingles.getOrElse(
      Text.distinctShingles(docs, textCol, idCol, shingleN))
    containmentVerify(
      lshCandidates(minhashBandKeys(sh, bands, rowsPerBand), maxBucket),
      sh, num, den)
  }

  /** Containment-COMPLETE candidate channel — the second channel
    * [[minhashContainmentDups]]'s recall caveat calls for: prefix
    * filtering adapted to the containment threshold. The pigeonhole
    * runs on the SMALLER set: a pair with inter/min(|A|,|B|) ≥ num/den
    * shares ≥ ⌈num·|A|/den⌉ of A's shingles, so it cannot miss ALL of
    * A's first L = |A| − ⌈num·|A|/den⌉ + 1 rarest shingles (global
    * rarest-first order, ties by shingle — total, engine-exact).
    * Unlike the Jaccard prefix join (prefix ⋈ prefix), the witness
    * shingle only needs to appear ANYWHERE in the larger doc, so
    * candidates join each doc's prefix against the FULL shingle
    * table — complete for skewed-size near-subset pairs at any length
    * ratio, where LSH bands tuned for Jaccard almost never collide.
    *
    * Scale shape: prefixes hold each doc's rarest shingles, so the
    * rarest-first order keeps join blocks small; on top of that both
    * join sides drop shingles with global frequency > `maxOcc` (an
    * occurrence cap like the span-dedup gram cap — it bounds every
    * block at maxOcc², and a qualifying pair is lost only when the
    * smaller doc's ENTIRE prefix is corpus-hot boilerplate, the case
    * exact/chunk dedup owns). Verify is the exact containment tail,
    * candidate-pairs-only. With maxOcc ≥ the max global shingle
    * frequency the channel is exactly complete (property-pinned
    * against brute force in PrefixFilterSpec).
    */
  def containmentPrefixPairs(docs: DataFrame, textCol: Column, idCol: Column,
                             shingleN: Int = 3, num: Int = 8, den: Int = 10,
                             maxOcc: Int = 100,
                             shingles: Option[DataFrame] = None,
                             rankedShingles: Option[DataFrame] = None): DataFrame = {
    require(num > 0 && den >= num, s"threshold $num/$den not in (0,1]")
    val sh = shingles.getOrElse(
      Text.distinctShingles(docs, textCol, idCol, shingleN))
    val ranked = rankedShingles.getOrElse(rankShingles(sh))
    // ranking uses TRUE global frequencies; the occurrence cap only
    // prunes the join sides (dropping hot shingles from the order
    // would silently change which shingles count as "rarest")
    val lExpr = expr(s"n - ((n * $num + ${den - 1}) div $den) + 1")
    // per doc: does the PREFIX contain any capped-out (corpus-hot)
    // shingle? when it does, the first-common-shingle argument below
    // loses its witness row, so those docs' rows skip the positional
    // prune — which makes the filter's verified output EXACTLY the
    // unfiltered channel's in every cap regime, not just maxOcc = ∞
    val pfxCapped = ranked.where(col("rn") <= lExpr)
      .groupBy(col("doc_id"))
      .agg(max(when(col("f") > maxOcc, 1).otherwise(0)).as("pc"))
    val prefix = ranked
      .where(col("rn") <= lExpr && col("f") <= maxOcc)
      .join(pfxCapped, "doc_id")
      .select(col("doc_id"), col("shingle"), col("rn"), col("n"), col("pc"))
    val full = ranked.where(col("f") <= maxOcc)
      .join(pfxCapped, "doc_id")
      .select(col("doc_id"), col("shingle"), col("rn"), col("n"), col("pc"))
    // PPJoin's POSITION filter adapted to the containment threshold
    // (Xiao, Wang, Lin & Yu, WWW 2008 — the same bound the Jaccard
    // channel carries): containment ≥ num/den needs overlap
    // o ≥ t = ceil(num·min(nx,ny)/den), and at the pair's FIRST
    // common shingle every other common shingle sits in both suffixes
    // of the shared global rarity order, so o ≤ 1 + min(nx−rnx,
    // ny−rny) there. When BOTH docs' prefixes survive the cap intact,
    // a qualifying pair always passes at its first common shingle
    // (it sits in the smaller doc's prefix by pigeonhole, its ranks
    // are TRUE ranks, and the bound there is ≥ o ≥ t), so pruning the
    // redundant later rows is lossless; when either prefix lost a
    // corpus-hot shingle to the cap the witness may be gone, so those
    // rows pass unfiltered — the prune only ever fires where its
    // proof holds, and the channel's verified pairs are identical to
    // the plain join's at ANY maxOcc (PrefixFilterSpec pins both the
    // capped and uncapped regimes against brute force).
    val cand = prefix.as("x").join(full.as("y"),
        col("x.shingle") === col("y.shingle") &&
        col("x.doc_id") =!= col("y.doc_id") &&
        (col("x.pc") === 1 || col("y.pc") === 1 ||
          lit(1) + least(col("x.n") - col("x.rn"), col("y.n") - col("y.rn")) >=
            expr(s"($num * least(x.n, y.n) + ${den - 1}) div $den")))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
      .distinct()
    containmentVerify(cand, sh, num, den)
  }

  /** 16-bit SimHash (Charikar, "Similarity estimation techniques
    * from rounding algorithms", STOC 2002) over the token multiset:
    * per bit j, sign of
    * Σ_tokens (parity of h_j(polyHash(token)) ? +1 : -1) with h_j from
    * the same universal family as the minhashes (offset so the two
    * operators' bits are uncorrelated). Identical simhash → near-dup
    * bucket. One explode + one keyed aggregation; pure integer
    * arithmetic per token — no per-row crypto (see [[Text.polyHash]]).
    */
  val simhashBits = 16
  private val simhashSalt = 1000 // constant-family offset vs minhash

  /** Width-parameterized simhash (bits ≤ 62 so the fingerprint stays a
    * positive long and band arithmetic is sign-free on both engines). */
  def simhashN(docs: DataFrame, textCol: Column, idCol: Column,
               bits: Int): DataFrame = {
    require(bits > 0 && bits <= 62, s"simhash width must be in 1..62, got $bits")
    val tok = docs.select(idCol.as("doc_id"), explode(Text.tokens(textCol)).as("t"))
      .withColumn("d", Text.polyHash(col("t")))
    val bitSums = (0 until bits).map { j =>
      val (a, b) = hashConsts(simhashSalt + j)
      sum(when((col("d") * lit(a) + lit(b)) % lit(P) % 2 === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val fp = (0 until bits).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  def simhash(docs: DataFrame, textCol: Column, idCol: Column): DataFrame =
    simhashN(docs, textCol, idCol, simhashBits)

  /** DuckDB mirror of [[simhashN]]'s bit expressions (over a column `d`
    * = polyHash of the token — generated from the same constants). */
  def simhashSqlN(bits: Int): (String, String) = {
    require(bits > 0 && bits <= 62, s"simhash width must be in 1..62, got $bits")
    val bitSums = (0 until bits).map { j =>
      val (a, b) = hashConsts(simhashSalt + j)
      s"SUM(CASE WHEN (d * $a + $b) % $P % 2 = 1 THEN 1 ELSE -1 END) AS b$j"
    }.mkString(", ")
    val fp = (0 until bits).map { j =>
      s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    (bitSums, fp)
  }

  def simhashSql(): (String, String) = simhashSqlN(simhashBits)

  /** SimHash near-duplicate PAIRS at corpus scale — the Manku/Jain/
    * Sarma web-dedup construction ("Detecting near-duplicates for web
    * crawling", WWW 2007): a `simhashPairBits`-bit fingerprint cut
    * into `simhashPairBands` bands; any pair within Hamming distance
    * `maxHamming` < bands leaves at least one band intact (pigeonhole),
    * so an equi-join on (band, band-value) finds every such pair
    * without an all-pairs product. Candidates are then verified with
    * an exact popcount of the XOR.
    *
    * Band buckets with more than `maxBucket` docs sharing 15 identical
    * bits (boilerplate clusters) are dropped before the self-join,
    * same rationale and trade as [[lshCandidates]]: exact dedup
    * already covers identical docs, and a hot bucket would go
    * quadratic. Cost: one fingerprint aggregation + a bucketed
    * self-join ∝ true near-dup density.
    */
  val simhashPairBits = 60
  val simhashPairBands = 4

  def simhashNearDups(docs: DataFrame, textCol: Column, idCol: Column,
                      maxHamming: Int = 3, maxBucket: Int = 100): DataFrame = {
    require(maxHamming < simhashPairBands, "pigeonhole needs hamming < bands")
    val bandW = simhashPairBits / simhashPairBands
    val fp = simhashN(docs, textCol, idCol, simhashPairBits)
    val banded = fp.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until simhashPairBands).map(b =>
        shiftright(col("simhash"), b * bandW) % lit(1L << bandW)): _*))
        .as(Seq("band", "bv")))
    cappedPairJoin(banded, Seq("band", "bv"), maxBucket, payload = Seq("simhash"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long")
          .as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Blocked n-gram-Jaccard dedup: candidates share a cheap blocking
    * key (first + last token, plus any caller-supplied columns) —
    * O(block²) only within small blocks — then exact bigram-Jaccard
    * verification. Blocks larger than `maxBlock` are dropped before
    * the self-join (same rationale as [[lshCandidates]]'s cap: a hot
    * key, e.g. boilerplate docs all starting and ending with the same
    * word, would otherwise go quadratic inside its block).
    */
  def blockedJaccard(docs: DataFrame, textCol: Column, idCol: Column,
                     blockCols: Seq[String], num: Int, den: Int,
                     maxBlock: Int = 200): DataFrame = {
    val base = docs.select(
      (Seq(idCol.as("doc_id"), Text.tokens(textCol).as("tk")) ++ blockCols.map(col)): _*)
    val keyed = base.select(col("doc_id"),
        struct((blockCols.map(col) ++ Seq(
          element_at(col("tk"), 1).as("_f"),
          element_at(col("tk"), -1).as("_l"))): _*).as("bk"))
      .withColumn("bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("bk"))))
      .where(col("bsz") <= maxBlock)
      .select(col("doc_id"), col("bk"))
    val cand = keyed.as("x").join(keyed.as("y"),
        col("x.bk") === col("y.bk") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    // Pin the bigram table once: the verify ([[jaccardVerify]] →
    // pairOverlap) reads it THREE times (both intersect-join sides +
    // the per-doc size counts), and each consumer's column pruning
    // pushes a different Project below the fork, so neither
    // ReuseExchange nor an explicit keyedFanout unifies the subtrees
    // (probed: the fanout form still ran the tokenize+explode scan
    // twice, 2 × ~3.3 s at the 50k-doc sf1 replica, and shuffled the
    // 2.5M-row shingle table twice on top). The eager checkpoint is
    // the same discipline as the minhash channel's memoized pinned
    // shingle table (and the "write the shingle table once, every
    // channel scans it" production shape at 100 TB); this channel's
    // bigrams are its own, so the pin lives inside the operator and
    // its cost is paid inside the query's own timed run.
    val sh = AnnCache.pin(Text.distinctShingles(docs, textCol, idCol, 2))
    jaccardVerify(cand, sh, num, den)
  }

  /** Edit-distance (Levenshtein) near-dup pairs — the record-linkage
    * dedup for texts that differ by character-level edits rather than
    * token swaps (typos, OCR noise, small insertions), which
    * shingle-Jaccard under-scores. Candidates share the (first, last)
    * token block (capped like [[blockedJaccard]]); the length-difference
    * lower bound |len(a)−len(b)| ≤ maxDist prunes pairs BEFORE the
    * quadratic-cost distance evaluates — at corpus scale the O(n·m)
    * Levenshtein runs only on length-compatible pairs inside small
    * blocks, cost ∝ near-dup density.
    */
  def editDistancePairs(docs: DataFrame, textCol: Column, idCol: Column,
                        maxDist: Int, maxBlock: Int = 200): DataFrame = {
    val base = docs.select(idCol.as("doc_id"),
        Text.normalized(textCol).as("norm"), Text.tokens(textCol).as("tk"))
      .where(size(col("tk")) >= 1)
      .select(col("doc_id"), col("norm"), length(col("norm")).as("len"),
        struct(element_at(col("tk"), 1).as("_f"),
          element_at(col("tk"), -1).as("_l")).as("bk"))
    val keyed = base
      .withColumn("bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("bk"))))
      .where(col("bsz") <= maxBlock)
    // The distance test lives INSIDE the join condition, after the
    // cheap guards: conjuncts evaluate in order, so a separate
    // post-join .where() gets pushed in FRONT of the id/length guards
    // and runs the quadratic kernel on every same-block hash match
    // (measured 24s vs 1.5s at sf0.1). The 3-arg levenshtein is the
    // banded O(maxDist·n) form with early exit (-1 = above threshold) —
    // at corpus scale the O(n·m) full matrix never runs at all.
    val banded = levenshtein(col("x.norm"), col("y.norm"), maxDist)
    keyed.as("x").join(keyed.as("y"),
        col("x.bk") === col("y.bk") && col("x.doc_id") < col("y.doc_id") &&
          abs(col("x.len") - col("y.len")) <= maxDist && banded >= 0)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        banded.cast("long").as("edit_dist"))
  }

  /** PPJoin-style PREFIX-FILTER near-dup pairs (Chaudhuri/Ganti/
    * Kaushik ICDE 2006; Xiao et al. WWW 2008) — the EXACT
    * candidate-generation alternative to MinHash-LSH on the SAME
    * measure (word-`shingleN`-shingle Jaccard ≥ num/den): no
    * probabilistic misses, same verify tail. Order every doc's
    * distinct shingles by a GLOBAL frequency order (rarest first) and
    * keep each doc's first n − ceil(num·n/den) + 1 as its prefix; two
    * qualifying sets MUST share a prefix element (pigeonhole — a pair
    * missing every prefix element cannot reach the threshold), so
    * candidates join on prefix shingles only. Sets are SHINGLES, not
    * tokens: token sets ignore order and collapse on a small
    * vocabulary (measured: 92 k "pairs" at J≥1/2 on this corpus's
    * token sets vs 25 on its 3-shingle sets — same fixture).
    *
    * Scale shape: the global order needs no global rank table — a
    * prefix only needs each doc's OWN elements ordered, i.e. one
    * shingle-keyed frequency join and a per-doc window sort. Prefixes
    * hold each doc's rarest shingles by construction, so join blocks
    * stay small WITHOUT a cap — which is why completeness carries no
    * bucket-cap caveat here, unlike [[lshCandidates]]. Verify is the
    * shared exact-Jaccard tail ([[jaccardVerify]]),
    * candidate-pairs-only cost; PrefixFilterSpec pins the output
    * equal to brute-force all-pairs.
    */
  /** Global rarest-first ranking scaffold shared by the prefix-filter
    * channels: each (doc_id, shingle) row with the shingle's global
    * frequency `f`, the doc's rarest-first rank `rn` ((f, shingle)
    * order — total, engine-exact), and the doc's set size `n`. The
    * construction is threshold-INDEPENDENT (one freq group-by, one
    * freq join, one doc-keyed window pass), so one ranked table
    * serves every prefix channel at any threshold — the cross-
    * operator memo shape, like the raw shingle table one level
    * below. */
  def rankShingles(sh: DataFrame): DataFrame = {
    val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("f"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("f"), col("shingle"))
    val nW = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    sh.join(freq, "shingle")
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(nW))
  }

  def prefixFilterPairs(docs: DataFrame, textCol: Column, idCol: Column,
                        shingleN: Int = 3, num: Int = 1, den: Int = 2,
                        shingles: Option[DataFrame] = None,
                        rankedShingles: Option[DataFrame] = None): DataFrame = {
    require(num > 0 && den >= num, s"threshold $num/$den not in (0,1]")
    // unlike the LSH channel (where ReuseExchange shares the banded
    // shuffle), the shingle table here feeds FIVE consumers behind
    // DIFFERENT shuffle keys (freq, both prefix-join sides, both
    // verify sides) — nothing reuses, so the tokenize+explode pipeline
    // re-runs per consumer unless materialized. The library does not
    // persist it (it must not leak a cache entry the caller has no
    // handle to unpersist): the registered query passes a pinned
    // `shingles` frame (the family-memo shape), and `rankedShingles`
    // additionally skips the freq/rank scaffold ([[rankShingles]] of
    // the same shingle set).
    val sh = shingles.getOrElse(
      Text.distinctShingles(docs, textCol, idCol, shingleN))
    val ranked = rankedShingles.getOrElse(rankShingles(sh))
    // L = n − ceil(num·n/den) + 1; ceil(a/b) = (a+b−1) div b, all
    // non-negative so truncating and flooring division agree
    val prefix = ranked
      .where(col("rn") <=
        col("n") - expr(s"(n * $num + ${den - 1}) div $den") + 1)
      .select(col("doc_id"), col("shingle"), col("rn"), col("n"))
    // PPJoin's two exact pruning rules on top of the AllPairs prefix
    // join (Xiao, Wang, Lin & Yu, "Efficient similarity joins for
    // near duplicate detection", WWW 2008):
    //  - LENGTH: J ≥ num/den forces den·|x| ≥ num·|y| both ways;
    //  - POSITION: J ≥ t needs overlap o ≥ α = ceil(num(nx+ny)/(num+den)),
    //    and at a matching prefix shingle every remaining common
    //    shingle sits in both suffixes (both docs rank shingles by the
    //    same global rarity order), so o ≤ 1 + min(nx−rnx, ny−rny).
    //    A qualifying pair always passes at its FIRST common shingle
    //    (where the k=1 bound is valid and ≥ o ≥ α), and distinct()
    //    needs only that one surviving row — so pruning later rows
    //    with the same bound is lossless while it kills dead pairs
    //    before they reach the distinct and the verify join.
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.shingle") === col("y.shingle") &&
        col("x.doc_id") < col("y.doc_id") &&
        col("x.n") * den >= col("y.n") * num &&
        col("y.n") * den >= col("x.n") * num &&
        lit(1) + least(col("x.n") - col("x.rn"), col("y.n") - col("y.rn")) >=
          expr(s"(${num} * (x.n + y.n) + ${num + den - 1}) div ${num + den}"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    jaccardVerify(cand, sh, num, den)
  }

  /** Embedding near-dup: sign-bucket LSH + exact integer-dot cosine
    * threshold num/den (cross-multiplied, no floats).
    */
  def embeddingNearDups(emb: DataFrame, vecCol: Column, idCol: Column,
                        bucketBits: Int, num: Int, den: Int,
                        dim: Int = 64): DataFrame = {
    val qdot = graft.functions.GraftFunctions.registerQDot(emb.sparkSession)
    val q = emb.select(idCol.as("vec_id"), vecCol.as("v"),
        Vectors.quantize(vecCol).as("qz"))
      .withColumn("n2", qdot(col("v"), col("v")))
      .withColumn("bucket", Vectors.signBucket(col("qz"), bucketBits, dim))
      .drop("qz")
    val dot = qdot(col("a.v"), col("b.v"))
    q.as("a").join(q.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        dot.as("dot"), col("a.n2").as("n2a"), col("b.n2").as("n2b"))
      // decimal(38,0): exact integer cross-multiplication without long
      // overflow (dot² alone can exceed 2^63 for high-norm vectors)
      .where(col("dot") > 0 &&
        lit(den.toLong * den).cast("decimal(38,0)") *
          col("dot").cast("decimal(38,0)") * col("dot").cast("decimal(38,0)") >=
        lit(num.toLong * num).cast("decimal(38,0)") *
          col("n2a").cast("decimal(38,0)") * col("n2b").cast("decimal(38,0)"))
      .select(col("vec_a"), col("vec_b"), col("dot"))
  }
}
