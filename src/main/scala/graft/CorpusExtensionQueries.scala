package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.{ApplyChanges, Fixtures, Routing}
import graft.ops.{Dedup, Multimodal, Sessionize, Similarity, Text, Vectors}

/** Extension queries — corpus assembly, packing, mixing, and train/val/test splits.
  * Builders + their DuckDB oracle mirrors for this family; shared
  * fragments come from [[ExtensionQueriesBase]]. Registered into the
  * single public registry by [[ExtensionQueries]].
  */
private[graft] trait CorpusExtensionQueries extends ExtensionQueriesBase {
  /** Source-balancing repetition factors — the data-mixing step before
    * packing: per source, token mass and the integer upsampling factor
    * epochs_x100 = ceil(100·max_tokens / tokens), capped at 4 epochs
    * (beyond ~4 repeats, repetition stops buying quality — Muennighoff
    * et al., "Scaling data-constrained language models", 2023). Exact
    * integer arithmetic end to end; the corpus-wide max joins back as a
    * broadcast 1-row aggregate, so the whole plan is one keyed shuffle
    * of per-source partials at any corpus size.
    */
  private def qCorpusMixtureEpochs(s: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(Text.tokens(col("text"))).cast("long")).as("n_tokens"))
    val mx = perSource.agg(max(col("n_tokens")).as("max_tokens"))
    perSource.crossJoin(broadcast(mx))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        least(expr("(100 * max_tokens + n_tokens - 1) div n_tokens"),
          lit(400L)).as("epochs_x100"))
      .orderBy("source")
  }

  /** Capstone composition — the realistic corpus-cleaning pass a
    * training-data pipeline runs end to end: quality gate (drop short /
    * stopword-heavy docs) → exact dedup (canonical min-id survivor per
    * fingerprint) → MinHash-LSH near-dup removal (drop the non-canonical
    * side of every verified J≥0.5 pair) → token counts for the clean
    * corpus. Every stage is one of the already-oracle-checked operators;
    * this query gates their composition.
    */
  /** Dedup-funnel readout — the per-stage attrition table a corpus
    * datacard publishes: raw → exact dedup (md5-of-normal-form
    * first-writer-wins) → near-dup dedup (MinHash-verified component
    * minima), with docs in / dropped / out at each stage. Exact-dup
    * groups are subsets of near-dup components, so every component
    * minimum survives the exact stage and the stages compose without
    * a re-canonicalization pass (the property that makes staged dedup
    * safe to pipeline at all).
    *
    * Scale shape: two cheap projected scans of documents (fingerprint
    * fold, survivor count) plus the memoized component labels the
    * cluster queries already share; the three counts ride 1-row
    * broadcast frames into a literal 3-row explode. Oracle recomputes
    * the near-dup fixpoint with the exact recursive closure.
    */
  private def qCorpusDedupFunnel(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
    val keepers = docs.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    val comp = dedupComponents(s, dir)
    val nearKeep = keepers.join(comp, keepers("doc_id") === comp("id"), "left")
      .where(col("id").isNull || col("comp") === keepers("doc_id"))
    val c0 = docs.agg(count(lit(1)).as("n_raw"))
    val c1 = keepers.agg(count(lit(1)).as("n_exact"))
    val c2 = nearKeep.agg(count(lit(1)).as("n_near"))
    c0.crossJoin(broadcast(c1)).crossJoin(broadcast(c2))
      .select(explode(array(
        struct(lit(1L).as("stage_ord"), lit("raw").as("stage"),
          col("n_raw").as("n_in"), lit(0L).as("n_dropped"),
          col("n_raw").as("n_out")),
        struct(lit(2L).as("stage_ord"), lit("exact_dedup").as("stage"),
          col("n_raw").as("n_in"),
          (col("n_raw") - col("n_exact")).as("n_dropped"),
          col("n_exact").as("n_out")),
        struct(lit(3L).as("stage_ord"), lit("near_dedup").as("stage"),
          col("n_exact").as("n_in"),
          (col("n_exact") - col("n_near")).as("n_dropped"),
          col("n_near").as("n_out")))).as("r"))
      .select(col("r.stage_ord").as("stage_ord"), col("r.stage").as("stage"),
        col("r.n_in").as("n_in"), col("r.n_dropped").as("n_dropped"),
        col("r.n_out").as("n_out"))
      .orderBy("stage_ord")
  }

  /** Dedup SAVINGS by source — the funnel's cost readout: per source,
    * how many docs (and how many characters) the combined exact+near
    * dedup decision removes, and the byte-savings share in bp. The
    * survivor rule is the funnel's verbatim (exact min-fp winner that
    * is also its own near-dup component rep or untouched by any
    * component), so the three dedup readouts — funnel stages, pair
    * attribution, per-source savings — can never disagree.
    *
    * Scale shape: rides the memoized component labels; one fp-keyed
    * aggregate for exact winners, one survivor join, one source fold.
    */
  private def qCorpusDedupSavings(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        Text.fingerprint(col("text")).as("fp"))
    val keepers = docs.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val comp = dedupComponents(s, dir)
    val survivors = keepers.join(comp, keepers("doc_id") === comp("id"), "left")
      .where(col("id").isNull || col("comp") === keepers("doc_id"))
      .select(keepers("doc_id"), lit(1L).as("kept"))
    docs.join(survivors, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept").isNull, 1L).otherwise(0L)).as("n_dropped"),
        sum(col("n_chars")).as("chars_total"),
        sum(when(col("kept").isNull, col("n_chars")).otherwise(0L))
          .as("chars_dropped"))
      .withColumn("savings_bp",
        expr("(10000 * chars_dropped) div greatest(chars_total, 1)"))
      .orderBy("source")
  }

  private def qCorpusClean(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val quality = docs.select(col("doc_id"), col("text"))
      .where(!Text.isLowQuality(col("text")))
    val keep = quality.select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    // The cleaned base feeds five consumers (the shingle pipeline's
    // four + the final anti-join): without materialization, each one
    // re-runs the scan → quality gate → fingerprint-groupBy → join
    // chain (measured 9.5s vs 3.5s warm at sf0.1). At 100 TB the
    // equivalent move is writing the cleaned corpus out once between
    // stages. Memoized through AnnCache (like the shared shingle/
    // component frames) rather than a per-call persist: a per-call
    // persist left one orphan cache copy per execution in a shared
    // session — the bench's min-of-3 accumulated three, and the heap
    // churn showed up as +70% executor-seconds on an unchanged plan
    // (r17 adjudication). The memo pins ONE copy per (session, dir).
    val base = graft.ops.AnnCache.memo(s, s"corpus_clean:base:$dir") {
      graft.ops.AnnCache.pin(quality.join(keep, "doc_id"))
    }
    val dupIds = graft.ops.AnnCache.memo(s, s"corpus_clean:dups:$dir") {
      graft.ops.AnnCache.pin(
        Dedup.minhashNearDups(base, col("text"), col("doc_id"))
          .select(col("doc_b").as("doc_id")).distinct())
    }
    base.join(dupIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
      .orderBy("doc_id")
  }

  /** Hash-ring NEGATIVE SAMPLING — the contrastive-training primitive
    * (k non-matching docs per anchor) without an n×k random join or
    * any driver randomness: docs order on a deterministic hash ring
    * (rank = [[graft.ops.Linkage.globalRank]] over (hash(doc_id),
    * doc_id) — the distributed two-pass ranking, NO single-partition
    * global window), and each anchor pairs with the k next ring
    * positions, wrapping. Hash-ordering makes ring neighbors
    * content-uncorrelated (the property negatives need), the ring
    * guarantees every doc serves as a negative exactly k times (no
    * hub oversampling), and everything after the rank is one keyed
    * join. Anchor count n and shift arithmetic stay non-negative
    * integers, so both engines agree exactly.
    */
  private def qCorpusNegativeSamples(s: SparkSession, dir: String): DataFrame = {
    val K = 3
    val ranked = graft.ops.Linkage.globalRank(
        Tables.documents(s, dir).select(col("doc_id"))
          .withColumn("h", graft.ops.Sampling.hashVal(col("doc_id"))),
        col("h"), col("doc_id"))
      .select(col("doc_id"), col("rank"))
    val tot = ranked.agg(max(col("rank")).as("n"))
    ranked.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("rank"), col("n"),
        explode(expr(s"sequence(1, $K)")).as("j"))
      .withColumn("nrank", expr("(rank + j - 1) % n + 1"))
      .join(ranked.select(col("rank").as("nrank"),
        col("doc_id").as("neg_doc_id")), "nrank")
      .where(col("doc_id") =!= col("neg_doc_id"))
      .select(col("doc_id"), col("j").cast("long").as("j"), col("neg_doc_id"))
      .orderBy("doc_id", "j")
  }

  /** Deterministic train/val/test split (90/5/5 by id-hash basis
    * points) with per-split-per-language corpus stats — the
    * reproducible-split primitive every training pipeline needs; the
    * oracle recomputes the identical assignment from the same
    * constants. */
  private def qCorpusSplit(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("split", graft.ops.Sampling.assignSplit(col("doc_id")))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(Text.tokens(col("text"))).cast("long")).as("n_tokens"))
      .orderBy("split", "lang")

  /** Decontamination check: near-duplicate pairs (MinHash-LSH, J≥0.5)
    * whose two documents land in DIFFERENT train/val/test splits (the
    * [[Sampling.assignSplit]] assignment) — i.e. eval-set leakage. A
    * training pipeline runs exactly this before shipping a split. */
  private def qSplitContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = dedupPairs(s, dir)
    val splits = docs.select(col("doc_id"),
      graft.ops.Sampling.assignSplit(col("doc_id")).as("split"))
    pairs
      .join(splits.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(splits.as("sb"), col("doc_b") === col("sb.doc_id"))
      .where(col("sa.split") =!= col("sb.split"))
      .select(col("doc_a"), col("doc_b"),
        col("sa.split").as("split_a"), col("sb.split").as("split_b"))
      .orderBy("doc_a", "doc_b")
  }

  /** EMBEDDING-channel contamination — the fourth screen in the
    * decontamination quartet (shingle near-dup, verbatim n-gram,
    * Bloom, and now semantic): near-duplicate embedding pairs
    * (sign-bucket LSH + exact integer-dot cosine ≥ 0.4 — the
    * dedup_embedding_cos channel verbatim) grouped by the split pair
    * they straddle. A same-split pair is benign redundancy; a
    * cross-split pair (`leaked`) is semantic eval leakage that
    * token-level screens cannot see (a paraphrase shares no
    * shingles). Splits assign by the same deterministic id hash as
    * the document splits.
    *
    * Scale shape: bucket-keyed self-join (occupancy-scaled LSH bits),
    * never all-pairs; the split map is a projection of the scan; one
    * (split_a, split_b) aggregate at the end.
    */
  private def qSplitEmbeddingContamination(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val pairs = Dedup.embeddingNearDups(emb, col("embedding"), col("vec_id"),
      bucketBits = embeddingLshBits(emb.count()), num = 40, den = 100)
    val sp = emb.select(col("vec_id"),
      graft.ops.Sampling.assignSplit(col("vec_id")).as("split"))
    pairs
      .join(sp.select(col("vec_id").as("vec_a"), col("split").as("sa")), "vec_a")
      .join(sp.select(col("vec_id").as("vec_b"), col("split").as("sb")), "vec_b")
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaked", col("split_a") =!= col("split_b"))
      .orderBy("split_a", "split_b")
  }

  /** Bloom-filter contamination screen ([[graft.ops.Bloom]]): the test
    * split's content hashes build a 4096-bit filter (ONE bounded
    * aggregation over the SMALL split, ≤128 words collected), and every
    * train doc probes it as a scan-stage expression against the inlined
    * word array — at 100 TB the exact anti-join shuffles every train
    * fingerprint, while this probe never shuffles the corpus at all.
    * The output is the exact confusion table of the sketch against the
    * exact join (bloom_hit × actually-contaminated): false positives
    * are the sketch's documented price, and a (false, true) row can
    * never appear — Bloom filters have no false negatives, so "clean"
    * verdicts are definitive and only flagged docs need the exact
    * recheck. Both engines run the same integer double-hashing, so the
    * table is oracle-exact, FP rows included.
    */
  private def qSplitBloomContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"),
      graft.ops.Text.rollingHash(col("text")).as("h"),
      graft.ops.Sampling.assignSplit(col("doc_id")).as("split"))
    val test = docs.where(col("split") === "test").select(col("h"))
    val words = graft.ops.Bloom.filterWords(graft.ops.Bloom.build(test, col("h")))
    val testKeys = test.distinct().withColumnRenamed("h", "th")
    docs.where(col("split") === "train")
      .withColumn("bloom_hit", graft.ops.Bloom.hitExpr(col("h"), words))
      .join(broadcast(testKeys), col("h") === col("th"), "left")
      .groupBy(col("bloom_hit"), col("th").isNotNull.as("actual"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bloom_hit", "actual")
  }

  /** Token-budget recipe sampler — the Dolma/RedPajama "data recipe"
    * operator: each source contributes documents up to a fixed token
    * budget, selected as the PREFIX of the source's deterministic
    * hash-priority order (cumulative tokens ≤ budget; the running sum
    * is monotone along the order, so the filter IS a prefix — no
    * driver-side greedy loop). One source-keyed window shuffle, the
    * sanctioned per-group shape (the window never sees more than one
    * source's docs per task); emits each selected doc with its rank
    * and running total so downstream mixtures consume the selection
    * directly.
    */
  private def qCorpusTokenBudget(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 20000L
    val w = Window.partitionBy(col("source"))
      .orderBy(graft.ops.Sampling.bucket(col("doc_id")).asc, col("doc_id").asc)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(Text.tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cum_tokens",
        sum(col("n_tok")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .where(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("source"), col("rk"), col("n_tok"),
        col("cum_tokens"))
      .orderBy("doc_id")
  }

  /** Overlapping retrieval chunking — the RAG indexing shape (32-token
    * windows, stride 16, 50% overlap, the LangChain/LlamaIndex default
    * family): each doc yields ⌈(n−W)/S⌉+1 windows, the final window
    * clamped to the doc end, emitted as (chunk_idx, start_tok, n_tok,
    * chunk_md5) — the md5 stands in for the chunk payload so the gate
    * pins identity without hauling text. Pure scan-stage
    * sequence+slice+posexplode like the chunk-dedup splitter; zero
    * shuffles before the output sort.
    */
  private def qCorpusRagChunks(s: SparkSession, dir: String): DataFrame = {
    val W = 32; val S = 16
    Tables.documents(s, dir)
      .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
      .where(size(col("tk")) >= 1)
      .withColumn("nc", expr(
        s"CASE WHEN size(tk) <= $W THEN 0 ELSE (size(tk) - $W + ${S - 1}) div $S END"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), col("nc")), i =>
          struct((i * S + 1).as("start_tok"),
            least(size(col("tk")) - i * S, lit(W)).as("n_tok"),
            md5(array_join(slice(col("tk"), i * S + lit(1), lit(W)), " "))
              .as("chunk_md5")))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col.start_tok").cast("long").as("start_tok"),
        col("col.n_tok").cast("long").as("n_tok"),
        col("col.chunk_md5").as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Leakage-safe split assignment — the decontamination-CORRECT
    * split: every doc gets the split of its near-dup CLUSTER
    * representative (min id in the pair-graph component; singletons
    * represent themselves), so a near-dup pair can never straddle
    * train/test — the failure mode `split_contamination` exists to
    * MEASURE becomes impossible by construction (the doc-level hash
    * split treats near-identical docs as independent coins; cluster-
    * level assignment is the fix GPT-3/PaLM-style decontamination
    * approximates after the fact by deleting eval look-alikes).
    * Rides the memoized pair graph + components; one left join plus
    * the same scan-stage id-hash split as corpus_split, keyed on the
    * representative. */
  private def qCorpusLeakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val comp = dedupComponents(s, dir)
    Tables.documents(s, dir).select(col("doc_id"))
      .join(comp, col("doc_id") === comp("id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("rep_doc_id"))
      .withColumn("split", graft.ops.Sampling.assignSplit(col("rep_doc_id")))
      .orderBy("doc_id")
  }

  private def qCorpusStratified(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .where(graft.ops.Sampling.stratifiedSample(col("doc_id"), col("lang"), strataRates))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(Text.tokens(col("text"))).cast("long")).as("n_tokens"))
      .orderBy("lang")

  /** Per-source document cap (the Common-Crawl-style "no domain may
    * dominate the corpus" downsampler): each source keeps at most 30
    * docs, selected by the deterministic id-hash so the kept subsample
    * is uniform, stable under re-runs/repartitioning/corpus growth,
    * and SQL-mirrorable. WindowGroupLimit pre-reduces each map task to
    * its local top-30 per source before the shuffle (PlanSpec pins
    * it) — shuffle volume ∝ sources × cap at any corpus size. */
  private def qCorpusSourceCap(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.capPerGroup(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        col("source"), col("doc_id"), cap = 30)
      .select(col("doc_id"), col("source"), col("rk"))
      .orderBy("doc_id")

  /** Quality-tiered mixture sampling — the curation step that keeps
    * high-quality text at full rate and down-weights the rest instead
    * of hard-dropping it (low tier keeps 10%, mid 50%, high 100%).
    * Tiering reuses the corpus_clean quality gate; the keep decision
    * is the deterministic id-hash stratified sample, so the mixture is
    * reproducible and SQL-mirrorable. Pure scan-stage arithmetic: zero
    * shuffles before the 3-group aggregate. */
  private def qCorpusQualityMixture(s: SparkSession, dir: String): DataFrame = {
    val nTok = size(Text.tokens(col("text"))).cast("long")
    val tier = when(Text.isLowQuality(col("text")), "low")
      .when(nTok >= 60, "high").otherwise("mid")
    val rates = Map("high" -> 10000, "mid" -> 5000, "low" -> 1000)
    Tables.documents(s, dir)
      .select(col("doc_id"), nTok.as("n_tokens"), tier.as("tier"))
      .withColumn("kept",
        graft.ops.Sampling.stratifiedSample(col("doc_id"), col("tier"), rates))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_tokens")).otherwise(0L)).as("kept_tokens"))
      .orderBy("tier")
  }

  /** Concat-and-chunk sequence packing into 2048-token context windows,
    * sharded by language; per-pack doc/token/straddler counts. */
  private def qCorpusPack(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
      size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
    graft.ops.Pack.packStats(docs, col("lang"), col("doc_id"), col("n_tokens"),
        budget = 2048L)
      .select(col("grp").as("lang"), col("pack_id"), col("n_docs"),
        col("n_tokens"), col("n_straddling"))
      .orderBy("lang", "pack_id")
  }

  /** FOLDED-PAIR context packing — the other packing discipline next
    * to `corpus_pack`'s concat-and-chunk: docs rank by (tokens desc,
    * id) on the distributed [[graft.ops.Linkage.globalRank]], and
    * rank i pairs with rank n+1−i — the classic fold that puts the
    * longest doc with the shortest (near-optimal for 2-per-bin
    * packing, and unlike first-fit-decreasing it is ORDER-FREE:
    * deterministic, engine-exact, one keyed join, no sequential bin
    * state anywhere). Emits per pair the two docs, combined tokens,
    * whether the 2048 window holds them, and the fill rate — the
    * padding-waste audit a training-data pipeline runs before
    * committing to a packing recipe. Odd corpus → the middle rank
    * pairs with itself (doc_b null, its own tokens).
    */
  private def qCorpusFoldedPacking(s: SparkSession, dir: String): DataFrame = {
    val ranked = graft.ops.Linkage.globalRank(
        Tables.documents(s, dir)
          .select(col("doc_id"),
            size(Text.tokens(col("text"))).cast("long").as("n_tok")),
        col("n_tok").desc, col("doc_id"))
      .select(col("doc_id"), col("n_tok"), col("rank"))
    val tot = ranked.agg(max(col("rank")).as("n"))
    val lo = ranked.crossJoin(broadcast(tot))
      .where(col("rank") * 2 <= col("n") + 1)
      .select(col("rank").as("pair_id"), col("doc_id").as("doc_a"),
        col("n_tok").as("tok_a"), (col("n") + 1 - col("rank")).as("prank"))
    val hi = ranked.select(col("rank").as("prank"),
      col("doc_id").as("doc_b"), col("n_tok").as("tok_b"))
    lo.join(hi, Seq("prank"))
      .select(col("pair_id"), col("doc_a"),
        when(col("doc_b") =!= col("doc_a"), col("doc_b")).as("doc_b"),
        (col("tok_a") + when(col("doc_b") =!= col("doc_a"), col("tok_b"))
          .otherwise(0L)).as("pair_tokens"))
      .withColumn("fits", (col("pair_tokens") <= 2048L).cast("long"))
      .withColumn("fill_bp",
        expr("least(10000L, (10000 * pair_tokens) div 2048)"))
      .orderBy("pair_id")
  }

  /** Exact n-gram decontamination (the GPT-3 appendix-C method: flag
    * eval documents sharing a verbatim n-gram with train): per val/test
    * doc, how many of its distinct 5-gram shingles also occur in any
    * train doc. Complements [[qSplitContamination]] (near-dup leakage)
    * with verbatim-overlap leakage. One shingle-keyed semi-join — at
    * corpus scale the train shingle set stays distributed (never
    * broadcast/collected); a bloom filter on train shingles is the
    * cheaper pre-filter when eval ≪ train. */
  private def qSplitNgramLeakage(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // split is a pure function of doc_id — derived in place (no second
    // docs scan, no join), and the shingle frame is pinned because
    // THREE consumers read it (train set, leak semi-join, eval totals):
    // unpinned, each re-ran the 5-gram explode over the corpus
    // (r19 sweep: 6 scans -> 0)
    val sh = Text.distinctShingles(docs, col("text"), col("doc_id"), 5)
      .withColumn("split", graft.ops.Sampling.assignSplit(col("doc_id")))
      .transform(graft.ops.AnnCache.pin)
    val trainSh = sh.where(col("split") === "train").select("shingle").distinct()
    val evalSh = sh.where(col("split") =!= "train")
    val leaked = evalSh.join(trainSh, Seq("shingle"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_leaked"))
    evalSh.groupBy(col("doc_id"), col("split")).agg(count(lit(1)).as("n_shingles"))
      .join(leaked, Seq("doc_id"), "left").na.fill(0L, Seq("n_leaked"))
      .withColumn("leak_bp", expr("(10000 * n_leaked) div n_shingles"))
      .select(col("doc_id"), col("split"), col("n_shingles"), col("n_leaked"),
        col("leak_bp"))
      .orderBy("doc_id")
  }

  /** Per-document n-gram novelty versus the train split: the fraction
    * of an eval doc's distinct bigrams never seen in ANY train doc —
    * the novelty/memorization-risk mirror of split_ngram_leakage
    * (which gates the verbatim 5-gram channel). The train shingle set
    * stays distributed: candidates anti-join it on the shingle key —
    * a real corpus vocabulary never broadcasts or collects. */
  private def qSplitNgramNovelty(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // same shape as split_ngram_leakage: split derived in place, the
    // bigram frame pinned for its three consumers (r19 sweep: 6 -> 0)
    val sh = Text.distinctShingles(docs, col("text"), col("doc_id"), 2)
      .withColumn("split", graft.ops.Sampling.assignSplit(col("doc_id")))
      .transform(graft.ops.AnnCache.pin)
    val trainSh = sh.where(col("split") === "train").select("shingle").distinct()
    val evalSh = sh.where(col("split") =!= "train")
    val novel = evalSh.join(trainSh, Seq("shingle"), "left_anti")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    evalSh.groupBy(col("doc_id"), col("split")).agg(count(lit(1)).as("n_bigrams"))
      .join(novel, Seq("doc_id"), "left").na.fill(0L, Seq("n_novel"))
      .withColumn("novelty_bp", expr("(10000 * n_novel) div n_bigrams"))
      .select(col("doc_id"), col("split"), col("n_bigrams"), col("n_novel"),
        col("novelty_bp"))
      .orderBy("doc_id")
  }

  /** Incremental ingestion dedup ([[Dedup.incrementalExact]]): the
    * historical half of the corpus is the fingerprint store; the new
    * batch anti-joins it and first-writer-wins within itself. The
    * fixture has no natural exact dups (dedup_exact: every group is a
    * singleton), so the batch re-submits 50 historical docs (crawler
    * re-fetch — must be dropped by the store anti-join) and 50 of its
    * own docs under new ids (intra-batch dup — must lose first-writer-
    * wins), making both drop paths load-bearing. The oracle recomputes
    * both steps directly — NOT IN store + rn=1 — pinning that
    * batch-incremental dedup equals what a full rededup would keep. */
  private def qCorpusIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val seen = Dedup.exactGroups(docs.where(col("doc_id") < 250),
      col("text"), col("doc_id")).select(col("fingerprint"))
    val batch = docs.where(col("doc_id") >= 250)
      .unionByName(docs.where(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 100000L))
      .unionByName(docs.where(col("doc_id") >= 250 && col("doc_id") < 300)
        .withColumn("doc_id", col("doc_id") + 200000L))
      .select(col("doc_id"), col("source"), col("text"))
    Dedup.incrementalExact(batch, seen, col("text"), col("doc_id"))
      .select(col("doc_id"), col("source"), col("fingerprint"))
      .orderBy("doc_id")
  }

  /** Per-source weighted sample without replacement: each source keeps
    * its 10 smallest [[graft.ops.Sampling.weightedPriority]] docs,
    * biased toward longer documents (weight = n_chars) — the
    * quality/length-weighted curation sampler. Integer-exact
    * Efraimidis–Spirakis-style priority race (see Sampling scaladoc);
    * WindowGroupLimit pre-reduces map-side like corpus_source_cap. */
  private def qCorpusWeightedSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.weightedCapPerGroup(
        Tables.documents(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        col("source"), col("doc_id"), col("n_chars"), cap = 10)
      .select(col("doc_id"), col("source"), col("rk"))
      .orderBy("doc_id")

  /** The canonical ending of the near-dup pipeline: every MinHash-LSH
    * cluster keeps exactly ONE member — the highest-quality one
    * (longest text, tie → lowest id) — and every singleton keeps
    * itself. Composes the oracle-exact cluster labeling with a
    * per-cluster argmax; the extra cost over dedup_clusters is one
    * keyed window on the (small) clustered subset plus an anti-join
    * for the singleton majority, which broadcasts the cluster
    * membership (near-dups are a small fraction of any real corpus).
    * The pair graph + labels come from the [[dedupComponents]] memo —
    * the ending consumes the SAME materialized cluster artifact the
    * rest of the family reads, not a private recomputation. */
  private def qCorpusDedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    val comp = dedupComponents(s, dir)
    val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    val best = comp.join(sizes, "comp")
      .join(docs, col("id") === col("doc_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("comp")).orderBy(col("n_chars").desc, col("doc_id").asc)))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("cluster_size"))
    val singles = docs.join(comp, docs("doc_id") === comp("id"), "left_anti")
      .select(col("doc_id"), lit(1L).as("cluster_size"))
    best.unionByName(singles).orderBy("doc_id")
  }

  /** LENGTH-WARMUP CURRICULUM ORDER — the training-order assembly
    * step (sequence-length warmup: Li et al., "The Stability-
    * Efficiency Dilemma", 2022): short documents first, so early
    * optimizer steps see short sequences. Docs that fail the shared
    * quality gate ([[graft.ops.Text.isLowQuality]] — the same
    * predicate corpus_clean filters on) never enter the curriculum;
    * survivors bucket into length tiers (50 tokens per tier, capped
    * at tier 9), and WITHIN a tier the order is the deterministic
    * id-hash shuffle (decorrelates source/crawl order — adjacent ids
    * are usually the same crawl slice, and a curriculum that feeds a
    * model one source at a time destabilizes training). The global
    * 1-based rank is [[graft.ops.Linkage.globalRank]]'s exact
    * two-pass ranking — range exchange + partition-local row_number +
    * broadcast offsets, never a single-partition window.
    *
    * Scale shape: one scan computes gate + tier + hash; the rank is
    * the two-pass primitive (the only global window is the
    * |partitions|-row offsets fold). No join on data, no collect.
    */
  private def qCorpusCurriculumOrder(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .where(!graft.ops.Text.isLowQuality(col("text")))
      .select(col("doc_id"),
        size(graft.ops.Text.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("tier", expr("least(n_tokens div 50, 9L)"))
      .withColumn("h", graft.ops.Sampling.hashVal(col("doc_id")))
    graft.ops.Linkage.globalRank(base, col("tier"), col("h"), col("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("tier"), col("rank"))
      .orderBy("doc_id")
  }

  /** Survivorship merge / GOLDEN RECORD (the master-data-management
    * ending of the dedup family; survivorship rules per Talburt,
    * "Entity Resolution and Information Quality", 2011): one
    * canonical row per near-dup cluster, each attribute elected by
    * its own rule — representative id = min doc_id, best length =
    * max n_chars (the keep-best rule), lang and source = cluster MODE
    * (count-desc, value-asc tie-break). Singletons are their own
    * cluster, so the output is a full deduplicated master table, not
    * just the clustered slice. The oracle re-elects every attribute
    * from the recursive-CTE component labels.
    *
    * Scale shape: rides the memoized component labels (the expensive
    * artifact, built once per session); everything downstream is
    * cluster-keyed group-bys — the two mode elections aggregate
    * (cluster, value) then take a rank-1 window INSIDE cluster
    * partitions, and the three result frames join on the cluster key.
    * No global window, no driver loop. */
  private def qCorpusGoldenRecord(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val comp = dedupComponents(s, dir)
    val lab = docs.join(comp, docs("doc_id") === comp("id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("cluster"),
        col("lang"), col("source"), col("n_chars"))
      // feeds the base aggregate + two mode elections — three
      // consumers of one left join; pin it (family discipline)
      .transform(graft.ops.AnnCache.pin)
    val base = lab.groupBy(col("cluster")).agg(
      count(lit(1)).as("n_members"),
      min(col("doc_id")).as("rep_doc_id"),
      max(col("n_chars")).as("best_n_chars"))
    def mode(attr: String, out: String): DataFrame = {
      // explicit NULLS LAST: Spark sorts NULLS FIRST ascending, DuckDB
      // NULLS LAST — on a NULL-bearing attribute the default placements
      // would elect different canonical values engine-to-engine
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("cnt").desc, col(attr).asc_nulls_last)
      lab.groupBy(col("cluster"), col(attr))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("cluster"), col(attr).as(out))
    }
    base.join(mode("lang", "canon_lang"), "cluster")
      .join(mode("source", "canon_source"), "cluster")
      .select(col("cluster"), col("rep_doc_id"), col("n_members"),
        col("best_n_chars"), col("canon_lang"), col("canon_source"))
      .orderBy("cluster")
  }

  /** Deterministic proportional interleave — the training-ORDER
    * primitive the mixture ops stop short of: each source's docs are
    * ranked by the id-hash (shuffle-stable) and spread evenly across
    * one epoch via the integer key `((r−1)·T) div n_s`, so a source
    * with 10% of the corpus occupies every ~10th slot instead of
    * arriving in a block. Emitting the KEY (not a global row_number)
    * keeps the operator shuffle-light: one source-keyed exchange
    * shared by both windows, no single-partition global sort — the
    * consumer range-sorts by ord_key only when it actually writes the
    * epoch. Reproducible across runs/partitionings/engines (integer
    * arithmetic + hash rank). */
  private def qCorpusInterleave(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val bySrc = Window.partitionBy(col("source"))
    val tot = docs.agg(count(lit(1)).as("t"))
    docs
      .withColumn("r", row_number().over(
        bySrc.orderBy(graft.ops.Sampling.bucket(col("doc_id")).asc,
          col("doc_id").asc)).cast("long"))
      .withColumn("n_s", count(lit(1)).over(bySrc).cast("long"))
      .crossJoin(broadcast(tot))
      // (r−1)·T rides DECIMAL(38,0): the product crosses 2^63 once the
      // corpus passes ~3·10^9 docs (T² growth); the key itself is < T,
      // so it lands back in BIGINT
      .select(col("doc_id"), col("source"), col("r"),
        expr("CAST((CAST(r - 1 AS DECIMAL(38,0)) * t) div n_s AS BIGINT)")
          .as("ord_key"))
      .orderBy("doc_id")
  }

  /** C4-style sub-document dedup (Raffel et al., JMLR 2020 dedup every
    * three-sentence span; RefinedWeb dedups lines): each doc splits
    * into consecutive 16-token chunks, every chunk occurrence after
    * the corpus-wide first (by (doc_id, pos)) is marked a duplicate,
    * and the query emits per-doc retention stats — the REMOVAL
    * operator that document-level near-dup detection stops short of
    * (a boilerplate header repeated across 10⁶ docs never makes the
    * docs near-dups, but every copy after the first is noise).
    * Winner selection is a group-by min over the chunk key, NOT a
    * row_number window: partial aggregation collapses a hot chunk
    * (the 100 TB boilerplate case) map-side, where a window would
    * drag every occurrence of the hot key into one task. The
    * (doc_id, pos) pair rides one BIGINT (pos < 2²⁰ — docs beyond 16M
    * tokens would need a wider packing) so MIN stays a single-column
    * aggregate in both engines. Two chunk-keyed shuffles (winner agg +
    * join back) co-partition; the per-doc rollup is the third, keyed
    * by doc.
    */
  private def qCorpusChunkDedup(s: SparkSession, dir: String): DataFrame = {
    val chunks = Dedup.tokenChunks(Tables.documents(s, dir), col("text"), col("doc_id"))
    val winners = chunks.groupBy("chunk").agg(min(col("k")).as("wk"))
    chunks.join(winners, "chunk")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("k") === col("wk"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("n_dup", col("n_chunks") - col("n_kept"))
      .orderBy("doc_id")
  }

  /** DSIR-flavored importance resampling (Xie et al., NeurIPS 2023:
    * Data Selection via Importance Resampling, hashed n-gram
    * features): score every doc by how target-like its token
    * distribution is, where the target is the `lang = 'en'` slice.
    * Training pass: token occurrences hash into 64 buckets (the
    * feature-hashing trick, same `poly_hash` as the classifier) and
    * one 64-key group-by yields raw and target counts; the per-bucket
    * importance ratio w_b = 10⁶·P_target(b)/P_raw(b) =
    * (10⁶·tb·Tr) div (rb·Tt) is computed driver-side in BigInt (the
    * 64-row collect is bounded model metadata, the same pattern as
    * k-means centroids and PQ codebooks). Serving pass: the 64
    * weights ride the plan as a literal array and each doc's score —
    * the MEAN token importance ratio (DSIR's per-token log-ratio sum,
    * made integer-exact as a scaled ratio mean) — is one aggregate()
    * HOF over its token array: a pure scan-stage projection, zero
    * shuffles over the corpus at any scale. keep = score ≥ 10⁶ (doc
    * looks at least corpus-average target-like).
    */
  private def qCorpusImportanceResample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tok = docs
      .select(col("lang"), explode(Text.tokens(col("text"))).as("w"))
      .select(col("lang"), (Text.polyHash(col("w")) % 64).as("b"))
    val bk = tok.groupBy("b").agg(count(lit(1)).as("rb"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tb")).collect()
    val tr = bk.map(_.getAs[Long]("rb")).sum
    val tt = bk.map(_.getAs[Long]("tb")).sum
    val w = Array.fill(64)(0L)
    bk.foreach { r =>
      val (b, rb, tb) =
        (r.getAs[Long]("b").toInt, r.getAs[Long]("rb"), r.getAs[Long]("tb"))
      if (tb > 0 && tt > 0)
        w(b) = ((BigInt(1000000) * tb * tr) / (BigInt(rb) * tt)).toLong
    }
    val wLit = array(w.map(lit).toIndexedSeq: _*)
    docs.select(col("doc_id"), col("lang"), Text.tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("lang"), size(col("tk")).cast("long").as("n_tokens"),
        aggregate(col("tk"), lit(0L), (acc, x) =>
          acc + element_at(wLit, (Text.polyHash(x) % 64).cast("int") + 1)).as("sw"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        expr("sw div n_tokens").as("score"),
        (expr("sw div n_tokens") >= 1000000L).as("keep"))
      .orderBy("doc_id")
  }

  /** Corpus data card (Gebru et al., "Datasheets for Datasets", CACM
    * 2021) — the one-row corpus summary a dataset release ships:
    * volume (docs/tokens/vocab), composition (languages, split
    * sizes), and hygiene (exact-dup count, low-quality count, mean
    * length), every number exact and every signal THE SAME expression
    * the corresponding gate operator uses (fingerprint, isLowQuality,
    * assignSplit) so the card can't drift from the pipeline it
    * describes. One wide aggregate over one scan (the three
    * COUNT(DISTINCT) ride a single Expand, the lineitem_profile
    * pattern — at 100 TB swap the KMV/HLL sketch family in, same as
    * documented there) plus a vocab distinct on the exploded tokens.
    */
  private def qCorpusDatacard(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
      Text.tokens(col("text")).as("tk"), Text.fingerprint(col("text")).as("fp"),
      Text.isLowQuality(col("text")).as("lq"),
      graft.ops.Sampling.assignSplit(col("doc_id")).as("split"))
    val a = base.agg(
      count(lit(1)).as("n_docs"),
      sum(size(col("tk")).cast("long")).as("n_tokens"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("fp")).as("n_unique_docs"),
      sum(when(col("lq"), 1L).otherwise(0L)).as("n_low_quality"),
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
      sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
      sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
    val vocab = base.select(explode(col("tk")).as("w"))
      .agg(countDistinct(col("w")).as("vocab_size"))
    a.crossJoin(broadcast(vocab))
      .select(col("n_docs"), col("n_tokens"), col("n_langs"),
        (col("n_docs") - col("n_unique_docs")).as("n_exact_dups"),
        col("n_low_quality"), col("n_train"), col("n_val"), col("n_test"),
        col("vocab_size"), expr("n_tokens div n_docs").as("mean_tokens"))
  }

  /** Shard-assignment balance audit — the readout a distributed
    * training job publishes before an epoch: docs routed to 8 shards
    * by the deterministic id hash ([[graft.ops.Sampling.bucket]] mod
    * 8 — the same stable bucketing the split/sample family rides), per
    * shard the doc/token counts, token share in bp, and the
    * imbalance factor n_tokens·8/total ×100 (the straggler predictor:
    * a shard at 130 means its data-parallel rank does 1.3× the work).
    * One doc-level scan + one 8-row aggregate; the total joins back
    * as a 1-row broadcast.
    */
  private def qCorpusShardBalance(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(s, dir)
      .select((graft.ops.Sampling.bucket(col("doc_id")) % 8).cast("long")
          .as("shard"),
        size(Text.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("total"))
    per.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        expr("(10000 * n_tokens) div total").as("share_bp"),
        expr("(100 * n_tokens * 8) div total").as("imbalance_x100"))
      .orderBy("shard")
  }

  /** Near-dup pollution per source — the datacard row that names the
    * OFFENDER: for each source, how many of its docs sit in at least
    * one verified near-dup pair (the shared memoized LSH frame), as a
    * rate in bp. The per-source attribution is what turns a corpus-
    * level dup rate into an actionable crawl/licensing decision
    * ("source X is 30% self-copies; renegotiate or re-crawl").
    *
    * Scale shape: the pair frame is the family's memoized artifact;
    * its doc-id explode is 2·|pairs|; one (doc_id)-keyed join against
    * the documents projection and one source-keyed fold. No new scan
    * of text, nothing all-pairs.
    */
  private def qCorpusDupBySource(s: SparkSession, dir: String): DataFrame = {
    val inPair = dedupPairs(s, dir)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
      .withColumn("in_pair", lit(1L))
    Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .join(inPair, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("in_pair"), lit(0L))).as("n_dup_docs"))
      .withColumn("dup_rate_bp", expr("(10000 * n_dup_docs) div n_docs"))
      .orderBy("source")
  }

  protected def corpusExtQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_dup_by_source" -> (qCorpusDupBySource _),
    "corpus_shard_balance" -> (qCorpusShardBalance _),
    "corpus_chunk_dedup" -> (qCorpusChunkDedup _),
    "corpus_clean" -> (qCorpusClean _),
    "corpus_curriculum_order" -> (qCorpusCurriculumOrder _),
    "corpus_datacard" -> (qCorpusDatacard _),
    "corpus_dedup_keep_best" -> (qCorpusDedupKeepBest _),
    "corpus_dedup_funnel" -> (qCorpusDedupFunnel _),
    "corpus_dedup_savings" -> (qCorpusDedupSavings _),
    "corpus_folded_packing" -> (qCorpusFoldedPacking _),
    "corpus_golden_record" -> (qCorpusGoldenRecord _),
    "corpus_importance_resample" -> (qCorpusImportanceResample _),
    "corpus_incremental_dedup" -> (qCorpusIncrementalDedup _),
    "corpus_interleave" -> (qCorpusInterleave _),
    "corpus_leakage_safe_split" -> (qCorpusLeakageSafeSplit _),
    "corpus_mixture_epochs" -> (qCorpusMixtureEpochs _),
    "corpus_negative_samples" -> (qCorpusNegativeSamples _),
    "corpus_pack" -> (qCorpusPack _),
    "corpus_quality_mixture" -> (qCorpusQualityMixture _),
    "corpus_rag_chunks" -> (qCorpusRagChunks _),
    "corpus_source_cap" -> (qCorpusSourceCap _),
    "corpus_split" -> (qCorpusSplit _),
    "corpus_stratified_sample" -> (qCorpusStratified _),
    "corpus_token_budget" -> (qCorpusTokenBudget _),
    "corpus_weighted_sample" -> (qCorpusWeightedSample _),
    "split_bloom_contamination" -> (qSplitBloomContamination _),
    "split_contamination" -> (qSplitContamination _),
    "split_embedding_contamination" -> (qSplitEmbeddingContamination _),
    "split_ngram_leakage" -> (qSplitNgramLeakage _),
    "split_ngram_novelty" -> (qSplitNgramNovelty _),
  )

  protected def corpusExtOracles: Map[String, String] = Map(
    // near-dup fixpoint = the exact recursive closure (dedupClustersCtes,
    // which opens the WITH RECURSIVE); stage counts from scalar subqueries
    "corpus_dedup_funnel" ->
      s"""$dedupClustersCtes,
         |fp AS (SELECT doc_id,
         |         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
         |       FROM documents),
         |ek AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY f),
         |nd AS (SELECT e.doc_id FROM ek e LEFT JOIN cc ON cc.id = e.doc_id
         |       WHERE cc.id IS NULL OR cc.comp = e.doc_id),
         |c AS (SELECT CAST((SELECT COUNT(*) FROM fp) AS BIGINT) AS n_raw,
         |             CAST((SELECT COUNT(*) FROM ek) AS BIGINT) AS n_exact,
         |             CAST((SELECT COUNT(*) FROM nd) AS BIGINT) AS n_near)
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS stage_ord, 'raw' AS stage,
         |         n_raw AS n_in, CAST(0 AS BIGINT) AS n_dropped, n_raw AS n_out
         |  FROM c
         |  UNION ALL SELECT 2, 'exact_dedup', n_raw, n_raw - n_exact, n_exact FROM c
         |  UNION ALL SELECT 3, 'near_dedup', n_exact, n_exact - n_near, n_near FROM c)
         |ORDER BY stage_ord""".stripMargin,

    "corpus_chunk_dedup" -> {
      val C = ChunkTokens
      s"""WITH t AS (SELECT doc_id, $TK AS tk FROM documents),
         |c AS (SELECT doc_id, i AS pos,
         |        array_to_string(tk[(i*$C+1):(i*$C+$C)], ' ') AS chunk
         |      FROM t, LATERAL (SELECT unnest(generate_series(0, (len(tk)-1)//$C)) AS i) g),
         |w AS (SELECT chunk, MIN(doc_id*1048576 + pos) AS wk FROM c GROUP BY 1)
         |SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |       CAST(SUM(CASE WHEN c.doc_id*1048576 + c.pos = w.wk THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(COUNT(*) - SUM(CASE WHEN c.doc_id*1048576 + c.pos = w.wk THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |FROM c JOIN w USING (chunk) GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "corpus_clean" ->
      s"""WITH q0 AS (SELECT doc_id, text, $TK AS tk0 FROM documents),
         |ok0 AS (SELECT doc_id, text FROM q0
         |        WHERE NOT (len(tk0) < 10
         |                   OR 100 * len(list_filter(tk0, t -> t IN ($stopList))) > 60 * len(tk0))),
         |keep AS (SELECT min(doc_id) AS doc_id FROM (
         |           SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |           FROM ok0) GROUP BY fp),
         |base AS (SELECT o.doc_id, o.text FROM ok0 o JOIN keep k ON o.doc_id = k.doc_id),
         |t AS (SELECT doc_id, $TK AS tk FROM base),
         |sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
         |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(tk)-2)) AS i) g
         |       WHERE len(tk) >= 3),
         |cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
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
         |dups AS (SELECT DISTINCT i.doc_b
         |  FROM inter i
         |  JOIN cnt ca ON ca.doc_id = i.doc_a
         |  JOIN cnt cb ON cb.doc_id = i.doc_b
         |  WHERE 2 * i.inter >= 1 * (ca.n_sh + cb.n_sh - i.inter))
         |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM t
         |WHERE doc_id NOT IN (SELECT doc_b FROM dups)
         |ORDER BY doc_id""".stripMargin,

    "corpus_curriculum_order" ->
      s"""WITH t AS (SELECT doc_id, $TK AS tk FROM documents),
         |q AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM t
         |      WHERE NOT (len(tk) < 10 OR
         |        100 * len(list_filter(tk, t -> t IN ($stopList))) > 60 * len(tk))),
         |r AS (SELECT doc_id, n_tokens,
         |        CAST(least(n_tokens // 50, 9) AS BIGINT) AS tier FROM q)
         |SELECT doc_id, n_tokens, tier,
         |       CAST(row_number() OVER (ORDER BY tier,
         |         ${graft.ops.Sampling.hashValSql("doc_id")}, doc_id) AS BIGINT) AS rank
         |FROM r ORDER BY doc_id""".stripMargin,

    "corpus_datacard" ->
      s"""WITH b AS (SELECT doc_id, lang, $TK AS tk,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         |    ${graft.ops.Sampling.assignSplitSql("doc_id")} AS split,
         |    text FROM documents),
         |q AS (SELECT *, (len(tk) < 10 OR
         |        100 * len(list_filter(tk, t -> t IN ($stopList))) > 60 * len(tk)) AS lq
         |      FROM b),
         |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |        CAST(SUM(len(tk)) AS BIGINT) AS n_tokens,
         |        CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         |        CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique_docs,
         |        CAST(SUM(CASE WHEN lq THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
         |        CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         |        CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
         |        CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
         |      FROM q),
         |v AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS vocab_size
         |      FROM (SELECT unnest(tk) AS w FROM b))
         |SELECT a.n_docs, a.n_tokens, a.n_langs,
         |       a.n_docs - a.n_unique_docs AS n_exact_dups,
         |       a.n_low_quality, a.n_train, a.n_val, a.n_test,
         |       v.vocab_size,
         |       CAST(a.n_tokens // a.n_docs AS BIGINT) AS mean_tokens
         |FROM a CROSS JOIN v""".stripMargin,

    "corpus_dedup_keep_best" ->
      s"""$dedupClustersCtes,
         |best AS (SELECT doc_id, cluster_size FROM (
         |    SELECT cc.id AS doc_id, sz.cluster_size,
         |           row_number() OVER (PARTITION BY cc.comp
         |                              ORDER BY d.n_chars DESC, cc.id ASC) AS rn
         |    FROM cc JOIN sz ON cc.comp = sz.comp
         |    JOIN documents d ON d.doc_id = cc.id) WHERE rn = 1)
         |SELECT doc_id, cluster_size FROM best
         |UNION ALL
         |SELECT doc_id, CAST(1 AS BIGINT) AS cluster_size FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM cc)
         |ORDER BY doc_id""".stripMargin,

    "corpus_folded_packing" ->
      s"""WITH d AS (SELECT doc_id,
         |    CAST(len(${graft.ops.Text.tokensSql()}) AS BIGINT) AS n_tok
         |  FROM documents),
         |r AS (SELECT doc_id, n_tok, CAST(row_number() OVER (
         |    ORDER BY n_tok DESC, doc_id) AS BIGINT) AS rank FROM d),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
         |lo AS (SELECT rank AS pair_id, doc_id AS doc_a, n_tok AS tok_a,
         |         (SELECT n FROM n) + 1 - rank AS prank
         |       FROM r WHERE rank * 2 <= (SELECT n FROM n) + 1),
         |p AS (SELECT lo.pair_id, lo.doc_a,
         |        CASE WHEN hi.doc_id <> lo.doc_a THEN hi.doc_id END AS doc_b,
         |        lo.tok_a + CASE WHEN hi.doc_id <> lo.doc_a
         |                        THEN hi.n_tok ELSE 0 END AS pair_tokens
         |      FROM lo JOIN r hi ON hi.rank = lo.prank)
         |SELECT pair_id, doc_a, doc_b, pair_tokens,
         |       CAST(pair_tokens <= 2048 AS BIGINT) AS fits,
         |       least(10000, (10000 * pair_tokens) // 2048) AS fill_bp
         |FROM p ORDER BY pair_id""".stripMargin,

    "corpus_golden_record" ->
      s"""$dedupClustersCtes,
         |lab AS (SELECT d.doc_id, COALESCE(cc.comp, d.doc_id) AS cluster,
         |               d.lang, d.source, d.n_chars
         |        FROM documents d LEFT JOIN cc ON cc.id = d.doc_id),
         |base AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
         |                CAST(MIN(doc_id) AS BIGINT) AS rep_doc_id,
         |                CAST(MAX(n_chars) AS BIGINT) AS best_n_chars
         |         FROM lab GROUP BY 1),
         |lm AS (SELECT cluster, lang AS canon_lang FROM (
         |         SELECT cluster, lang, row_number() OVER (PARTITION BY cluster
         |           ORDER BY COUNT(*) DESC, lang NULLS LAST) AS rn
         |         FROM lab GROUP BY cluster, lang) x WHERE rn = 1),
         |sm AS (SELECT cluster, source AS canon_source FROM (
         |         SELECT cluster, source, row_number() OVER (PARTITION BY cluster
         |           ORDER BY COUNT(*) DESC, source NULLS LAST) AS rn
         |         FROM lab GROUP BY cluster, source) x WHERE rn = 1)
         |SELECT b.cluster, b.rep_doc_id, b.n_members, b.best_n_chars,
         |       lm.canon_lang, sm.canon_source
         |FROM base b JOIN lm ON lm.cluster = b.cluster
         |JOIN sm ON sm.cluster = b.cluster
         |ORDER BY b.cluster""".stripMargin,

    "corpus_importance_resample" ->
      s"""WITH t AS (SELECT doc_id, lang, $TK AS tk FROM documents),
         |tok AS (SELECT doc_id, lang, ${graft.ops.Text.polyHashSql("w")} % 64 AS b
         |        FROM (SELECT doc_id, lang, unnest(tk) AS w FROM t)),
         |bk AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS rb,
         |         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tb
         |       FROM tok GROUP BY 1),
         |tot AS (SELECT CAST(SUM(rb) AS BIGINT) AS tr, CAST(SUM(tb) AS BIGINT) AS tt FROM bk),
         |wt AS (SELECT b, CASE WHEN tb > 0 AND tt > 0
         |         THEN (1000000 * CAST(tb AS HUGEINT) * tr) // (CAST(rb AS HUGEINT) * tt)
         |         ELSE 0 END AS wb FROM bk CROSS JOIN tot),
         |ds AS (SELECT tok.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, SUM(wt.wb) AS sw
         |       FROM tok JOIN wt USING (b) GROUP BY 1)
         |SELECT d.doc_id, d.lang, ds.n_tokens,
         |       CAST(ds.sw // ds.n_tokens AS BIGINT) AS score,
         |       (ds.sw // ds.n_tokens >= 1000000) AS keep
         |FROM ds JOIN documents d ON ds.doc_id = d.doc_id
         |ORDER BY 1""".stripMargin,

    // NOT IN store + first-in-batch — what a full rededup would keep;
    // the batch unions re-fetched historical docs and intra-batch
    // re-submissions, mirroring the engine's planted construction
    "corpus_incremental_dedup" ->
      """WITH f AS (SELECT doc_id, source,
        |             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |               AS fingerprint FROM documents),
        |seen AS (SELECT DISTINCT fingerprint FROM f WHERE doc_id < 250),
        |b AS (SELECT doc_id, source, fingerprint FROM f WHERE doc_id >= 250
        |      UNION ALL
        |      SELECT doc_id + 100000, source, fingerprint FROM f WHERE doc_id < 50
        |      UNION ALL
        |      SELECT doc_id + 200000, source, fingerprint FROM f
        |      WHERE doc_id >= 250 AND doc_id < 300),
        |batch AS (SELECT *, row_number() OVER (PARTITION BY fingerprint
        |            ORDER BY doc_id) AS rn FROM b)
        |SELECT doc_id, source, fingerprint FROM batch
        |WHERE rn = 1
        |  AND fingerprint NOT IN (SELECT fingerprint FROM seen)
        |ORDER BY doc_id""".stripMargin,

    "corpus_interleave" ->
      s"""WITH t AS (SELECT COUNT(*) AS t FROM documents),
         |r AS (SELECT doc_id, source,
         |        row_number() OVER (PARTITION BY source
         |          ORDER BY ${graft.ops.Sampling.bucketSql("doc_id")}, doc_id) AS r,
         |        COUNT(*) OVER (PARTITION BY source) AS n_s
         |      FROM documents)
         |SELECT doc_id, source, CAST(r AS BIGINT) AS r,
         |       CAST((CAST(r - 1 AS HUGEINT) * t.t) // n_s AS BIGINT) AS ord_key
         |FROM r CROSS JOIN t ORDER BY doc_id""".stripMargin,

    "corpus_leakage_safe_split" ->
      s"""$dedupClustersCtes
         |SELECT d.doc_id,
         |       COALESCE(cc.comp, d.doc_id) AS rep_doc_id,
         |       ${graft.ops.Sampling.assignSplitSql("COALESCE(cc.comp, d.doc_id)")} AS split
         |FROM documents d LEFT JOIN cc ON d.doc_id = cc.id
         |ORDER BY doc_id""".stripMargin,

    // the LSH pair CTEs verbatim (the dedup_minhash_lsh oracle), then
    // the per-source attribution fold
    "corpus_dup_by_source" ->
      s"""WITH $SHINGLE3,
         |${graft.ops.Dedup.minhashBandSqlCtes(8, 4)},
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
         |pairs AS (SELECT i.doc_a, i.doc_b FROM inter i
         |          JOIN cnt ca ON ca.doc_id = i.doc_a
         |          JOIN cnt cb ON cb.doc_id = i.doc_b
         |          WHERE 2 * i.inter >= ca.n_sh + cb.n_sh - i.inter),
         |ip AS (SELECT DISTINCT doc_id FROM (
         |         SELECT doc_a AS doc_id FROM pairs
         |         UNION ALL SELECT doc_b FROM pairs))
         |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(CASE WHEN ip.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_dup_docs,
         |       (10000 * CAST(SUM(CASE WHEN ip.doc_id IS NOT NULL THEN 1 ELSE 0
         |         END) AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS dup_rate_bp
         |FROM documents d LEFT JOIN ip ON ip.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "corpus_shard_balance" ->
      s"""WITH d AS (SELECT ${graft.ops.Sampling.bucketSql("doc_id")} % 8 AS shard,
         |            CAST(len($TK) AS BIGINT) AS n_tok
         |          FROM documents),
         |s AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |        CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |      FROM d GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM s)
         |SELECT shard, n_docs, n_tokens,
         |       (10000 * n_tokens) // total AS share_bp,
         |       (100 * n_tokens * 8) // total AS imbalance_x100
         |FROM s, t ORDER BY shard""".stripMargin,

    "corpus_mixture_epochs" ->
      s"""WITH s AS (SELECT source, COUNT(*) AS n_docs,
         |            CAST(SUM(len($TK)) AS BIGINT) AS n_tokens
         |          FROM documents GROUP BY 1),
         |m AS (SELECT MAX(n_tokens) AS max_tokens FROM s)
         |SELECT source, n_docs, n_tokens,
         |       LEAST((100 * max_tokens + n_tokens - 1) // n_tokens,
         |             CAST(400 AS BIGINT)) AS epochs_x100
         |FROM s, m ORDER BY source""".stripMargin,

    "corpus_negative_samples" ->
      s"""WITH r AS (SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY ${graft.ops.Sampling.hashValSql("doc_id")}, doc_id) AS BIGINT) AS rank
         |  FROM documents),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |p AS (SELECT doc_id, rank, CAST(j AS BIGINT) AS j
         |      FROM r, (SELECT unnest(generate_series(1, 3)) AS j) g),
         |q AS (SELECT doc_id, j,
         |        ((rank + j - 1) % (SELECT n FROM n)) + 1 AS nrank FROM p)
         |SELECT q.doc_id, q.j, r2.doc_id AS neg_doc_id
         |FROM q JOIN r r2 ON r2.rank = q.nrank
         |WHERE q.doc_id <> r2.doc_id
         |ORDER BY q.doc_id, q.j""".stripMargin,

    "corpus_pack" ->
      s"""WITH t AS (SELECT doc_id, lang, CAST(len($TK) AS BIGINT) AS n FROM documents),
         |c AS (SELECT *, CAST(SUM(n) OVER (PARTITION BY lang ORDER BY doc_id
         |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t)
         |SELECT lang, (cum - n) // 2048 AS pack_id, COUNT(*) AS n_docs,
         |       CAST(SUM(n) AS BIGINT) AS n_tokens,
         |       CAST(COUNT(CASE WHEN n > 0 AND (cum - n) // 2048 <> (cum - 1) // 2048
         |                       THEN 1 END) AS BIGINT) AS n_straddling
         |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "corpus_quality_mixture" ->
      s"""WITH t AS (SELECT doc_id, $TK AS tk FROM documents),
         |c AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |        CASE WHEN len(tk) < 10
         |                  OR 100 * len(list_filter(tk, t -> t IN ($stopList))) > 60 * len(tk)
         |             THEN 'low'
         |             WHEN len(tk) >= 60 THEN 'high' ELSE 'mid' END AS tier
         |      FROM t),
         |k AS (SELECT *, ${graft.ops.Sampling.stratifiedSampleSql("doc_id", "tier",
                Map("high" -> 10000, "mid" -> 5000, "low" -> 1000))} AS kept FROM c)
         |SELECT tier, COUNT(*) AS n_docs,
         |       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(SUM(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
         |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,

    "corpus_rag_chunks" ->
      s"""WITH t AS (SELECT doc_id, $TK AS tk FROM documents),
         |t2 AS (SELECT * FROM t WHERE len(tk) >= 1),
         |c AS (SELECT doc_id, i AS chunk_idx, i * 16 + 1 AS start_tok,
         |        least(len(tk) - i * 16, 32) AS n_tok,
         |        md5(array_to_string(tk[(i*16+1):(i*16+32)], ' ')) AS chunk_md5
         |      FROM t2, LATERAL (SELECT unnest(generate_series(0,
         |        CASE WHEN len(tk) <= 32 THEN 0 ELSE (len(tk) - 32 + 15) // 16 END)) AS i) g)
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |       CAST(start_tok AS BIGINT) AS start_tok,
         |       CAST(n_tok AS BIGINT) AS n_tok, chunk_md5
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "corpus_source_cap" ->
      s"""WITH r AS (SELECT doc_id, source,
         |  CAST(row_number() OVER (PARTITION BY source
         |       ORDER BY ${graft.ops.Sampling.capOrderSql("doc_id")}) AS BIGINT) AS rk
         |  FROM documents)
         |SELECT doc_id, source, rk FROM r WHERE rk <= 30
         |ORDER BY doc_id""".stripMargin,

    "corpus_split" ->
      s"""SELECT ${graft.ops.Sampling.assignSplitSql("doc_id")} AS split, lang,
         |       COUNT(*) AS n_docs,
         |       CAST(SUM(len($TK)) AS BIGINT) AS n_tokens
         |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "corpus_stratified_sample" ->
      s"""SELECT lang, COUNT(*) AS n_docs, CAST(SUM(len($TK)) AS BIGINT) AS n_tokens
         |FROM documents
         |WHERE ${graft.ops.Sampling.stratifiedSampleSql("doc_id", "lang", strataRates)}
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "corpus_token_budget" ->
      s"""WITH d AS (SELECT doc_id, source, CAST(len($TK) AS BIGINT) AS n_tok
         |           FROM documents),
         |r AS (SELECT doc_id, source, n_tok,
         |        CAST(row_number() OVER w AS BIGINT) AS rk,
         |        CAST(SUM(n_tok) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
         |                              AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |      FROM d
         |      WINDOW w AS (PARTITION BY source
         |                   ORDER BY ${graft.ops.Sampling.bucketSql("doc_id")}, doc_id))
         |SELECT doc_id, source, rk, n_tok, cum_tokens
         |FROM r WHERE cum_tokens <= 20000 ORDER BY doc_id""".stripMargin,

    "corpus_weighted_sample" ->
      s"""SELECT doc_id, source, rk FROM (
         |  SELECT doc_id, source, CAST(row_number() OVER (
         |    PARTITION BY source
         |    ORDER BY ${graft.ops.Sampling.weightedPrioritySql("doc_id", "n_chars")}, doc_id
         |  ) AS BIGINT) AS rk FROM documents)
         |WHERE rk <= 10 ORDER BY doc_id""".stripMargin,

    // cluster CTEs shared with dedup_clusters; survivor rule = the
    // funnel's verbatim (exact min-fp winner AND own component rep)
    "corpus_dedup_savings" ->
      s"""$dedupClustersCtes,
         |fp0 AS (SELECT doc_id, source, n_chars,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM documents),
         |ek AS (SELECT MIN(doc_id) AS doc_id FROM fp0 GROUP BY fp),
         |sv AS (SELECT ek.doc_id FROM ek LEFT JOIN cc ON ek.doc_id = cc.id
         |       WHERE cc.id IS NULL OR cc.comp = ek.doc_id)
         |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN sv.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dropped,
         |  CAST(SUM(d.n_chars) AS BIGINT) AS chars_total,
         |  CAST(SUM(CASE WHEN sv.doc_id IS NULL THEN d.n_chars ELSE 0 END)
         |    AS BIGINT) AS chars_dropped,
         |  (10000 * CAST(SUM(CASE WHEN sv.doc_id IS NULL THEN d.n_chars
         |    ELSE 0 END) AS BIGINT))
         |    // greatest(CAST(SUM(d.n_chars) AS BIGINT), 1) AS savings_bp
         |FROM fp0 d LEFT JOIN sv ON d.doc_id = sv.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the dedup_embedding_cos candidate+verify CTEs verbatim, then the
    // split map and the (split_a, split_b) census
    "split_embedding_contamination" ->
      s"""WITH q AS (SELECT vec_id, ${Vectors.quantizeSql("embedding")} AS q FROM embeddings),
         |pw AS (SELECT ${Vectors.scaledLshPow2Sql("embeddings", 8, 8)} AS p),
         |n AS (SELECT vec_id, q, ${Vectors.intNorm2Sql("q", EMB_DIM)} AS n2,
         |       (${Vectors.signBucketSql("q", 24)}) % (SELECT p FROM pw)
         |         AS bucket FROM q),
         |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       ${Vectors.intDotSql("a.q", "b.q", EMB_DIM)} AS dot,
         |       a.n2 AS n2a, b.n2 AS n2b
         |      FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |f AS (SELECT vec_a, vec_b FROM p
         |      WHERE dot > 0 AND 10000 * CAST(dot AS HUGEINT) * dot
         |        >= 1600 * CAST(n2a AS HUGEINT) * n2b),
         |sp AS (SELECT vec_id,
         |    ${graft.ops.Sampling.assignSplitSql("vec_id")} AS split
         |  FROM embeddings),
         |j AS (SELECT least(sa.split, sb.split) AS split_a,
         |             greatest(sa.split, sb.split) AS split_b
         |      FROM f JOIN sp sa ON f.vec_a = sa.vec_id
         |             JOIN sp sb ON f.vec_b = sb.vec_id)
         |SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |       split_a <> split_b AS leaked
         |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "split_bloom_contamination" -> {
      val normExpr = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
      val B = graft.ops.Bloom
      s"""WITH d AS (SELECT doc_id,
         |             ${graft.ops.Text.polyHashSql("norm")} AS h,
         |             ${graft.ops.Sampling.assignSplitSql("doc_id")} AS split
         |           FROM (SELECT doc_id, $normExpr AS norm FROM documents)),
         |tkeys AS (SELECT h FROM d WHERE split = 'test'),
         |f AS (${B.buildSql("tkeys")}),
         |tr AS (SELECT doc_id, h FROM d WHERE split = 'train'),
         |pos AS (SELECT doc_id,
         |          unnest(list_value(${(0 until B.Hashes).map(i => B.positionSql("h", i)).mkString(", ")})) AS pos
         |        FROM tr),
         |hit AS (SELECT p.doc_id,
         |          SUM(CASE WHEN f.bits IS NOT NULL
         |                    AND (f.bits >> CAST(p.pos % 32 AS INT)) % 2 = 1
         |                   THEN 1 ELSE 0 END) AS nhit
         |        FROM pos p LEFT JOIN f ON CAST(p.pos // 32 AS INT) = f.word
         |        GROUP BY 1),
         |act AS (SELECT DISTINCT h FROM tkeys)
         |SELECT (hit.nhit = ${B.Hashes}) AS bloom_hit,
         |       (a.h IS NOT NULL) AS actual,
         |       CAST(COUNT(*) AS BIGINT) AS n
         |FROM tr JOIN hit ON tr.doc_id = hit.doc_id
         |LEFT JOIN act a ON tr.h = a.h
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    "split_contamination" ->
      s"""WITH $SHINGLE3,
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
         |sp AS (SELECT doc_id, ${graft.ops.Sampling.assignSplitSql("doc_id")} AS split
         |  FROM documents)
         |SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b
         |FROM pairs p
         |JOIN sp sa ON p.doc_a = sa.doc_id
         |JOIN sp sb ON p.doc_b = sb.doc_id
         |WHERE sa.split <> sb.split
         |ORDER BY p.doc_a, p.doc_b""".stripMargin,

    "split_ngram_leakage" ->
      s"""WITH t AS (SELECT doc_id, $TK AS tk FROM documents),
         |sh AS (SELECT DISTINCT doc_id,
         |         tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] AS shingle
         |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(tk)-4)) AS i) g
         |       WHERE len(tk) >= 5),
         |sp AS (SELECT doc_id, ${graft.ops.Sampling.assignSplitSql("doc_id")} AS split
         |       FROM documents),
         |shs AS (SELECT sh.doc_id, sh.shingle, sp.split FROM sh JOIN sp ON sh.doc_id = sp.doc_id),
         |tr AS (SELECT DISTINCT shingle FROM shs WHERE split = 'train'),
         |ev AS (SELECT * FROM shs WHERE split <> 'train'),
         |lk AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_leaked FROM ev
         |       WHERE shingle IN (SELECT shingle FROM tr) GROUP BY 1),
         |ec AS (SELECT doc_id, split, CAST(COUNT(*) AS BIGINT) AS n_shingles
         |       FROM ev GROUP BY 1, 2)
         |SELECT ec.doc_id, ec.split, ec.n_shingles,
         |       COALESCE(lk.n_leaked, 0) AS n_leaked,
         |       (10000 * COALESCE(lk.n_leaked, 0)) // ec.n_shingles AS leak_bp
         |FROM ec LEFT JOIN lk ON ec.doc_id = lk.doc_id
         |ORDER BY ec.doc_id""".stripMargin,

    "split_ngram_novelty" ->
      s"""WITH t AS (SELECT doc_id, $TK AS tk FROM documents),
         |sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] AS shingle
         |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(tk)-1)) AS i) g
         |       WHERE len(tk) >= 2),
         |sp AS (SELECT doc_id, ${graft.ops.Sampling.assignSplitSql("doc_id")} AS split
         |       FROM documents),
         |shs AS (SELECT sh.doc_id, sh.shingle, sp.split FROM sh JOIN sp ON sh.doc_id = sp.doc_id),
         |tr AS (SELECT DISTINCT shingle FROM shs WHERE split = 'train'),
         |ev AS (SELECT * FROM shs WHERE split <> 'train'),
         |nv AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel FROM ev
         |       WHERE shingle NOT IN (SELECT shingle FROM tr) GROUP BY 1),
         |ec AS (SELECT doc_id, split, CAST(COUNT(*) AS BIGINT) AS n_bigrams
         |       FROM ev GROUP BY 1, 2)
         |SELECT ec.doc_id, ec.split, ec.n_bigrams,
         |       COALESCE(nv.n_novel, 0) AS n_novel,
         |       (10000 * COALESCE(nv.n_novel, 0)) // ec.n_bigrams AS novelty_bp
         |FROM ec LEFT JOIN nv ON ec.doc_id = nv.doc_id
         |ORDER BY ec.doc_id""".stripMargin,

  )
}
