package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.{ApplyChanges, Fixtures, Routing}
import graft.ops.{Dedup, Multimodal, Sessionize, Similarity, Text, Vectors}

/** Extension queries — text analysis (tokenization, quality, language ID, retrieval, LM statistics).
  * Builders + their DuckDB oracle mirrors for this family; shared
  * fragments come from [[ExtensionQueriesBase]]. Registered into the
  * single public registry by [[ExtensionQueries]].
  */
private[graft] trait TextExtensionQueries extends ExtensionQueriesBase {
  private def qTextTokenStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
        size(array_distinct(col("tk"))).cast("long").as("n_distinct"))
      .orderBy("doc_id")

  private def qTextQuality(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select((col("doc_id") +: Text.qualitySignals(col("text"))): _*)
      .orderBy("doc_id")

  private def qTextLangid(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select((Seq(col("doc_id"), col("lang")) ++ Text.langScores("text")): _*)
      .withColumn("lang_guess", Text.langGuess)
      .orderBy("doc_id")

  /** Inverted-index construction over the top-30 vocabulary: per
    * token, document frequency plus the first 20 posting doc_ids.
    * Scale shape: df is a plain keyed count (map-side partials — the
    * cheap part even for stopwords); the posting LIST is the skew
    * hazard, so it is bounded BEFORE any list materializes — a
    * row_number ≤ 20 rank per token plans as WindowGroupLimit and each
    * map task ships at most 20 rows per token into the exchange. A
    * full production index writes postings bucketed by (token,
    * doc-range) so a stopword's list spans tasks; the bounded slice
    * here is that same discipline in miniature. Postings emit as a
    * comma-joined string (the repo's array-output convention — arrays
    * canonicalize differently across engines, strings don't). */
  private def qTextPostingLists(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc).limit(30).select("token")
    val dt = toks.join(broadcast(vocab), Seq("token"), "left_semi")
      .select(col("token"), col("doc_id")).distinct()
    val dfreq = dt.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("token")).orderBy(col("doc_id"))
    val postings = dt.withColumn("rk", row_number().over(w)).where(col("rk") <= 20)
      .groupBy(col("token"))
      .agg(array_join(transform(array_sort(collect_list(col("doc_id"))),
        x => x.cast("string")), ",").as("postings"))
    dfreq.join(postings, "token")
      .select(col("token"), col("df"), col("postings"))
      .orderBy("token")
  }

  private def qTextFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        Text.fingerprint(col("text")).as("fingerprint"),
        Text.rollingHash(col("text")).as("rolling_hash"),
        Text.bpeTokenCount(col("text")).as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** Vocabulary heavy hitters: top-100 tokens by corpus frequency
    * (explode → one keyed agg with map-side partials → global top-k;
    * ties broken by token so the result is total-order deterministic). */
  /** Tokenizer fertility per source — the tokenization-cost readout a
    * training-data budget runs first (chars per token ≈ how expensive
    * a source is to tokenize; tokens per doc ≈ packing granularity).
    * Exact integer ratios ×100 with the shared div truncation.
    *
    * Scale shape: tokenization is scan-stage; ONE source-keyed
    * aggregate; the ratios run on the |sources|-row frame.
    */
  private def qTextFertility(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), size(Text.tokens(col("text"))).cast("long").as("tk"),
        col("n_chars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tk")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        expr("(100 * n_chars) div greatest(n_tokens, 1)")
          .as("chars_per_token_x100"),
        expr("n_tokens div n_docs").as("tokens_per_doc"))
      .orderBy("source")

  /** Unigram-entropy proxy per source in the engine's float-free
    * idiom: H ≈ Σ_t f_t·(bitlen(N) − bitlen(f_t)) / N — the bit-length
    * difference is the floor-log2 analog of log(N/f), the same trick
    * text_bm25_topk's idf rides (Spark and DuckDB `bin()` render
    * identically, so the statistic is engine-exact where a log-based
    * entropy is not). Low proxy = repetitive/templated source; high =
    * diverse vocabulary. Emitted in centibits (×100, shared div).
    *
    * Scale shape: explode + ONE (source, term) aggregate, then a
    * source-keyed fold with the |sources|-row totals broadcast back.
    */
  private def qTextEntropyProxy(s: SparkSession, dir: String): DataFrame = {
    // pinned: the totals fold and the contribution join both read this
    // vocab-sized frame — unpinned, each branch re-tokenizes the corpus
    val tf = Tables.documents(s, dir)
      .select(col("source"), explode(Text.tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("f"))
      .transform(graft.ops.AnnCache.pin)
    val tot = tf.groupBy(col("source"))
      .agg(sum(col("f")).as("n_tokens"), count(lit(1)).as("vocab"))
    tf.join(broadcast(tot), "source")
      .select(col("source"), col("n_tokens"), col("vocab"),
        (col("f") * (length(bin(col("n_tokens"))) - length(bin(col("f"))))
          .cast("long")).as("contrib"))
      .groupBy(col("source"))
      .agg(max(col("n_tokens")).as("n_tokens"), max(col("vocab")).as("vocab"),
        sum(col("contrib")).as("contrib"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        expr("(100 * contrib) div n_tokens").as("h_centibits"))
      .orderBy("source")
  }

  /** Hapax-legomena profile per source — the vocabulary-health signal
    * beside the entropy proxy: the share of a source's vocabulary
    * occurring exactly once (hapax) and at most twice (dis), in bp. A
    * natural corpus runs ~40-60% hapax (Zipf); templated/boilerplate
    * sources collapse toward zero, OCR noise inflates past it — both
    * failure modes a mixture review wants flagged.
    *
    * Scale shape: explode + ONE (source, term) aggregate, then a
    * source-keyed fold of the frequency-class counts. Same shape as
    * the entropy proxy, no second scan.
    */
  private def qTextHapaxRatio(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), explode(Text.tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("f"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("f") === 1L, 1L).otherwise(0L)).as("hapax"),
        sum(when(col("f") <= 2L, 1L).otherwise(0L)).as("dis"))
      .select(col("source"), col("vocab"), col("hapax"),
        expr("(10000 * hapax) div vocab").as("hapax_bp"),
        expr("(10000 * dis) div vocab").as("dis_bp"))
      .orderBy("source")

  /** Term burstiness (Church & Gale, 1995) for the top-30 corpus
    * terms: mean occurrences per CONTAINING document (tf/df ×100) next
    * to the document-frequency share — the statistic that separates
    * topical terms (bursty: rare docs, many repeats) from function
    * words (flat: everywhere, once or twice). Top-30 cut and rank are
    * fully tiebroken (tf DESC, term ASC), so the result is total-order
    * deterministic on both engines.
    *
    * Scale shape: explode + ONE term-keyed aggregate (two-stage
    * distinct for df); the cut is a TakeOrdered, the ratios and rank
    * run on the 30-row frame with the 1-row doc total broadcast.
    */
  private def qTextTermBurstiness(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val st = Tables.documents(s, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("term").asc).limit(30)
    val nd = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    st.crossJoin(broadcast(nd))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("tf").desc, col("term").asc)).cast("long"))
      .select(col("rank"), col("term"), col("tf"), col("df"),
        expr("(100 * tf) div df").as("burstiness_x100"),
        expr("(10000 * df) div n_docs").as("df_share_bp"))
      .orderBy("rank")
  }

  private def qTextVocabTopk(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(Text.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(100)

  /** BPE training's inner statistic: the most frequent adjacent
    * pre-token pairs across the corpus — the pair the next merge round
    * would fuse (Sennrich et al., ACL 2016). Pairing is per-row array
    * arithmetic ([[Text.pairStats]]: the token list zipped against its
    * own shift — no self-join, no window), so the only shuffle is the
    * pair group-by with map-side partials; top-k with a full (n, left,
    * right) tiebreak keeps the result total-order deterministic. */
  private def qTextBpePairs(s: SparkSession, dir: String): DataFrame =
    Text.pairStats(Tables.documents(s, dir), col("text"))
      .orderBy(col("n").desc, col("left").asc, col("right").asc)
      .limit(30)

  /** Feature-hashed linear classifier inference
    * ([[graft.ops.Text.hashedLinearScore]]): the fastText/CCNet-style
    * quality-filter serving path as a PURE scan-stage projection — the
    * 64-weight vector rides the plan as a literal, each doc's score is
    * one aggregate() HOF over its token array, and no shuffle touches
    * the corpus (the explode→groupBy formulation would shuffle every
    * token at 100 TB for the same answer).
    */
  private def qTextClassifierScore(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.ops.Text.hashedLinearScore(col("text"), clfWeights).as("score"))
      .withColumn("keep", col("score") >= 0L)
      .orderBy("doc_id")

  /** Conjunctive (boolean AND) retrieval — the inverted-index probe
    * next to `text_posting_lists`' index build: documents containing
    * ALL query terms, scored by total query-term frequency. The plan
    * IS the classic distributed posting intersection: explode to
    * (doc, term) postings, filter to the (tiny, literal) query
    * vocabulary IN THE SCAN STAGE — so the shuffle carries only
    * candidate postings, Σ df(term) rows, never the corpus — then a
    * two-level aggregate: per-(doc, term) tf first, per-doc term
    * count + tf sum second. The two-level form exists to avoid
    * COUNT(DISTINCT)'s Expand: both aggregates partial map-side, and
    * `n_terms = |terms|` is the intersection test. At 100 TB shuffle
    * volume is the posting lists of the query terms — the same cost
    * a dedicated search engine pays to read them.
    */
  private def qTextConjunctive(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("dup", "spark", "merge")
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("tf_total"))
      .where(col("n_terms") === terms.size)
      .select(col("doc_id"), col("tf_total"))
      .orderBy("doc_id")
  }

  /** χ² FEATURE SELECTION — top-20 terms most associated with the
    * `lang = 'en'` document class (Manning/Raghavan/Schütze, "IntroIR"
    * §13.5: χ² term selection for text classifiers; the corpus-level
    * companion to `text_classifier_score`'s serving pass). Per term
    * the 2×2 presence contingency (a, b, c, d) folds into
    * `χ²·10⁴ = 10⁴·N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d))`, all exact
    * integers in DECIMAL(38,0)/HUGEINT so the oracle hash-pins it.
    * Integer-exactness envelope: the numerator needs
    * 10⁴·N·(ad−bc)² ≤ 10³⁸, which holds to corpora of ~10⁶ labeled
    * docs — the regime feature selection actually runs in (a labeled
    * SAMPLE, not the raw 100 TB corpus); past that the same plan
    * emits a double score.
    *
    * Scale shape: per-doc distinct terms dedup IN THE SCAN
    * (`array_distinct` before the explode — no shuffle-wide
    * distinct), one term-keyed aggregate, the 1-row class totals
    * broadcast back, and the global top-20 is a TakeOrdered, never a
    * sort of the vocabulary.
    */
  private def qTextChi2Terms(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), (col("lang") === "en").as("cls"), col("text"))
    val tot = d.agg(sum(when(col("cls"), 1L).otherwise(0L)).as("n1"),
      count(lit(1)).as("nn"))
    d.select(col("cls"),
        explode(array_distinct(Text.tokens(col("text")))).as("term"))
      .groupBy(col("term"))
      .agg(sum(when(col("cls"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("cls"), 1L).otherwise(0L)).as("b"))
      .crossJoin(broadcast(tot))
      .select(col("term"), col("a"), col("b"),
        (col("n1") - col("a")).as("c"),
        (col("nn") - col("n1") - col("b")).as("d"), col("nn"))
      .withColumn("chi2_bp", expr(
        """CAST((10000 * CAST(nn AS DECIMAL(38,0))
          |  * (CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c)
          |  * (CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c))
          | div greatest(CAST(a + b AS DECIMAL(38,0)) * (c + d)
          |              * (a + c) * (b + d), 1) AS BIGINT)""".stripMargin))
      .orderBy(col("chi2_bp").desc, col("term").asc)
      .limit(20)
      .select(col("term"), col("a").as("n_en_with"),
        col("b").as("n_other_with"), col("chi2_bp"))
  }

  /** Tokenizer-vocabulary coverage audit: per-doc out-of-vocabulary
    * rate against the corpus's own top-100 token vocabulary — the
    * health check run before committing to a tokenizer (a rising OOV
    * tail means the vocab under-fits the mixture). The vocabulary is
    * a bounded driver collect (top-100 by (count desc, term) — a
    * total order), then serving is a PURE scan-stage projection: each
    * doc counts its non-vocab tokens with one filter() HOF against
    * the literal array, zero shuffles after the vocab build (the
    * classifier-serving pattern; the explode + anti-join spelling
    * would shuffle every token). */
  private def qTextOovRate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
      .where(size(col("tk")) >= 1)
    val vocab = docs.select(explode(col("tk")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(100)
      .select(col("t")).as[String].collect().toSeq
    // membership probe is array_contains against ONE literal array —
    // the isin spelling expands to a |vocab|-branch IN per token
    // (O(|vocab|) per probe and a 100-arm codegen'd comparison chain);
    // array_contains keeps the per-token cost a single array walk and
    // the serving plan stays a zero-exchange scan projection
    val vocabArr = array(vocab.map(lit): _*)
    docs
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
        size(filter(col("tk"), t => !array_contains(vocabArr, t)))
          .cast("long").as("n_oov"))
      .withColumn("oov_bp", expr("(10000 * n_oov) div n_tokens"))
      .orderBy("doc_id")
  }

  /** Skip-gram co-occurrence pairs (Mikolov et al. 2013's word2vec
    * training-pair generation; also the GloVe co-occurrence-matrix
    * builder): every (center, context) token pair within a ±2 window,
    * counted corpus-wide, top-30 by (count desc, center, context) —
    * a total order, so the cut is engine-exact. Pair generation is
    * scan-stage zip_with over shifted slices — one zipped array per
    * (offset, direction), the same machinery as text_collocations
    * (an earlier nested sequence+filter+transform spelling built a
    * fresh offset array PER TOKEN POSITION and measured 24 s at
    * sf0.1 against 0.6 s for this form — per-position array
    * allocation is the scan-stage analog of the token self-join this
    * operator exists to avoid); shuffle volume is the DISTINCT pair
    * vocabulary, map-side combined, and the top-30 runs as
    * TakeOrderedAndProject.
    */
  private def qTextSkipgramPairs(s: SparkSession, dir: String): DataFrame = {
    val tk = col("tk")
    def shiftPairs(d: Int, fwd: Boolean) = {
      val left = slice(tk, lit(1), size(tk) - d)
      val right = slice(tk, lit(d + 1), size(tk) - d)
      val zipped =
        if (fwd) zip_with(left, right, (a, b) => struct(a.as("c"), b.as("x")))
        else zip_with(right, left, (a, b) => struct(a.as("c"), b.as("x")))
      when(size(tk) > d, zipped)
        .otherwise(array().cast("array<struct<c:string,x:string>>"))
    }
    val pairs = concat(
      shiftPairs(1, fwd = true), shiftPairs(1, fwd = false),
      shiftPairs(2, fwd = true), shiftPairs(2, fwd = false))
    Tables.documents(s, dir)
      .select(Text.tokens(col("text")).as("tk"))
      .select(explode(pairs).as("p"))
      .groupBy(col("p.c").as("center"), col("p.x").as("context"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("center"), col("context"))
      .limit(30)
  }

  /** Zipf-law corpus-health audit: for the top-30 terms by frequency,
    * emit rank r, frequency f(r), and the cross-multiplied Zipf ratio
    * zipf_bp = 10000·f(r)·r div f(1) — exactly 10000 for a perfectly
    * Zipfian corpus, so systematic drift flags synthetic/templated
    * text (machine-generated corpora flatten the head) without any
    * float log-log fit. The (f desc, term) order is total, so ranks
    * are engine-exact. One token count group-by (map-side combined) +
    * TakeOrderedAndProject top-30 + one broadcast f(1) scalar — the
    * corpus never shuffles more than its distinct vocabulary.
    */
  private def qTextZipfAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(s, dir)
      .select(explode(Text.tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("term")).limit(30)
    // the window runs over 30 rows (post-limit), not the vocabulary
    val ranked = tf.withColumn("rank",
      row_number().over(Window.orderBy(col("f").desc, col("term"))).cast("long"))
    val top1 = ranked.where(col("rank") === 1).select(col("f").as("f1"))
    ranked.crossJoin(broadcast(top1))
      // DECIMAL(38,0): 10⁴·f·rank crosses 2^63 once f passes ~3·10¹⁴
      // token occurrences — the quotient is ≤ 10⁴·rank, safely BIGINT
      .select(col("rank"), col("term"), col("f"),
        expr("CAST((10000 * CAST(f AS DECIMAL(38,0)) * rank) div f1 AS BIGINT)")
          .as("zipf_bp"))
      .orderBy("rank")
  }

  /** Classifier CALIBRATION audit — the reliability-diagram table the
    * governance family was missing: per fixed-width score bin, how
    * often does the rule-based quality gate ([[Text.isLowQuality]],
    * standing in for held-out labels) disagree with the learned
    * filter? A well-calibrated filter shows low_rate_bp falling
    * monotonically with the bin; a flat table means the classifier
    * ranks noise. Bins are LITERAL edges applied scan-stage (the
    * production calibration shape) — never an ntile over the corpus,
    * which would be a global sort; the +16384 shift keeps the `div`
    * operands non-negative, where Spark's truncating div and DuckDB's
    * flooring `//` agree. One scan, one 16-key aggregate.
    */
  private def qTextClfCalibration(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(graft.ops.Text.hashedLinearScore(col("text"), clfWeights).as("score"),
        Text.isLowQuality(col("text")).as("lq"))
      // the dividend clamps non-negative BEFORE the division: a score
      // below −2¹⁴ would otherwise make Spark's truncating div and
      // DuckDB's flooring // disagree by one bin (the fixture's min is
      // −11.8k today, but score magnitude grows with doc length —
      // exactly the drift-unsafe class the r11 ADVICE flagged)
      .withColumn("bin",
        least(expr("greatest(score + 16384, 0L) div 2000"), lit(15L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lq"), 1L).otherwise(0L)).as("n_low_quality"),
        min(col("score")).as("min_score"), max(col("score")).as("max_score"))
      .withColumn("low_rate_bp", expr("(10000 * n_low_quality) div n_docs"))
      .orderBy("bin")

  /** Corpus-LM commonness score — the integer-exact stand-in for
    * KenLM-style perplexity filtering: score each doc by the mean
    * corpus frequency of its bigram OCCURRENCES (multiplicity kept —
    * a doc repeating a rare bigram stays rare). Log-probabilities
    * can't be engine-exact, raw counts can: rank order matches the
    * unigram-normalized LM on this statistic, and the quotient rides
    * integer `div`. Two keyed shuffles total (corpus bigram count,
    * per-doc fold) — the canonical count-then-join LM shape that
    * scales to any corpus because nothing ever leaves the bigram/doc
    * key spaces.
    */
  private def qTextBigramLm(s: SparkSession, dir: String): DataFrame = {
    val bi = Tables.documents(s, dir)
      .select(col("doc_id"), graft.ops.Text.tokens(col("text")).as("tk"))
      .where(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bigram"))
    val counts = bi.groupBy("bigram").agg(count(lit(1)).as("bn"))
    bi.join(counts, "bigram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(bn) div count(1)").as("commonness"))
      .orderBy("doc_id")
  }

  /** Gopher-style repetition quality signals per document (bigram
    * duplicate/top fractions in basis points). */
  private def qTextRepetition(s: SparkSession, dir: String): DataFrame =
    Text.repetitionStats(Tables.documents(s, dir), col("text"), col("doc_id"))
      .orderBy("doc_id")

  /** Term-weighting inputs: per-doc term frequency (docs 0-24) × corpus
    * document frequency, restricted to the top-30 vocabulary. The float
    * tf-idf weight itself ([[Text.tfIdf]]) is equivalence-tested in
    * ScalaTest, not oracle-hashed — the oracle gates the exact integer
    * inputs. */
  private def qTextTfidf(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc).limit(30).select("token")
    val tf = toks.where(col("doc_id") < 25)
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = toks.select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(vocab), "token").join(dfreq, "token")
      .select(col("doc_id"), col("token"), col("tf"), col("df"))
      .orderBy("doc_id", "token")
  }

  /** VOCABULARY GROWTH CURVE (Heaps' law audit) — per doc in corpus
    * order, how many never-before-seen token types it contributes,
    * plus the running vocabulary size. The curve is the standard
    * corpus-health read before tokenizer training: a healthy crawl
    * grows ∝ n^β (β ≈ 0.5); a flat tail means the crawl is recycling
    * content, a superlinear head means boilerplate explosion. First
    * occurrence = MIN(doc_id) per token — position-free, so the
    * computation is one token aggregate, not a sequential scan.
    *
    * Scale shape: (doc, token) presence distinct + one groupBy(token)
    * min + one groupBy(doc) count; the cumulative rides
    * [[graft.ops.Linkage.globalRunningSum]] — the two-pass
    * range-partitioned prefix sum (per-partition fold + broadcast
    * offsets), NOT a single-partition global window, so the curve
    * computes at any corpus size.
    */
  private def qTextVocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val firstDoc = Tables.documents(s, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(min(col("doc_id")).as("doc_id"))
    val newPerDoc = firstDoc.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("new_terms"))
    val dense = Tables.documents(s, dir).select(col("doc_id"))
      .join(newPerDoc, Seq("doc_id"), "left")
      .withColumn("new_terms", coalesce(col("new_terms"), lit(0L)))
    graft.ops.Linkage.globalRunningSum(dense, col("new_terms"), col("doc_id"))
      .select(col("doc_id"), col("new_terms"), col("cum").as("cum_vocab"))
      .orderBy("doc_id")
  }

  /** PII scrub gate: deterministic synthetic contact strings are
    * appended to a subset of docs (derived from doc_id on BOTH engines
    * — the fixture corpus itself contains no PII, and an all-zero
    * detector output would gate nothing), then counted and masked;
    * the md5 of the redacted text proves the transformation identical
    * byte-for-byte. */
  private def qTextPiiRedact(s: SparkSession, dir: String): DataFrame = {
    val withPii = Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 2 === 0,
          concat(lit(" call +1-555-01"), col("doc_id")))
          .otherwise(lit(""))).as("text"))
    withPii.select(col("doc_id"),
        graft.ops.Redact.countEmails(col("text")).as("n_emails"),
        graft.ops.Redact.countPhones(col("text")).as("n_phones"),
        md5(graft.ops.Redact.redact(col("text"))).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Exact per-language document-length percentiles (linear
    * interpolation, ×100 as BIGINT) — the length-distribution summary a
    * cleaning pass reports before/after filtering. */
  private def qTextLengthQuantiles(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), size(Text.tokens(col("text"))).cast("double").as("n"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        expr("cast(round(percentile(n, 0.5) * 100) as long)").as("p50_x100"),
        expr("cast(round(percentile(n, 0.9) * 100) as long)").as("p90_x100"),
        expr("cast(round(percentile(n, 0.99) * 100) as long)").as("p99_x100"))
      .orderBy("lang")

  /** Length-tier assignment (curriculum/length bucketing) WITHOUT a
    * global sort: per-language quartile cut points come from one
    * aggregation (scaled-integer cuts, same engine-matched percentile
    * form as [[qTextLengthQuantiles]]) and broadcast back; each doc's
    * tier is three integer comparisons in the scan stage. The ntile()
    * spelling of this operator needs a full per-language partition
    * sort — a single-task bottleneck at corpus scale — which is why
    * the cut-point form is the one shipped. */
  private def qTextLengthTiers(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("lang"), size(Text.tokens(col("text"))).cast("long").as("n"))
    val cuts = d.groupBy(col("lang")).agg(
      expr("cast(round(percentile(cast(n as double), 0.25) * 100) as long)").as("c25"),
      expr("cast(round(percentile(cast(n as double), 0.5) * 100) as long)").as("c50"),
      expr("cast(round(percentile(cast(n as double), 0.75) * 100) as long)").as("c75"))
    d.join(broadcast(cuts), "lang")
      .withColumn("tier", lit(1L) +
        when(col("n") * 100 > col("c25"), 1L).otherwise(0L) +
        when(col("n") * 100 > col("c50"), 1L).otherwise(0L) +
        when(col("n") * 100 > col("c75"), 1L).otherwise(0L))
      .groupBy(col("lang"), col("tier"))
      .agg(count(lit(1)).as("n_docs"), min(col("n")).as("min_tokens"),
        max(col("n")).as("max_tokens"), sum(col("n")).as("sum_tokens"))
      .orderBy("lang", "tier")
  }

  private def qTextSentiment(s: SparkSession, dir: String): DataFrame = {
    val tk = Text.tokens(col("text"))
    def cnt(words: Seq[String]) =
      size(filter(tk, t => t.isInCollection(words))).cast("long")
    Tables.documents(s, dir)
      .select(col("doc_id"), size(tk).cast("long").as("n_tokens"),
        cnt(posLex).as("n_pos"), cnt(negLex).as("n_neg"))
      .where(col("n_tokens") > 0)
      .withColumn("pos_bp", expr("(10000 * n_pos) div n_tokens"))
      .withColumn("neg_bp", expr("(10000 * n_neg) div n_tokens"))
      .withColumn("net_bp", col("pos_bp") - col("neg_bp"))
      .withColumn("label",
        when(col("n_pos") > col("n_neg"), "pos")
          .when(col("n_pos") < col("n_neg"), "neg").otherwise("neutral"))
      .orderBy("doc_id")
  }

  /** Boilerplate-span detection (the C4/RefinedWeb cleaning step that
    * strips nav bars, cookie banners, license headers): the fraction
    * of a doc's distinct 4-gram shingles that are "common" — present
    * in ≥ 3 distinct documents corpus-wide. Docs over 50% common
    * shingles are flagged. Scale shape: the shingle df is one keyed
    * aggregation with map-side partials; the common-shingle set stays
    * DISTRIBUTED and prunes via a left-semi join on the shingle key
    * (a real corpus's boilerplate vocabulary never broadcasts or
    * collects) — the same channel as split_ngram_leakage/novelty.
    * Ratios are integer basis points, engine-exact. */
  private def qTextBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val sh = Text.distinctShingles(Tables.documents(s, dir),
      col("text"), col("doc_id"), 4)
    val common = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .where(col("df") >= 3).select("shingle")
    val perDoc = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val nCommon = sh.join(common, Seq("shingle"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_common"))
    perDoc.join(nCommon, Seq("doc_id"), "left").na.fill(0L, Seq("n_common"))
      .withColumn("boilerplate_bp", expr("(10000 * n_common) div n_shingles"))
      .withColumn("flagged", col("boilerplate_bp") >= 5000)
      .orderBy("doc_id")
  }

  /** Top-20 bigram collocations by integer lift — the PMI-family
    * collocation miner (Church & Hanks, CL 1990) that surfaces
    * multi-word expressions worth protecting from tokenizer splits.
    * Log-PMI can't be engine-exact; the lift RATIO can: lift =
    * P(a,b) / (P(a)·P(b)) = cab·T² / (B·ca·cb) in basis points, with
    * the multiply order (((10⁴·cab·T) div ca)·T) div (B·cb) chosen so
    * the largest intermediate is bounded by 10⁴·T·T (cab ≤ ca keeps
    * the first quotient ≤ 10⁴·T) — inside DECIMAL(38,0) even at
    * T ~ 10¹³ tokens. Shape: two map-side-combined group-bys (unigram,
    * bigram counts), two token-keyed joins of bigram counts against
    * the unigram table, one broadcast scalar total, and a global
    * top-20 that runs as TakeOrderedAndProject (per-partition top-20,
    * never a full sort). Shuffle volume is the distinct-bigram count,
    * not the token count.
    */
  private def qTextCollocations(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
    val uni = toks.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val bi = toks.where(size(col("tk")) >= 2)
      .select(explode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(count(lit(1)).as("cab"))
      .where(col("cab") >= 20)
    val tot = toks.agg(
      sum(size(col("tk")).cast("long")).as("t"),
      sum(greatest(size(col("tk")) - 1, lit(0)).cast("long")).as("b"))
    bi.join(uni.select(col("w").as("l"), col("cw").as("ca")), "l")
      .join(uni.select(col("w").as("r"), col("cw").as("cb")), "r")
      .crossJoin(broadcast(tot))
      .select(concat(col("l"), lit(" "), col("r")).as("bigram"), col("cab"),
        // Spark's `div` always narrows to BIGINT, so the quotient must
        // be re-widened to DECIMAL(38,0) BEFORE the second ·t — without
        // the cast that multiply runs in 64-bit and wraps silently past
        // ~10⁷ tokens (the DuckDB mirror stays HUGEINT throughout, so
        // the engines would diverge exactly at the documented scale)
        expr("CAST((CAST(((10000 * CAST(cab AS DECIMAL(38,0)) * t) div ca) " +
          "AS DECIMAL(38,0)) * t) " +
          "div (CAST(b AS DECIMAL(38,0)) * cb) AS BIGINT)").as("lift_bp"))
      .orderBy(col("lift_bp").desc, col("bigram"))
      .limit(20)
  }

  /** Integer-exact BM25 top-10 ([[graft.ops.Retrieval.bm25TopK]]) —
    * the ranked-retrieval serving shape (search / RAG context
    * selection) as one corpus scan: literal-term tf via scan-stage
    * array filters, one broadcast stats row, TakeOrderedAndProject
    * top-k. See Retrieval's scaladoc for the bit-length idf and
    * cross-multiplied tf-saturation arithmetic.
    */
  private def qTextBm25Topk(s: SparkSession, dir: String): DataFrame =
    graft.ops.Retrieval.bm25TopK(Tables.documents(s, dir),
      col("text"), col("doc_id"), bm25Terms, 10)

  /** BPE tokenizer application ([[graft.ops.Text.bpeMergedCount]]):
    * per-doc subword token counts under the literal 8-rule merge
    * table, next to the raw pre-token count — the tokenizer-serving
    * pipeline stage (token budgeting, packing inputs, per-doc cost
    * estimates run on MERGED counts, not whitespace counts). Pure
    * scan-stage projection; compression_bp = how much the merges
    * shrank the symbol stream, exact in basis points.
    */
  private def qTextBpeEncode(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        Text.bpeTokenCount(col("text")).as("n_pretokens"),
        Text.bpeMergedCount(bpeMerges).cast("long").as("n_bpe_tokens"),
        length(regexp_replace(lower(trim(col("text"))), "\\s+", ""))
          .cast("long").as("n_chars"))
      .select(col("doc_id"), col("n_pretokens"), col("n_bpe_tokens"),
        expr("CAST(10000 * n_bpe_tokens div greatest(n_chars, 1) AS BIGINT)")
          .as("compression_bp"))
      .orderBy("doc_id")

  /** Boilerplate-coverage quality signal: the share of each document
    * made of the corpus's 20 most frequent trigrams — the
    * template/navigation/licence-header detector that complements
    * text_repetition (WITHIN-doc repetition): a doc can be internally
    * diverse yet 80% assembled from corpus-wide boilerplate, and it's
    * the cross-doc kind that poisons an LM. Per doc: trigram position
    * count, boilerplate-position count, and coverage in basis points
    * (exact integer division).
    *
    * Scale shape: two passes over the trigram stream — a gram-keyed
    * count for the global top-20 (map-side combined, top-k bounded),
    * then a scan with the 20-row table broadcast and one doc-keyed
    * aggregate. The two passes are the honest trade: persisting the
    * exploded gram stream to save a scan would cache a frame ~3× the
    * corpus. */
  private def qTextBoilerplateCoverage(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
      .where(size(col("tk")) >= 3)
    def tris(src: DataFrame): DataFrame = src.select(col("doc_id"),
        explode(arrays_zip(
          slice(col("tk"), lit(1), size(col("tk")) - 2),
          slice(col("tk"), lit(2), size(col("tk")) - 2),
          slice(col("tk"), lit(3), size(col("tk")) - 2))).as("g"))
      .select(col("doc_id"),
        concat_ws(" ", col("g.0"), col("g.1"), col("g.2")).as("tri"))
    val top = tris(docs).groupBy(col("tri")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("tri").asc).limit(20)
      .select(col("tri"), lit(true).as("boiler"))
    tris(docs).join(broadcast(top), Seq("tri"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler"))
      .select(col("doc_id"), col("n_trigrams"), col("n_boiler"),
        expr("(10000 * n_boiler) div n_trigrams").as("coverage_bp"))
      .orderBy("doc_id")
  }

  /** Stupid-backoff trigram LM scoring (Brants et al., EMNLP 2007 —
    * "Large Language Models in Machine Translation": at web scale the
    * unnormalized 0.4-backoff score replaces Kneser-Ney and quality
    * converges with data). Counts come from the TRAIN split only and
    * the val/test docs are scored against them — held-out scoring is
    * what makes backoff real (a corpus scored on its own counts never
    * backs off). Per trigram position, scaled 10⁶ and integer-exact:
    * c₃>0 → 10⁶·c₃ div c₂(w₁w₂); else bigram seen → 0.4-discounted
    * 4·10⁵·c₂(w₂w₃) div c₁(w₂); else unigram seen → 0.4²-discounted
    * 16·10⁴·c₁(w₃) div T; else 0 (OOV). Doc score = mean over
    * positions. Shape: three map-side-combined count tables from the
    * train split, five gram-keyed joins against the EVAL positions
    * only (the small side), one doc-keyed rollup — the canonical
    * count-then-join LM pipeline; nothing ever shuffles on more than
    * a gram key.
    */
  private def qTextTrigramBackoff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), Text.tokens(col("text")).as("tk"),
        graft.ops.Sampling.assignSplit(col("doc_id")).as("split"))
    val train = docs.where(col("split") === "train")
    def grams(src: DataFrame, n: Int): DataFrame = {
      val sliced = (0 until n).map(o =>
        slice(col("tk"), lit(o + 1), size(col("tk")) - (n - 1)).as(s"w$o"))
      src.where(size(col("tk")) >= n)
        .select(col("doc_id"), explode(arrays_zip(sliced: _*)).as("g"))
        .select((col("doc_id") +: (0 until n).map(o => col(s"g.w$o").as(s"w$o"))): _*)
    }
    // uni and big each feed TWO backoff joins (w1 and w2 probes) —
    // pinned so the tokenize+explode+aggregate over the train corpus
    // runs once per table, not once per probe (measured 7 scans → 5)
    val uni = train.select(explode(col("tk")).as("u1"))
      .groupBy("u1").agg(count(lit(1)).as("c1"))
      .transform(graft.ops.AnnCache.pin)
    val big = grams(train, 2).groupBy(col("w0").as("b1"), col("w1").as("b2"))
      .agg(count(lit(1)).as("c2"))
      .transform(graft.ops.AnnCache.pin)
    val tri = grams(train, 3).groupBy(col("w0").as("t1"), col("w1").as("t2"),
        col("w2").as("t3")).agg(count(lit(1)).as("c3"))
    val tot = train.agg(sum(size(col("tk")).cast("long")).as("t"))
    val pos = grams(docs.where(col("split") =!= "train"), 3)
    val scored = pos
      .join(tri, col("w0") === col("t1") && col("w1") === col("t2") &&
        col("w2") === col("t3"), "left")
      .join(big.select(col("b1").as("p1"), col("b2").as("p2"), col("c2").as("cp")),
        col("w0") === col("p1") && col("w1") === col("p2"), "left")
      .join(big.select(col("b1").as("q1"), col("b2").as("q2"), col("c2").as("cb")),
        col("w1") === col("q1") && col("w2") === col("q2"), "left")
      .join(uni.select(col("u1").as("m1"), col("c1").as("cm")),
        col("w1") === col("m1"), "left")
      .join(uni.select(col("u1").as("m3"), col("c1").as("cw")),
        col("w2") === col("m3"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        // counts reach 10¹³ at full scale: the ×10⁶ product rides
        // DECIMAL(38,0); the quotient is ≤ 10⁶ so it lands in BIGINT
        when(col("c3").isNotNull,
          expr("CAST(1000000 * CAST(c3 AS DECIMAL(38,0)) div cp AS BIGINT)"))
          .when(col("cb").isNotNull,
            expr("CAST(400000 * CAST(cb AS DECIMAL(38,0)) div cm AS BIGINT)"))
          .when(col("cw").isNotNull,
            expr("CAST(160000 * CAST(cw AS DECIMAL(38,0)) div t AS BIGINT)"))
          .otherwise(0L).as("contrib"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        expr("sum(contrib) div count(1)").as("score"))
      .orderBy("doc_id")
  }

  /** Language-ID confusion matrix — the operator-evaluation query for
    * the langid heuristic (same pattern as the Bloom confusion table:
    * the engine measures its OWN classifier against the fixture's
    * ground-truth lang column, and the matrix is first-class data a
    * pipeline owner reads before trusting the filter). One scan-stage
    * classification + one (truth, guess)-keyed aggregate.
    */
  private def qTextLangidConfusion(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select((Seq(col("doc_id"), col("lang")) ++ Text.langScores("text")): _*)
      .withColumn("lang_guess", Text.langGuess)
      .groupBy(col("lang"), col("lang_guess"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "lang_guess")

  protected def textExtQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bigram_lm" -> (qTextBigramLm _),
    "text_bm25_topk" -> (qTextBm25Topk _),
    "text_boilerplate" -> (qTextBoilerplate _),
    "text_bpe_encode" -> (qTextBpeEncode _),
    "text_bpe_pairs" -> (qTextBpePairs _),
    "text_chi2_terms" -> (qTextChi2Terms _),
    "text_classifier_score" -> (qTextClassifierScore _),
    "text_clf_calibration" -> (qTextClfCalibration _),
    "text_collocations" -> (qTextCollocations _),
    "text_conjunctive" -> (qTextConjunctive _),
    "text_fingerprint" -> (qTextFingerprint _),
    "text_langid" -> (qTextLangid _),
    "text_langid_confusion" -> (qTextLangidConfusion _),
    "text_length_quantiles" -> (qTextLengthQuantiles _),
    "text_length_tiers" -> (qTextLengthTiers _),
    "text_oov_rate" -> (qTextOovRate _),
    "text_pii_redact" -> (qTextPiiRedact _),
    "text_posting_lists" -> (qTextPostingLists _),
    "text_quality" -> (qTextQuality _),
    "text_repetition" -> (qTextRepetition _),
    "text_sentiment" -> (qTextSentiment _),
    "text_skipgram_pairs" -> (qTextSkipgramPairs _),
    "text_tfidf" -> (qTextTfidf _),
    "text_token_stats" -> (qTextTokenStats _),
    "text_trigram_backoff" -> (qTextTrigramBackoff _),
    "text_boilerplate_coverage" -> (qTextBoilerplateCoverage _),
    "text_vocab_growth" -> (qTextVocabGrowth _),
    "text_vocab_topk" -> (qTextVocabTopk _),
    "text_zipf_audit" -> (qTextZipfAudit _),
    "text_fertility" -> (qTextFertility _),
    "text_term_burstiness" -> (qTextTermBurstiness _),
    "text_entropy_proxy" -> (qTextEntropyProxy _),
    "text_hapax_ratio" -> (qTextHapaxRatio _),
  )

  protected def textExtOracles: Map[String, String] = Map(
    // same deterministic top-20 cut both sides: (freq DESC, tri ASC)
    "text_boilerplate_coverage" ->
      s"""WITH t AS (SELECT doc_id, $TK AS tk FROM documents),
         |tg AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS tri
         |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(tk)-2)) AS i) g
         |       WHERE len(tk) >= 3),
         |bp AS (SELECT tri FROM (SELECT tri, COUNT(*) AS f FROM tg GROUP BY 1
         |        ORDER BY f DESC, tri ASC LIMIT 20)),
         |agg AS (SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
         |          CAST(SUM(CASE WHEN bp.tri IS NOT NULL THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_boiler
         |        FROM tg d LEFT JOIN bp ON d.tri = bp.tri GROUP BY 1)
         |SELECT doc_id, n_trigrams, n_boiler,
         |       (10000 * n_boiler) // n_trigrams AS coverage_bp
         |FROM agg ORDER BY doc_id""".stripMargin,

    "text_bigram_lm" ->
      s"""WITH t AS (SELECT doc_id, $TK AS tk FROM documents),
         |b0 AS (SELECT doc_id, unnest(tk[1:len(tk)-1]) AS l, unnest(tk[2:len(tk)]) AS r
         |       FROM t WHERE len(tk) >= 2),
         |b AS (SELECT doc_id, l || ' ' || r AS bigram FROM b0),
         |c AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS bn FROM b GROUP BY 1)
         |SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |       CAST(SUM(c.bn) // COUNT(*) AS BIGINT) AS commonness
         |FROM b JOIN c USING (bigram)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_bm25_topk" -> graft.ops.Retrieval.bm25TopKSql(bm25Terms, 10, TK),

    "text_boilerplate" ->
      s"""WITH t AS (SELECT doc_id, $TK AS tk FROM documents),
         |sh AS (SELECT DISTINCT doc_id,
         |         tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] AS shingle
         |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(tk)-3)) AS i) g
         |       WHERE len(tk) >= 4),
         |cm AS (SELECT shingle FROM (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1)
         |       WHERE df >= 3),
         |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM sh GROUP BY 1),
         |nc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_common FROM sh
         |       WHERE shingle IN (SELECT shingle FROM cm) GROUP BY 1)
         |SELECT pd.doc_id, pd.n_shingles, COALESCE(nc.n_common, 0) AS n_common,
         |       (10000 * COALESCE(nc.n_common, 0)) // pd.n_shingles AS boilerplate_bp,
         |       (10000 * COALESCE(nc.n_common, 0)) // pd.n_shingles >= 5000 AS flagged
         |FROM pd LEFT JOIN nc ON pd.doc_id = nc.doc_id
         |ORDER BY pd.doc_id""".stripMargin,

    "text_bpe_encode" -> {
      val pat = graft.ops.Text.bpeTokenPattern
      s"""WITH b AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), '$pat', 0)) AS BIGINT) AS n_pretokens,
         |    CAST(${graft.ops.Text.bpeMergedCountSql(bpeMerges)} AS BIGINT) AS n_bpe_tokens,
         |    CAST(length(regexp_replace(lower(trim(text)), '\\s+', '', 'g')) AS BIGINT) AS n_chars
         |  FROM documents)
         |SELECT doc_id, n_pretokens, n_bpe_tokens,
         |       CAST(10000 * n_bpe_tokens // GREATEST(n_chars, 1) AS BIGINT) AS compression_bp
         |FROM b ORDER BY doc_id""".stripMargin
    },

    // two aligned unnests over the list sliced against its own shift —
    // the same zip-with-shift the engine runs; both slices are empty
    // when a doc has < 2 pre-tokens (the engine's size >= 2 guard)
    "text_bpe_pairs" ->
      s"""WITH t AS (SELECT regexp_extract_all(lower(trim(text)),
         |                    '${Text.bpeTokenPattern}', 0) AS tk
         |           FROM documents),
         |p AS (SELECT unnest(tk[1:len(tk)-1]) AS "left",
         |             unnest(tk[2:len(tk)]) AS "right" FROM t)
         |SELECT "left", "right", CAST(COUNT(*) AS BIGINT) AS n
         |FROM p GROUP BY 1, 2
         |ORDER BY n DESC, "left" ASC, "right" ASC LIMIT 30""".stripMargin,

    "text_chi2_terms" ->
      s"""WITH t AS (SELECT doc_id, lang = 'en' AS cls, $TK AS tk
         |           FROM documents),
         |tot AS (SELECT CAST(SUM(CASE WHEN cls THEN 1 ELSE 0 END) AS BIGINT)
         |               AS n1,
         |               CAST(COUNT(*) AS BIGINT) AS nn FROM t),
         |p AS (SELECT DISTINCT doc_id, cls, u.term
         |      FROM t, LATERAL (SELECT unnest(tk) AS term) u),
         |per AS (SELECT term,
         |          CAST(SUM(CASE WHEN cls THEN 1 ELSE 0 END) AS BIGINT) AS a,
         |          CAST(SUM(CASE WHEN NOT cls THEN 1 ELSE 0 END) AS BIGINT) AS b
         |        FROM p GROUP BY 1),
         |s AS (SELECT term, a, b, n1 - a AS c, nn - n1 - b AS d, nn
         |      FROM per, tot)
         |SELECT term, a AS n_en_with, b AS n_other_with,
         |       CAST((10000 * CAST(nn AS HUGEINT)
         |             * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
         |             * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c))
         |            // greatest(CAST(a + b AS HUGEINT) * (c + d)
         |                        * (a + c) * (b + d), 1) AS BIGINT) AS chi2_bp
         |FROM s ORDER BY chi2_bp DESC, term LIMIT 20""".stripMargin,

    "text_classifier_score" ->
      s"""WITH s AS (SELECT doc_id,
         |             CAST(${graft.ops.Text.hashedLinearScoreSql(TK, clfWeights)} AS BIGINT) AS score
         |           FROM documents)
         |SELECT doc_id, score, (score >= 0) AS keep
         |FROM s ORDER BY doc_id""".stripMargin,

    "text_clf_calibration" ->
      s"""WITH t AS (SELECT doc_id, $TK AS tk FROM documents),
         |s AS (SELECT CAST(${graft.ops.Text.hashedLinearScoreSql("tk", clfWeights)} AS BIGINT) AS score,
         |        (len(tk) < 10
         |         OR 100 * len(list_filter(tk, t -> t IN ($stopList))) > 60 * len(tk)) AS lq
         |      FROM t),
         |b AS (SELECT least(greatest(score + 16384, 0) // 2000, 15) AS bin,
         |             score, lq FROM s)
         |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(CASE WHEN lq THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
         |       MIN(score) AS min_score, MAX(score) AS max_score,
         |       CAST((10000 * SUM(CASE WHEN lq THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS low_rate_bp
         |FROM b GROUP BY 1 ORDER BY bin""".stripMargin,

    "text_collocations" ->
      s"""WITH t AS (SELECT doc_id, $TK AS tk FROM documents),
         |uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw
         |       FROM (SELECT unnest(tk) AS w FROM t) GROUP BY 1),
         |bc AS (SELECT l, r, CAST(COUNT(*) AS BIGINT) AS cab
         |       FROM (SELECT unnest(tk[1:len(tk)-1]) AS l, unnest(tk[2:len(tk)]) AS r
         |             FROM t WHERE len(tk) >= 2)
         |       GROUP BY 1, 2 HAVING COUNT(*) >= 20),
         |tot AS (SELECT CAST(SUM(len(tk)) AS BIGINT) AS t,
         |               CAST(SUM(GREATEST(len(tk) - 1, 0)) AS BIGINT) AS b FROM t)
         |SELECT bc.l || ' ' || bc.r AS bigram, bc.cab AS cab,
         |       CAST((((10000 * CAST(bc.cab AS HUGEINT) * tot.t) // ua.cw) * tot.t)
         |            // (CAST(tot.b AS HUGEINT) * ub.cw) AS BIGINT) AS lift_bp
         |FROM bc JOIN uc ua ON bc.l = ua.w JOIN uc ub ON bc.r = ub.w CROSS JOIN tot
         |ORDER BY lift_bp DESC, bigram LIMIT 20""".stripMargin,

    "text_conjunctive" ->
      s"""WITH t AS (SELECT doc_id, $TK AS tk FROM documents),
         |p AS (SELECT doc_id, tok AS term FROM t,
         |        LATERAL (SELECT unnest(tk) AS tok) u
         |      WHERE tok IN ('dup', 'spark', 'merge')),
         |g AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         |      FROM p GROUP BY 1, 2),
         |a AS (SELECT doc_id, COUNT(*) AS n_terms, SUM(tf) AS tf_total
         |      FROM g GROUP BY 1)
         |SELECT doc_id, CAST(tf_total AS BIGINT) AS tf_total
         |FROM a WHERE n_terms = 3 ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      s"""WITH t AS (SELECT doc_id,
         |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm FROM documents)
         |SELECT doc_id, md5(norm) AS fingerprint,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(norm, ''), c -> CAST(ascii(c) AS BIGINT))),
         |    (acc, c) -> (acc * 31 + c) % 1000000007) AS rolling_hash,
         |  CAST(len(regexp_extract_all(norm, '${Text.bpeTokenPattern}', 0)) AS BIGINT) AS n_bpe_tokens
         |FROM t ORDER BY doc_id""".stripMargin,

    "text_langid" ->
      s"""WITH t AS (SELECT doc_id, lang, $TK AS tk FROM documents),
         |s AS (SELECT doc_id, lang,
         |       $langScoreSql
         |  FROM t)
         |SELECT doc_id, lang, s_en, s_es, s_de, s_fr,
         |       $langGuessSql AS lang_guess
         |FROM s ORDER BY doc_id""".stripMargin,

    "text_langid_confusion" ->
      s"""WITH t AS (SELECT doc_id, lang, $TK AS tk FROM documents),
         |s AS (SELECT doc_id, lang,
         |       $langScoreSql
         |  FROM t),
         |g AS (SELECT lang, $langGuessSql AS lang_guess FROM s)
         |SELECT lang, lang_guess, CAST(COUNT(*) AS BIGINT) AS n
         |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "text_length_quantiles" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
         |  CAST(round(quantile_cont(len($TK), 0.5) * 100) AS BIGINT) AS p50_x100,
         |  CAST(round(quantile_cont(len($TK), 0.9) * 100) AS BIGINT) AS p90_x100,
         |  CAST(round(quantile_cont(len($TK), 0.99) * 100) AS BIGINT) AS p99_x100
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_length_tiers" ->
      s"""WITH d AS (SELECT lang, CAST(len($TK) AS BIGINT) AS n FROM documents),
         |cuts AS (SELECT lang,
         |  CAST(round(quantile_cont(CAST(n AS DOUBLE), 0.25) * 100) AS BIGINT) AS c25,
         |  CAST(round(quantile_cont(CAST(n AS DOUBLE), 0.5) * 100) AS BIGINT) AS c50,
         |  CAST(round(quantile_cont(CAST(n AS DOUBLE), 0.75) * 100) AS BIGINT) AS c75
         |  FROM d GROUP BY 1),
         |t AS (SELECT d.lang, n,
         |  1 + (CASE WHEN 100 * n > c25 THEN 1 ELSE 0 END)
         |    + (CASE WHEN 100 * n > c50 THEN 1 ELSE 0 END)
         |    + (CASE WHEN 100 * n > c75 THEN 1 ELSE 0 END) AS tier
         |  FROM d JOIN cuts ON d.lang = cuts.lang)
         |SELECT lang, CAST(tier AS BIGINT) AS tier, COUNT(*) AS n_docs,
         |       MIN(n) AS min_tokens, MAX(n) AS max_tokens,
         |       CAST(SUM(n) AS BIGINT) AS sum_tokens
         |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "text_oov_rate" ->
      s"""WITH t AS (SELECT doc_id, $TK AS tk FROM documents),
         |t2 AS (SELECT * FROM t WHERE len(tk) >= 1),
         |v AS (SELECT u.t FROM (
         |        SELECT u.t, COUNT(*) AS c
         |        FROM t2, LATERAL (SELECT unnest(tk) AS t) u GROUP BY 1
         |        ORDER BY c DESC, u.t LIMIT 100) u),
         |a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |        CAST(SUM(CASE WHEN tok.t IN (SELECT t FROM v) THEN 0 ELSE 1 END)
         |             AS BIGINT) AS n_oov
         |      FROM t2, LATERAL (SELECT unnest(tk) AS t) tok GROUP BY 1)
         |SELECT doc_id, n_tokens, n_oov,
         |       (10000 * n_oov) // n_tokens AS oov_bp
         |FROM a ORDER BY doc_id""".stripMargin,

    "text_pii_redact" ->
      s"""WITH p AS (SELECT doc_id,
         |  text ||
         |  CASE WHEN doc_id % 3 = 0
         |       THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
         |  CASE WHEN doc_id % 2 = 0
         |       THEN ' call +1-555-01' || doc_id ELSE '' END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  ${graft.ops.Redact.countEmailsSql("text")} AS n_emails,
         |  ${graft.ops.Redact.countPhonesSql("text")} AS n_phones,
         |  md5(${graft.ops.Redact.redactSql("text")}) AS redacted_md5
         |FROM p ORDER BY doc_id""".stripMargin,

    "text_posting_lists" ->
      s"""WITH toks AS (SELECT doc_id, unnest($TK) AS token FROM documents),
         |vocab AS (SELECT token FROM (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY 1)
         |          ORDER BY cnt DESC, token ASC LIMIT 30),
         |dt AS (SELECT DISTINCT token, doc_id FROM toks
         |       WHERE token IN (SELECT token FROM vocab)),
         |dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY 1),
         |top20 AS (SELECT token, doc_id FROM (
         |            SELECT *, row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rk
         |            FROM dt) WHERE rk <= 20),
         |p AS (SELECT token, array_to_string(list_sort(list(doc_id)), ',') AS postings
         |      FROM top20 GROUP BY 1)
         |SELECT dfreq.token, dfreq.df, p.postings
         |FROM dfreq JOIN p ON dfreq.token = p.token
         |ORDER BY dfreq.token""".stripMargin,

    "text_quality" ->
      s"""WITH t AS (SELECT doc_id, $TK AS tk,
         |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(tk, t -> t IN ($stopList))) AS BIGINT) AS n_stop,
         |  CAST(len(list_filter(tk, t -> length(t) <= 2)) AS BIGINT) AS n_short,
         |  CAST(length(norm) - length(regexp_replace(norm, '[^a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
         |  (len(tk) < 10 OR
         |   100 * len(list_filter(tk, t -> t IN ($stopList))) > 60 * len(tk)) AS is_low_quality
         |FROM t ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      s"""WITH t AS (SELECT doc_id, $TK AS tk FROM documents),
         |gr AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS g
         |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(tk)-1)) AS i) u
         |       WHERE len(tk) >= 2),
         |per AS (SELECT doc_id, g, COUNT(*) AS cnt FROM gr GROUP BY 1, 2),
         |agg AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
         |               CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
         |               CAST(MAX(cnt) AS BIGINT) AS top_gram_n
         |        FROM per GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(a.n_grams, 0) AS n_grams,
         |  COALESCE(a.n_distinct_grams, 0) AS n_distinct_grams,
         |  COALESCE(a.top_gram_n, 0) AS top_gram_n,
         |  CASE WHEN COALESCE(a.n_grams, 0) > 0
         |       THEN (10000 * (a.n_grams - a.n_distinct_grams)) // a.n_grams
         |       ELSE 0 END AS dup_gram_bp,
         |  CASE WHEN COALESCE(a.n_grams, 0) > 0
         |       THEN (10000 * a.top_gram_n) // a.n_grams
         |       ELSE 0 END AS top_gram_bp
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "text_sentiment" -> {
      val pl = posLex.map(w => s"'$w'").mkString(", ")
      val nl = negLex.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, $TK AS tk FROM documents),
         |c AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(tk, x -> x IN ($pl))) AS BIGINT) AS n_pos,
         |  CAST(len(list_filter(tk, x -> x IN ($nl))) AS BIGINT) AS n_neg
         |  FROM t WHERE len(tk) > 0),
         |b AS (SELECT *, (10000 * n_pos) // n_tokens AS pos_bp,
         |        (10000 * n_neg) // n_tokens AS neg_bp FROM c)
         |SELECT doc_id, n_tokens, n_pos, n_neg, pos_bp, neg_bp,
         |       pos_bp - neg_bp AS net_bp,
         |       CASE WHEN n_pos > n_neg THEN 'pos'
         |            WHEN n_pos < n_neg THEN 'neg' ELSE 'neutral' END AS label
         |FROM b ORDER BY doc_id""".stripMargin
    },

    "text_skipgram_pairs" ->
      s"""WITH t AS (SELECT $TK AS tk FROM documents),
         |p AS (SELECT tk[i] AS center, tk[j] AS context
         |      FROM t,
         |        LATERAL (SELECT unnest(generate_series(1, len(tk))) AS i) gi,
         |        LATERAL (SELECT unnest(generate_series(greatest(1, i - 2),
         |                               least(len(tk), i + 2))) AS j) gj
         |      WHERE j <> i AND len(tk) >= 2)
         |SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n
         |FROM p GROUP BY 1, 2
         |ORDER BY n DESC, center, context LIMIT 30""".stripMargin,

    "text_tfidf" ->
      s"""WITH toks AS (SELECT doc_id, unnest($TK) AS token FROM documents),
         |vocab AS (SELECT token FROM (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY 1)
         |          ORDER BY cnt DESC, token ASC LIMIT 30),
         |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM toks WHERE doc_id < 25 GROUP BY 1, 2),
         |dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
         |          FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY 1)
         |SELECT tf.doc_id, tf.token, tf.tf, dfreq.df
         |FROM tf JOIN vocab USING (token) JOIN dfreq USING (token)
         |ORDER BY doc_id, token""".stripMargin,

    "text_token_stats" ->
      s"""WITH t AS (SELECT doc_id, $TK AS tk FROM documents)
         |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |       CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct
         |FROM t ORDER BY doc_id""".stripMargin,

    "text_trigram_backoff" ->
      s"""WITH d AS (SELECT doc_id, $TK AS tk,
         |             ${graft.ops.Sampling.assignSplitSql("doc_id")} AS split FROM documents),
         |tr AS (SELECT * FROM d WHERE split = 'train'),
         |uni AS (SELECT w AS u1, CAST(COUNT(*) AS BIGINT) AS c1
         |        FROM (SELECT unnest(tk) AS w FROM tr) GROUP BY 1),
         |big AS (SELECT b1, b2, CAST(COUNT(*) AS BIGINT) AS c2 FROM (
         |          SELECT unnest(tk[1:len(tk)-1]) AS b1, unnest(tk[2:len(tk)]) AS b2
         |          FROM tr WHERE len(tk) >= 2) GROUP BY 1, 2),
         |tri AS (SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS c3 FROM (
         |          SELECT unnest(tk[1:len(tk)-2]) AS t1, unnest(tk[2:len(tk)-1]) AS t2,
         |                 unnest(tk[3:len(tk)]) AS t3
         |          FROM tr WHERE len(tk) >= 3) GROUP BY 1, 2, 3),
         |tot AS (SELECT CAST(SUM(len(tk)) AS BIGINT) AS t FROM tr),
         |pos AS (SELECT doc_id, unnest(tk[1:len(tk)-2]) AS w0,
         |               unnest(tk[2:len(tk)-1]) AS w1, unnest(tk[3:len(tk)]) AS w2
         |        FROM d WHERE split <> 'train' AND len(tk) >= 3),
         |sc AS (SELECT pos.doc_id,
         |         CASE WHEN tri.c3 IS NOT NULL
         |                THEN CAST(1000000 * CAST(tri.c3 AS HUGEINT) // bp.c2 AS BIGINT)
         |              WHEN bq.c2 IS NOT NULL
         |                THEN CAST(400000 * CAST(bq.c2 AS HUGEINT) // um.c1 AS BIGINT)
         |              WHEN uw.c1 IS NOT NULL
         |                THEN CAST(160000 * CAST(uw.c1 AS HUGEINT) // tot.t AS BIGINT)
         |              ELSE 0 END AS contrib
         |       FROM pos
         |       LEFT JOIN tri ON pos.w0 = tri.t1 AND pos.w1 = tri.t2 AND pos.w2 = tri.t3
         |       LEFT JOIN big bp ON pos.w0 = bp.b1 AND pos.w1 = bp.b2
         |       LEFT JOIN big bq ON pos.w1 = bq.b1 AND pos.w2 = bq.b2
         |       LEFT JOIN uni um ON pos.w1 = um.u1
         |       LEFT JOIN uni uw ON pos.w2 = uw.u1
         |       CROSS JOIN tot)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
         |       CAST(SUM(contrib) // COUNT(*) AS BIGINT) AS score
         |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_vocab_growth" ->
      s"""WITH tok AS (SELECT DISTINCT doc_id, token FROM (
         |    SELECT doc_id, unnest(${graft.ops.Text.tokensSql()}) AS token
         |    FROM documents)),
         |f AS (SELECT token, MIN(doc_id) AS doc_id FROM tok GROUP BY 1),
         |n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS new_terms
         |      FROM f GROUP BY 1)
         |SELECT d.doc_id, COALESCE(n.new_terms, 0) AS new_terms,
         |       CAST(SUM(COALESCE(n.new_terms, 0)) OVER (ORDER BY d.doc_id)
         |         AS BIGINT) AS cum_vocab
         |FROM documents d LEFT JOIN n USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "text_fertility" ->
      s"""WITH t AS (SELECT source, CAST(len($TK) AS BIGINT) AS tk, n_chars
         |  FROM documents)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(tk) AS BIGINT) AS n_tokens,
         |       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         |       (100 * CAST(SUM(n_chars) AS BIGINT))
         |         // greatest(CAST(SUM(tk) AS BIGINT), 1)
         |         AS chars_per_token_x100,
         |       CAST(SUM(tk) AS BIGINT) // COUNT(*) AS tokens_per_doc
         |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_hapax_ratio" ->
      s"""WITH tok AS (SELECT source, unnest($TK) AS term FROM documents),
         |tf AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS f
         |  FROM tok GROUP BY 1, 2)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab,
         |       CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         |       (10000 * CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT))
         |         // COUNT(*) AS hapax_bp,
         |       (10000 * CAST(SUM(CASE WHEN f <= 2 THEN 1 ELSE 0 END) AS BIGINT))
         |         // COUNT(*) AS dis_bp
         |FROM tf GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_entropy_proxy" ->
      s"""WITH tok AS (SELECT source, unnest($TK) AS term FROM documents),
         |tf AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS f
         |  FROM tok GROUP BY 1, 2),
         |t AS (SELECT source, CAST(SUM(f) AS BIGINT) AS n_tokens,
         |    CAST(COUNT(*) AS BIGINT) AS vocab FROM tf GROUP BY 1),
         |c AS (SELECT tf.source, t.n_tokens, t.vocab,
         |    f * (length(bin(t.n_tokens)) - length(bin(f))) AS contrib
         |  FROM tf JOIN t ON tf.source = t.source)
         |SELECT source, MAX(n_tokens) AS n_tokens, MAX(vocab) AS vocab,
         |       (100 * CAST(SUM(contrib) AS BIGINT)) // MAX(n_tokens)
         |         AS h_centibits
         |FROM c GROUP BY source ORDER BY source""".stripMargin,

    "text_term_burstiness" ->
      s"""WITH tok AS (SELECT doc_id, unnest($TK) AS term FROM documents),
         |st AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS tf,
         |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM tok GROUP BY 1 ORDER BY tf DESC, term LIMIT 30),
         |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
         |SELECT CAST(row_number() OVER (ORDER BY tf DESC, term) AS BIGINT)
         |         AS rank,
         |       term, tf, df, (100 * tf) // df AS burstiness_x100,
         |       (10000 * df) // n_docs AS df_share_bp
         |FROM st, nd ORDER BY rank""".stripMargin,

    "text_vocab_topk" ->
      s"""WITH t AS (SELECT unnest($TK) AS token FROM documents)
         |SELECT token, COUNT(*) AS n FROM t
         |GROUP BY 1 ORDER BY n DESC, token ASC LIMIT 100""".stripMargin,

    "text_zipf_audit" ->
      s"""WITH t AS (SELECT $TK AS tk FROM documents),
         |tf AS (SELECT u.term, CAST(COUNT(*) AS BIGINT) AS f
         |       FROM t, LATERAL (SELECT unnest(tk) AS term) u
         |       GROUP BY 1 ORDER BY f DESC, u.term LIMIT 30),
         |r AS (SELECT term, f,
         |        CAST(row_number() OVER (ORDER BY f DESC, term) AS BIGINT) AS rank
         |      FROM tf),
         |f1 AS (SELECT f AS f1 FROM r WHERE rank = 1)
         |SELECT rank, term, f,
         |       CAST((10000 * CAST(f AS HUGEINT) * rank) // f1 AS BIGINT) AS zipf_bp
         |FROM r CROSS JOIN f1 ORDER BY rank""".stripMargin,

  )
}
