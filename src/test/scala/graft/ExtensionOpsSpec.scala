package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** Extension operators against planted synthetic fixtures: known
  * near-dups must be found, known non-dups must not. */
class ExtensionOpsSpec extends SparkSpec {
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
  private val docs = Seq(
    (1L, base, "s0"),
    (2L, base.replace("kappa", "kappa2"), "s1"),       // near-dup of 1
    (3L, "completely different words entirely here now today maybe sometimes never always", "s0"),
    (4L, "  " + base.toUpperCase + "  ", "s1"),        // exact dup of 1 after normalization
    (5L, base.split(" ").reverse.mkString(" "), "s0")  // same tokens, different order
  ).toDF("doc_id", "text", "source")

  test("exact dedup groups normalize case and whitespace") {
    val groups = Dedup.exactGroups(docs, col("text"), col("doc_id"))
    val g = groups.where(col("n_docs") > 1).collect()
    assert(g.length === 1)
    assert(g.head.getAs[Long]("n_docs") === 2L)
    assert(g.head.getAs[Long]("rep_doc_id") === 1L)
  }

  test("incrementalExact drops store hits and intra-batch dups, keeps the rest") {
    val seen = Dedup.exactGroups(docs.where($"doc_id" <= 2), $"text", $"doc_id")
      .select($"fingerprint")
    // 10: dup of stored doc 1 (normalization included) → dropped;
    // 11/12: identical within the batch → first id wins;
    // 13: genuinely new → kept
    val batch = Seq(
      (10L, "  " + base.toUpperCase + " ", "s9"),
      (11L, "brand new content entirely", "s9"),
      (12L, "brand new content entirely", "s9"),
      (13L, "another fresh document here", "s9")
    ).toDF("doc_id", "text", "source")
    val kept = Dedup.incrementalExact(batch, seen, $"text", $"doc_id")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept === Set(11L, 13L))
  }

  test("minhash-LSH finds the planted near-dup pair and nothing else") {
    val pairs = Dedup.minhashNearDups(docs, col("text"), col("doc_id"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))  // 17/23 shared 3-shingles > 0.5
    assert(pairs.contains((1L, 4L)))  // identical after normalization
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.contains((1L, 5L))) // same tokens, no shared shingles
  }

  test("banded LSH (8x4) cuts candidate pairs vs r=1 at equal recall") {
    // corpus of template mutations: pairwise shingle-Jaccard ~0.2-0.3
    // (below the 0.5 dup threshold) — exactly the regime where r=1
    // banding floods candidates and r=4 banding does not
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 400).map(i => s"w$i")
    val template = (0 until 60).map(_ => vocab(rnd.nextInt(400)))
    def mutate(p: Double, r: scala.util.Random) =
      template.map(t => if (r.nextDouble() < p) vocab(r.nextInt(400)) else t).mkString(" ")
    val base = (0 until 60).map(i => (i.toLong, mutate(0.2, new scala.util.Random(i))))
    val planted = Seq( // J >= 0.8 true near-dups of docs 0 and 1
      (1000L, mutate(0.2, new scala.util.Random(0)).replaceFirst("w", "x")),
      (1001L, mutate(0.2, new scala.util.Random(1)).replaceFirst("w", "x")))
    val corpus = (base ++ planted).toDF("doc_id", "text")
    val sh = Text.distinctShingles(corpus, col("text"), col("doc_id"), 3)
    val candBanded = Dedup.lshCandidates(Dedup.minhashBandKeys(sh, 8, 4), 100)
    val candR1 = Dedup.lshCandidates(Dedup.minhashBandKeys(sh, 32, 1), 100)
    val nBanded = candBanded.count(); val nR1 = candR1.count()
    assert(nBanded * 5 < nR1, s"banded=$nBanded r1=$nR1 — expected >5x reduction")
    val verify = (c: org.apache.spark.sql.DataFrame) =>
      Dedup.jaccardVerify(c, sh, 1, 2).select("doc_a", "doc_b")
        .as[(Long, Long)].collect().toSet
    val got = verify(candBanded)
    assert(got === verify(candR1), "equal recall: same verified pairs")
    assert(got.contains((0L, 1000L)) && got.contains((1L, 1001L)))
    // the cap monitor reports what a tiny cap would drop, and capping
    // to 1 kills every candidate (no bucket can pair)
    val banded = Dedup.minhashBandKeys(sh, 8, 4)
    assert(Dedup.oversizedBuckets(banded, 1).count() > 0)
    assert(Dedup.lshCandidates(banded, 1).count() === 0)
  }

  test("pairJaccardStats covers every candidate; jaccardFromStats ≡ jaccardVerify") {
    // template-mutation corpus: enough sub-threshold band collisions
    // (incl. zero-overlap ones) that the LEFT-vs-INNER intersection
    // distinction is actually exercised, plus planted true near-dups
    // so the verified keep set is non-trivial
    val rnd = new scala.util.Random(23)
    val vocab = (0 until 300).map(i => s"w$i")
    val template = (0 until 50).map(_ => vocab(rnd.nextInt(300)))
    def mutate(p: Double, r: scala.util.Random) =
      template.map(t => if (r.nextDouble() < p) vocab(r.nextInt(300)) else t).mkString(" ")
    val base = (0 until 40).map(i => (i.toLong, mutate(0.25, new scala.util.Random(i))))
    val planted = Seq(
      (1000L, mutate(0.25, new scala.util.Random(0)).replaceFirst("w", "x")),
      (1001L, mutate(0.25, new scala.util.Random(1)).replaceFirst("w", "x")))
    val corpus = (base ++ planted).toDF("doc_id", "text")
    val sh = Text.distinctShingles(corpus, col("text"), col("doc_id"), 3)
    val cand = Dedup.lshCandidates(Dedup.minhashBandKeys(sh, 8, 4), 100)
    val stats = Dedup.pairJaccardStats(cand, sh)
    // the stats table keeps EVERY candidate pair (zero-overlap band
    // collisions ride as NULL inter — the calibration rows)
    assert(stats.count() === cand.count())
    for ((num, den) <- Seq((1, 2), (8, 10), (1, 5))) {
      val fromStats = Dedup.jaccardFromStats(stats, num, den)
      val direct = Dedup.jaccardVerify(cand, sh, num, den)
      // schema INCLUDING nullability: the driver's output contract is
      // typed, so the stats path must not leak left-join nullability
      assert(fromStats.schema === direct.schema, s"schema drift at $num/$den")
      val a = fromStats.collect().map(_.toSeq).sortBy(_.toString)
      val b = direct.collect().map(_.toSeq).sortBy(_.toString)
      assert(a.nonEmpty, s"degenerate fixture at $num/$den — nothing verified")
      assert(a === b, s"keep set drift at $num/$den")
    }
  }

  test("edit-distance pairs find the typo variant, skip length-incompatible docs") {
    // doc 2 is one substitution away from doc 1's normal form (kappa →
    // kappa2 = 1 insertion); docs 1 and 4 normalize identically (dist 0);
    // doc 5 shares the block key only if first==last token — it doesn't
    val pairs = Dedup.editDistancePairs(docs, col("text"), col("doc_id"), maxDist = 5)
      .select("doc_a", "doc_b", "edit_dist").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs.get((1L, 2L)).contains(1L), s"typo pair missing: $pairs")
    assert(pairs.get((1L, 4L)).contains(0L), "normalized exact dup must be distance 0")
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical docs collide, dissimilar docs differ") {
    val sh = Dedup.simhash(docs, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) === sh(4L))
    assert(sh(1L) === sh(5L)) // simhash is order-insensitive by design
    assert(sh(1L) !== sh(3L))
  }

  test("embedding near-dup finds the planted perturbed vector") {
    val v = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val vNear = v.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.001f else x }
    val vOpp = v.map(x => -x)
    val vOther = Array.tabulate(64)(i => math.cos(3 * i + 2).toFloat)
    val emb = Seq((1L, v.toSeq), (2L, vNear.toSeq), (3L, vOpp.toSeq), (4L, vOther.toSeq))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(emb, col("embedding"), col("vec_id"),
        bucketBits = 8, num = 90, den = 100)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("brute-force top-k ranks the planted nearest first; LSH agrees on scores") {
    val rnd = new scala.util.Random(1)
    val q = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val near = q.map(_ * 1.01f)
    val rows = (0 until 50).map { i =>
      (100L + i, Array.fill(64)(rnd.nextFloat() - 0.5f).toSeq)
    } :+ (999L, near.toSeq)
    val cands = rows.toDF("vec_id", "embedding")
    val queries = Seq((1L, q.toSeq)).toDF("vec_id", "embedding")
    val brute = Similarity.topKBruteForce(cands, queries, col("embedding"), col("vec_id"), 5)
      .orderBy("rnk").select("vec_id", "dot").as[(Long, Long)].collect()
    assert(brute.head._1 === 999L)
    val lsh = Similarity.topKLsh(cands, queries, col("embedding"), col("vec_id"), 5, bits = 6)
      .select("vec_id", "dot").as[(Long, Long)].collect().toMap
    val bruteMap = brute.toMap
    lsh.foreach { case (id, dot) =>
      if (bruteMap.contains(id)) assert(bruteMap(id) === dot)
    }
    assert(lsh.contains(999L)) // planted near vector shares all sign bits
  }

  test("IVF top-k recalls the planted near vector with 2-probe") {
    val rnd = new scala.util.Random(3)
    val q = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val near = q.map(_ * 1.02f)
    val rows = (0 until 200).map { i =>
      (100L + i, Array.fill(64)(rnd.nextFloat() - 0.5f).toSeq)
    } :+ (999L, near.toSeq)
    val cands = rows.toDF("vec_id", "embedding")
    val queries = Seq((1L, q.toSeq)).toDF("vec_id", "embedding")
    val index = Ivf.build(cands, col("embedding"), col("vec_id"), k = 8)
    val got = Ivf.topK(index, queries, col("embedding"), col("vec_id"), k = 5, nProbe = 2)
      .orderBy("rnk").select("vec_id").as[Long].collect()
    assert(got.head === 999L) // query's own cell contains its scaled copy
    // determinism: same seed → same result
    val again = Ivf.topK(Ivf.build(cands, col("embedding"), col("vec_id"), k = 8),
      queries, col("embedding"), col("vec_id"), k = 5, nProbe = 2)
      .orderBy("rnk").select("vec_id").as[Long].collect()
    assert(got.toSeq === again.toSeq)
  }

  test("filtered IVF: every hit passes the filter, recall holds vs filtered brute force") {
    val dir = "/root/testdata/sf0.001"
    val df = ExtensionQueries.simTopkIvfFilteredRows(spark, dir)
    // purity: the label predicate is a scan filter on the index, so a
    // single out-of-filter hit means the metadata column didn't ride
    // the index build
    val emb = graft.Tables.embeddings(spark, dir)
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    val hits = df.select("vec_id").as[Long].collect()
    assert(hits.nonEmpty)
    assert(hits.forall(emb(_) < 5), "result leaked a filtered-out candidate")
    val recalls = df.select("recall_x100").as[Long].collect()
    assert(recalls.sum.toDouble / recalls.length >= 80.0,
      s"mean filtered recall ${recalls.sum.toDouble / recalls.length} below envelope")
    val audit = ExtensionQueries.queries("sim_topk_ivf_filtered")(spark, dir)
      .select($"q_vec_id", $"n_results", $"recall_ok")
      .as[(Long, Long, Boolean)].collect()
    assert(audit.length === 8)
    assert(audit.forall { case (_, n, ok) => n == 10L && ok })
  }

  test("filtered IVF-PQ: filter prunes before scoring, shortlist stays pure") {
    val dir = "/root/testdata/sf0.001"
    val df = ExtensionQueries.simTopkIvfPqFilteredRows(spark, dir)
    val emb = graft.Tables.embeddings(spark, dir)
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    val hits = df.select("vec_id").as[Long].collect()
    assert(hits.nonEmpty)
    assert(hits.forall(emb(_) < 5), "result leaked a filtered-out candidate")
    val audit = ExtensionQueries.queries("sim_topk_ivfpq_filtered")(spark, dir)
      .select($"q_vec_id", $"n_results", $"recall_ok")
      .as[(Long, Long, Boolean)].collect()
    assert(audit.length === 8)
    assert(audit.forall { case (_, n, ok) => n == 10L && ok })
  }

  test("filtered PQ: coded-table filter keeps the shortlist pure, audit clears") {
    val dir = "/root/testdata/sf0.001"
    val df = ExtensionQueries.simTopkPqFilteredRows(spark, dir)
    val emb = graft.Tables.embeddings(spark, dir)
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    val hits = df.select("vec_id").as[Long].collect()
    assert(hits.nonEmpty)
    assert(hits.forall(emb(_) < 5), "result leaked a filtered-out candidate")
    val audit = ExtensionQueries.queries("sim_topk_pq_filtered")(spark, dir)
      .select($"q_vec_id", $"n_results", $"recall_ok")
      .as[(Long, Long, Boolean)].collect()
    assert(audit.length === 8)
    assert(audit.forall { case (_, n, ok) => n == 10L && ok })
  }

  test("registered IVF query self-reports recall >= 0.8 on the fixture") {
    val df = ExtensionQueries.simTopkIvfRows(spark, "/root/testdata/sf0.001")
    val recalls = df.select("recall_x100").as[Long].collect()
    assert(recalls.nonEmpty)
    assert(recalls.sum.toDouble / recalls.length >= 80.0,
      s"mean recall ${recalls.sum.toDouble / recalls.length} below envelope")
    // the registered (oracle-gated) audit shape: 8 queries, k rows
    // each, every recall floor cleared
    val audit = ExtensionQueries.queries("sim_topk_ivf")(spark, "/root/testdata/sf0.001")
      .select($"q_vec_id", $"n_results", $"recall_ok")
      .as[(Long, Long, Boolean)].collect()
    assert(audit.length === 8)
    assert(audit.forall { case (_, n, ok) => n == 10L && ok })
  }

  test("PQ rerank recalls the planted near vector at rank 1") {
    val rnd = new scala.util.Random(7)
    val q = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val near = q.map(_ * 1.02f)
    val rows = (0 until 200).map { i =>
      (100L + i, Array.fill(64)(rnd.nextFloat() - 0.5f).toSeq)
    } :+ (999L, near.toSeq)
    val cands = rows.toDF("vec_id", "embedding")
    val queries = Seq((1L, q.toSeq)).toDF("vec_id", "embedding")
    val index = graft.ops.Pq.build(cands, col("embedding"), col("vec_id"),
      dim = 64, m = 8, k = 16)
    // a scaled copy of the query dominates every random vector on
    // inner product, so as long as ADC keeps it in the shortlist the
    // exact re-rank must place it first
    val got = graft.ops.Pq.topKReranked(index, cands, queries,
        col("embedding"), col("vec_id"), k = 5, shortlist = 50)
      .orderBy("rnk").select("vec_id").as[Long].collect()
    assert(got.head === 999L)
    // determinism: same seed → same index → same result
    val again = graft.ops.Pq.topKReranked(
        graft.ops.Pq.build(cands, col("embedding"), col("vec_id"), dim = 64, m = 8, k = 16),
        cands, queries, col("embedding"), col("vec_id"), k = 5, shortlist = 50)
      .orderBy("rnk").select("vec_id").as[Long].collect()
    assert(got.toSeq === again.toSeq)
  }

  test("IVF-PQ recalls the planted near vector at rank 1 and self-reports recall") {
    val rnd = new scala.util.Random(11)
    val q = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val near = q.map(_ * 1.02f)
    val rows = (0 until 200).map { i =>
      (100L + i, Array.fill(64)(rnd.nextFloat() - 0.5f).toSeq)
    } :+ (999L, near.toSeq)
    val cands = rows.toDF("vec_id", "embedding")
    val queries = Seq((1L, q.toSeq)).toDF("vec_id", "embedding")
    val index = graft.ops.IvfPq.build(cands, col("embedding"), col("vec_id"),
      dim = 64, cells = 8, m = 8, k = 16)
    // the scaled copy dominates every dot product, so once its cell is
    // probed the ADC shortlist + exact re-rank must surface it at rank
    // 1. Probe 6 of 8 cells: Spark ML's k-means|| init is
    // partitioning-dependent, so WHICH cell holds the planted outlier
    // varies by session layout, and near-zero random centroids make
    // the q·c probe order itself noise-dominated — a narrow probe
    // would pin the test to one layout's luck, not the contract
    val got = graft.ops.IvfPq.topK(index, cands, queries,
        col("embedding"), col("vec_id"), k = 5, nProbe = 6, shortlist = 50)
      .orderBy("rnk").select("vec_id").as[Long].collect()
    assert(got.head === 999L)
    // fixture envelope for the registered query (calibrated like PQ's)
    val df = ExtensionQueries.simTopkIvfPqRows(spark, "/root/testdata/sf0.001")
    val recalls = df.select("recall_x100").as[Long].collect()
    assert(recalls.nonEmpty)
    assert(recalls.sum.toDouble / recalls.length >= 40.0,
      s"mean recall ${recalls.sum.toDouble / recalls.length} below envelope")
    val perQ = df.groupBy("q_vec_id").count().select("count").as[Long].collect()
    assert(perQ.forall(_ == 10L))
    val audit = ExtensionQueries.queries("sim_topk_ivfpq")(spark, "/root/testdata/sf0.001")
      .select($"q_vec_id", $"n_results", $"recall_ok")
      .as[(Long, Long, Boolean)].collect()
    assert(audit.length === 8 && audit.forall { case (_, n, ok) => n == 10L && ok })
  }

  test("registered PQ query self-reports shortlist recall on the fixture") {
    // uniform random vectors are PQ's worst case — the envelope here is
    // calibrated to the fixture (measured ~0.51 at sf0.001 with a
    // 50-candidate shortlist + exact re-rank over a 192-vector corpus);
    // the operator contract under test is that the self-reported recall
    // column is present, populated, and not degenerate
    val df = ExtensionQueries.simTopkPqRows(spark, "/root/testdata/sf0.001")
    val recalls = df.select("recall_x100").as[Long].collect()
    assert(recalls.nonEmpty)
    assert(recalls.sum.toDouble / recalls.length >= 40.0,
      s"mean recall ${recalls.sum.toDouble / recalls.length} below envelope")
    // every query returns exactly k rows (dense codebook survived)
    val perQ = df.groupBy("q_vec_id").count().select("count").as[Long].collect()
    assert(perQ.forall(_ == 10L))
    val audit = ExtensionQueries.queries("sim_topk_pq")(spark, "/root/testdata/sf0.001")
      .select($"q_vec_id", $"n_results", $"recall_ok")
      .as[(Long, Long, Boolean)].collect()
    assert(audit.length === 8 && audit.forall { case (_, n, ok) => n == 10L && ok })
  }

  test("multimodal decode stub is deterministic and batch-shaped") {
    val media = Seq(
      Multimodal.MediaRecord(1L, "image/fake", "payload-one".getBytes),
      Multimodal.MediaRecord(2L, "image/fake", "payload-two-longer".getBytes)
    ).toDS()
    val feats = Multimodal.decodeFeatures(media).collect().sortBy(_.media_id)
    assert(feats.map(_.media_id).toSeq === Seq(1L, 2L))
    assert(feats.head.byte_len === 11L)
    assert(feats.head.feature.length === 8)
    val again = Multimodal.decodeFeatures(media).collect().sortBy(_.media_id)
    assert(feats.head.feature.toSeq === again.head.feature.toSeq)
    assert(feats.head.width === 16 + 11 % 64)
  }

  test("resize emits correctly-shaped deterministic buffers per row") {
    val media = Seq(
      Multimodal.MediaRecord(1L, "image/fake", "payload-one".getBytes),
      Multimodal.MediaRecord(2L, "image/fake", "two".getBytes)).toDS()
    val out = Multimodal.resize(Multimodal.decodeFeatures(media), 32, 24)
      .collect().sortBy(_.media_id)
    assert(out.map(_.media_id).toSeq === Seq(1L, 2L))
    assert(out.forall(r => r.width === 32 && r.height === 24))
    assert(out.forall(r => r.pixels.length === 32 * 24 * r.channels))
    val again = Multimodal.resize(Multimodal.decodeFeatures(media), 32, 24)
      .collect().sortBy(_.media_id)
    assert(out.head.pixels.toSeq === again.head.pixels.toSeq)
    assert(out(0).pixels.toSeq !== out(1).pixels.toSeq)
  }

  test("aHash: local edit flips few bits, different content flips many") {
    val longA = ("the quick brown fox jumps over the lazy dog again and again " * 8)
    val longB = longA.replace("jumps", "jumqs") // one-char edit
    val other = "completely unrelated material with other words entirely xyz " * 8
    val media = Seq((1L, longA), (2L, longB), (3L, other))
      .toDF("media_id", "content")
    val h = Multimodal.aHashed(media, $"content", $"media_id")
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(2L)) <= 3,
      s"one-char edit moved ${ham(h(1L), h(2L))} bits")
    assert(ham(h(1L), h(3L)) > 10,
      s"unrelated content only ${ham(h(1L), h(3L))} bits apart")
  }

  test("aHashNearDups finds the planted pair through the band channel") {
    val longA = ("the quick brown fox jumps over the lazy dog again and again " * 8)
    val media = Seq(
      (1L, longA), (2L, longA.replace("jumps", "jumqs")),
      (3L, ("completely unrelated material with other words entirely xyz " * 8)))
      .toDF("media_id", "content")
    val pairs = Multimodal.aHashNearDups(media, $"content", $"media_id")
      .select("media_a", "media_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("aHash is degenerate-input safe (empty and sub-segment-length content)") {
    val media = Seq((1L, ""), (2L, "short"), (3L, "short"))
      .toDF("media_id", "content")
    val h = Multimodal.aHashed(media, $"content", $"media_id")
      .as[(Long, Long)].collect().toMap
    assert(h(2L) === h(3L), "identical content must hash identically")
    assert(h.size === 3) // empty content still emits a row
  }

  test("frame sampling explodes n frames with monotone offsets") {
    val media = Seq((1L, "0123456789".getBytes)).toDF("media_id", "payload")
    val frames = Multimodal.sampleFrames(media, 4).orderBy("frame_idx").collect()
    assert(frames.length === 4)
    assert(frames.map(_.getAs[Long]("byte_offset")).toSeq === Seq(0L, 2L, 4L, 6L))
  }

  test("distinctCount: NULLs not counted, all-null groups kept at 0") {
    val df = Seq(("a", Some(1L)), ("a", Some(1L)), ("a", None),
      ("b", None), ("b", None)).toDF("g", "v")
    val got = Skew.distinctCount(df, Seq(col("g")), col("v"))
      .as[(String, Long)].collect().toMap
    assert(got === Map("a" -> 1L, "b" -> 0L))
  }

  test("signBucket hashes the overlapping prefix for off-dim vectors") {
    val v64 = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val emb = Seq((1L, v64.toSeq), (2L, v64.take(32).toSeq),
      (3L, (v64 ++ v64.take(8)).toSeq)).toDF("vec_id", "embedding")
    val b = emb.select($"vec_id",
        Vectors.signBucket(Vectors.quantize($"embedding"), 8).as("b"))
      .as[(Long, Long)].collect().toMap
    // a short vector must not collapse into the all-zero bucket
    assert((b(2L) != 0L) || (b(1L) == 0L))
    // extra dims beyond the plane width are ignored
    assert(b(3L) === b(1L))
  }

  test("language scores + quality signals compute known values") {
    val d = Seq((1L, "the cat and the dog of a house!!")).toDF("doc_id", "text")
    val q = d.select((col("doc_id") +: Text.qualitySignals(col("text"))): _*).collect().head
    assert(q.getAs[Long]("n_tokens") === 8L)
    assert(q.getAs[Long]("n_stop") === 5L)   // the, and, the, of, a
    assert(q.getAs[Long]("n_punct") === 2L)
    val l = d.select((col("doc_id") +: Text.langScores("text")): _*)
      .withColumn("g", Text.langGuess).collect().head
    assert(l.getAs[String]("g") === "en")
  }
}
