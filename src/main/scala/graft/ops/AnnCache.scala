package graft.ops

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once cache for trained ANN indexes ([[Ivf]], [[Pq]],
  * [[IvfPq]]).
  *
  * An index is built once and queried many times — that is the entire
  * economics of ANN: training cost amortizes over the query stream,
  * and no deployment retrains per query. This cache gives the library
  * that operational shape in a single JVM: the first call under a key
  * pays training, every later call gets the finished index. Keys must
  * encode everything that affects the build (data dir, operator,
  * hyperparameters); the session's applicationId is prefixed
  * automatically so an index can never outlive the SparkContext whose
  * blocks back it (a new context simply rebuilds).
  *
  * Component DataFrames are pinned with an EAGER localCheckpoint: the
  * materialized blocks live OUTSIDE the CacheManager, so the
  * catalog-level `clearCache()` hygiene that Bench/Verify run between
  * queries cannot evict them, and checkpointing truncates the
  * iterative training lineage so no downstream action can re-trigger a
  * Lloyd round. On a multi-executor cluster the equivalent is writing
  * codes/cells to a parquet index table once and scanning it per
  * query; localCheckpoint is the single-JVM analog of that shape.
  */
object AnnCache {
  private val cache = new ConcurrentHashMap[String, AnyRef]()

  /** Query name currently executing, set by the harness mains (Bench/
    * Dev/Verify) before each run. Build cost under a shared memo key
    * lands on whichever query touches it FIRST in run order, so a memo
    * refactor silently shifts seconds between queries and a
    * round-over-round bench diff reads an attribution change as a
    * regression (the r18 `dedup_containment_prefix` +71% exec-s
    * adjudication). The [memo-build] stderr line names the payer so
    * that diagnosis is one look at the bench log, not a re-measurement
    * campaign. Volatile suffices: the bench harnesses run queries
    * sequentially; a concurrent double-build (documented below) at
    * worst logs two payers, both true. */
  @volatile private var currentQuery: String = "?"

  /** Record which query is about to run (harness attribution only —
    * has no effect on caching semantics). */
  def setContext(name: String): Unit = currentQuery = name

  /** Memoize a built index under `key`; the first caller builds.
    * Entries keyed by OTHER applicationIds are evicted on the way in:
    * only one SparkContext is active per JVM, so a different prefix
    * means a stopped session whose indexes are dead weight (their
    * blocks died with the context) — without eviction a JVM that
    * restarts its session (the shared sbt test JVM) pins one
    * generation of stale object graphs per restart. */
  def memo[T <: AnyRef](spark: SparkSession, key: String)(build: => T): T = {
    val prefix = spark.sparkContext.applicationId + ":"
    cache.keySet.removeIf(k => !k.startsWith(prefix))
    // get-then-putIfAbsent, NOT computeIfAbsent: builds compose (the
    // pair-graph memo builds on the shingle memo), and a nested
    // computeIfAbsent on the same ConcurrentHashMap is illegal
    // (recursive update — throws or corrupts when both keys land in
    // one bin). The relaxed form can double-build under a concurrent
    // first touch, which is benign: both results are pinned frames of
    // identical data and the loser is dropped.
    val k = prefix + key
    val existing = cache.get(k)
    if (existing != null) existing.asInstanceOf[T]
    else {
      val t0 = System.nanoTime()
      val built = build
      System.err.println(String.format(java.util.Locale.ROOT,
        "[memo-build] key=%s paidBy=%s buildMs=%.0f",
        key, currentQuery, Double.box((System.nanoTime() - t0) / 1e6)))
      val prev = cache.putIfAbsent(k, built)
      (if (prev != null) prev else built).asInstanceOf[T]
    }
  }

  /** Materialize an index component or a query's shared frame so it
    * survives inter-query cache hygiene and carries no build lineage;
    * the query builders call it mid-chain (`.transform(AnnCache.pin)`). */
  def pin(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Merge a pinned frame's checkpoint partitions to a data-scaled
    * read width (a partition merge, no shuffle): a localCheckpoint
    * keeps its build's partition count, so at fixture scale every
    * consumer's map stage pays one fixed task cost per inherited
    * partition to move a few thousand rows — measured on the
    * co-presence edge pin as 16 tasks × ~250 ms of pure overhead per
    * downstream exchange (events_assortativity carried 8.0 exec-s on
    * a 0.5 s query). The width follows the relax family's
    * rows-per-task discipline (Graph.RelaxEdgeRowsPerTask): fixture
    * frames merge to a handful of tasks, a 100 TB frame still reads
    * at full width. The count is one bounded scan of the
    * already-materialized checkpoint. */
  def scaledRead(df: DataFrame, rowsPerTask: Long = 2000000L): DataFrame =
    df.coalesce(math.max(1L, math.min(df.rdd.getNumPartitions.toLong,
      df.count() / rowsPerTask + 1L)).toInt)

  /** Drop every cached index (test hygiene). */
  def clear(): Unit = cache.clear()
}
