package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Watermark-closed streaming sessionization — the streaming twin of
  * the batch `events_session_window` registry query (reference scope:
  * the consumer-side keyed stateful pass of `consumer.py:26-34`,
  * generalized to session semantics; SURVEY §2.9).
  *
  * Unlike the foreachBatch twins (adoption/retention/funnel in
  * [[Monitors]]), this one is the NATIVE stateful operator end to end:
  * `session_window` over a watermarked event-time column, Append mode.
  * The engine owns the open-session state (merge-on-arrival in the
  * session state store), and a session row is emitted EXACTLY ONCE —
  * when the watermark passes its end (last event + gap), i.e. when no
  * in-delay arrival can still extend it. That emission rule is what
  * makes the twin contract meaningful: the emitted set must equal the
  * batch query's gaps-and-islands result row for row, under any
  * day-aligned arrival split, because watermark-closing a session is
  * deterministic in event time, not in arrival batching.
  *
  * At scale the state is one open session per active key (merged
  * in-place as events arrive) hash-partitioned by the grouping key —
  * the same layout the batch twin's one keyed exchange produces, so
  * a 1000-executor deployment shards state exactly like the batch
  * shuffle shards rows. Nothing here is fixture-sized: no collect, no
  * driver loops; SessionStreamSpec pins twin equality, seeded random
  * split invariance, and checkpointed mid-stream restart.
  */
object SessionStream {

  /** Streaming sessionizer over `(user_id, ts)` rows: sessions break on
    * a silence of `gap`, end = last event + gap (the `session_window`
    * operator's definition, identical to the batch twin's). The
    * watermark delay bounds how long an open session waits for
    * stragglers: arrivals ≤ `watermarkDelay` late in event time still
    * merge into their session; anything later is dropped by the
    * engine, and the session it belonged to has already been emitted.
    * Output schema matches `events_session_window` exactly
    * (user_id, session_start, session_end, n_events — NTZ timestamps,
    * the board's output-type convention).
    */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
                 watermarkDelay: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).cast("long").as("n_events"))
      .select(col("user_id"),
        col("w.start").cast("timestamp_ntz").as("session_start"),
        col("w.end").cast("timestamp_ntz").as("session_end"),
        col("n_events"))
}
