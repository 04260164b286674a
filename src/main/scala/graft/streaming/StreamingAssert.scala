package graft.streaming

import graft.model.Triples
import graft.sources.RowIngest
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming extension of the write path (SURVEY.md §2.8 — the
  * reference has no streaming; this is the engine's incremental
  * `assert_facts`).
  *
  * Triples are an append-only stream: each micro-batch of source rows
  * flattens with the SAME deterministic ingest used in batch
  * (RowIngest.tableToTriples works unchanged on a streaming DataFrame —
  * narrow ops only), stamped with an event-time `txTime` for watermarking.
  *
  * Cardinality-one upsert, which batch resolves with a window
  * (TripleStore.resolved), becomes keyed state here: latest-txTime-wins
  * per (e, a) via flatMapGroupsWithState — emitting a new resolved value
  * only when it displaces the current one, exactly the reference's
  * "retract differing old values" semantics (tripl.py:419-427) in
  * incremental form.
  */
object StreamingAssert {

  /** Flatten a streaming source into an append-only triple stream, with
    * the source's event-time column riding along as `txTime` (outside the
    * triple schema) for watermarking. Same deterministic flatten as
    * batch — narrow ops only, so it runs unchanged under streaming. */
  def streamTriplesWithTime(rows: DataFrame, spec: RowIngest.TableSpec,
      eventTime: String): DataFrame =
    RowIngest.tableToTriples(rows, spec, passthrough = Seq(eventTime))
      .withColumnRenamed(eventTime, "txTime")

  /** Resolved state of one (e, a): the surviving fact's value rendering +
    * its event time. */
  case class CardOneState(value: String, atMicros: Long)
  case class ResolvedFact(e: String, a: String, value: String, atMicros: Long)

  /** Incremental cardinality-one resolution: keyed by (e, a), keep the
    * latest-event-time value; emit on change.
    *
    * STATE LIFETIME. Default (`stateTtlSeconds = None`): no eviction —
    * the state IS the live upsert table, one small record per (e, a)
    * pair, correct for entity universes that fit keyed state (the
    * durable-at-any-scale alternative is the persisted TripleStore +
    * batch resolution). With `Some(ttl)` the machine runs under
    * `EventTimeTimeout`: a pair idle for ttl seconds past its last
    * ACCEPTED write (by event time, measured against the watermark)
    * drops its state — bounding total state by pairs active within one
    * (delay + ttl) span. Documented divergences after an eviction: a
    * re-assert of the same value re-emits (state no longer remembers
    * it), and a LATE event older than the evicted record could seed a
    * stale value — size ttl ≫ the watermark delay so only genuinely
    * idle pairs age out. */
  def resolveCardOne(
      triples: Dataset[Row],
      watermarkCol: String = "txTime",
      watermarkDelay: String = "10 seconds",
      stateTtlSeconds: Option[Long] = None): Dataset[ResolvedFact] = {
    val spark = triples.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (stateTtlSeconds.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    // cast BEFORE the watermark and project the attribute through
    // un-wrapped — an Alias over Cast(attr) strips the event-time
    // metadata the EventTimeTimeout check requires (the
    // StreamingFunnel lesson); micros derive in the lambda
    triples
      .withColumn(watermarkCol, col(watermarkCol).cast("timestamp"))
      .withWatermark(watermarkCol, watermarkDelay)
      .select($"e", $"a", Triples.valueAsString().as("value"),
        col(watermarkCol).as("at"))
      .as[(String, String, String, java.time.Instant)]
      .groupByKey { case (e, a, _, _) => (e, a) }
      .flatMapGroupsWithState[CardOneState, ResolvedFact](
        OutputMode.Append, timeoutConf) {
        (key: (String, String),
         rawRows: Iterator[(String, String, String, java.time.Instant)],
         state: GroupState[CardOneState]) =>
          if (state.hasTimedOut) {
            // idle past the TTL horizon: drop the pair's state; the
            // resolved value lives on in whatever sink consumed it
            state.remove()
            Iterator.empty
          } else {
            val rows = rawRows.map(r => (r._1, r._2, r._3,
              r._4.getEpochSecond * 1000000L + r._4.getNano / 1000L))
            val latest = rows.maxBy(_._4)
            val cur = state.getOption
            // ALWAYS advance state when latest wins — a re-assert of an
            // equal value must still bump atMicros, or an older
            // out-of-order value arriving later would incorrectly
            // displace it. Only the EMISSION is gated on change.
            val out = if (cur.forall(c => latest._4 >= c.atMicros)) {
              state.update(CardOneState(latest._3, latest._4))
              if (cur.forall(_.value != latest._3))
                Iterator(ResolvedFact(key._1, key._2, latest._3, latest._4))
              else Iterator.empty
            } else Iterator.empty
            stateTtlSeconds.foreach { ttl =>
              state.setTimeoutTimestamp(math.max(
                state.get.atMicros / 1000L + ttl * 1000L,
                state.getCurrentWatermarkMs() + 1L))
            }
            out
          }
      }
  }

  /** Windowed aggregation over an event stream (watermark + tumbling
    * window) — the standard streaming-analytics surface over ingested
    * facts. Returns (window, event_type, n, sum_value). */
  def windowedEventCounts(events: DataFrame, window: String = "1 hour",
      watermarkDelay: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** SLIDING-window aggregation — overlapping windows of length `window`
    * advancing every `slide`: the rate-monitor shape ("events per hour,
    * refreshed every 30 minutes"). Spark expands each event into its
    * window/slide window assignments BEFORE the keyed aggregation — a
    * narrow generate, so streaming state stays one row per live
    * (window, type) pair exactly as in the tumbling form; the overlap
    * factor is a plan constant, not a state multiplier. Watermark expiry
    * closes each window `watermarkDelay` after its END, overlapping or
    * not. */
  def slidingEventCounts(events: DataFrame, window: String = "1 hour",
      slide: String = "30 minutes",
      watermarkDelay: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(
        org.apache.spark.sql.functions.window(col("ts"), window, slide),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** STREAMING gap sessionization — the incremental sibling of
    * TimeOps.sessionize: native `session_window` state merges
    * per-(key, session), and a session CLOSES (emits, in append mode)
    * once the watermark passes its end — bounded state, exactly-once
    * session rows, no reprocessing of closed sessions. Emits one row per
    * (user, session): the session window plus its event count. Append
    * mode only emits watermark-closed sessions — a bounded replay must
    * push the watermark past the last session's end (sentinel batch, see
    * q95) or the tail sessions stay buffered, correctly, forever. */
  def sessionWindowCounts(events: DataFrame, gap: String = "30 minutes",
      watermarkDelay: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))
}
