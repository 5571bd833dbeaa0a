package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.TileFunctions

/** Structured Streaming operators: the streaming siblings of the batch
  * queries (EventQueries / HeatmapQueries share the same logical semantics).
  *
  * The reference is batch-only — its entry point is literally named
  * `batchMain` (heatmap.py:152), implying a streaming sibling that was never
  * written; its timespan bucketing is dead code (heatmap.py:38–52). Here the
  * same pipeline runs incrementally: readStream → filter/quantize/fan-out →
  * watermarked windowed aggregation → sink, with state bounded by the
  * watermark.
  *
  * Scale notes: streaming aggregation state is partitioned by group key
  * exactly like the batch shuffle; the watermark bounds state size (late
  * events beyond 1h are dropped); `foreachBatch`/parquet sinks give
  * exactly-once via checkpointing. The custom-state sessionizer keeps one
  * small record per active (user) key and emits on event-time timeout.
  */
object StreamingOps {

  /** Event row shape for typed streaming ops (events.parquet schema). */
  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class Session(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Long)

  /** Watermarked tumbling-window counts per event type (streaming form of
    * EventQueries.winTumbling). */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))

  /** The reference pipeline as a stream: filter (heatmap.py:28 analog),
    * Mercator quantization, user-group fan-out (heatmap.py:62–70), windowed
    * counts per tile. One watermarked aggregation; per-zoom rollups derive
    * downstream exactly like the batch pyramid. */
  def streamingHeatmap(events: DataFrame, zoom: Int, lat: Column, lon: Column,
      perUser: Column, window_ : String = "1 hour",
      watermark: String = "1 hour",
      dropFilter: Column = col("event_type") =!= "view"): DataFrame = {
    graft.plans.GraftExtensions.register(events.sparkSession)
    events
      .filter(dropFilter)
      .select(col("ts"), lat.as("lat"), lon.as("lon"), perUser.as("per_user"))
      .withColumn("user_group", explode(array(lit("all"), col("per_user"))))
      .filter(col("user_group").isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("user_group"),
        TileFunctions.tileId(col("lat"), col("lon"), zoom).as("tile_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("user_group"),
        col("tile_id"), col("cnt"))
  }

  /** Streaming deduplication: drop replayed events by id, with state
    * bounded by the watermark (an id older than the watermark can no longer
    * collide, so its state is dropped — the streaming sibling of the batch
    * dedup family; at 100 TB the state store holds one key per id inside
    * the lateness horizon, not the full history). */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Built-in session windows (30-min gap) — the declarative sessionizer. */
  def sessionWindowCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("user_id"), col("n_events"))

  /** Custom stateful sessionizer via flatMapGroupsWithState: per active
    * user, a SORTED LIST of open (start, end, count) intervals separated by
    * more than the gap; emits a Session once the watermark passes an
    * interval's end + gap (no event inside the watermark can extend it
    * anymore). Demonstrates arbitrary state where session_window's fixed
    * semantics don't fit (e.g. value-dependent gaps).
    *
    * Holding a LIST (not just the newest interval) is what makes the
    * operator batch-equivalent for every arrival order the watermark
    * admits: a late event opens — or extends, or BRIDGES — an earlier
    * interval instead of being emitted as a premature singleton, and two
    * late events within gap of each other land in one session exactly as
    * the batch sessionizer would place them. State stays bounded: an
    * interval lives only until the watermark passes it, so the list holds
    * at most lateness-horizon / gap entries per key. */
  def sessionizeStateful(events: Dataset[Event],
      gapMs: Long = 30L * 60 * 1000): Dataset[Session] = {
    val sp = events.sparkSession
    import sp.implicits._

    // merge t into a start-sorted interval list: intervals entirely more
    // than gap BEFORE t stay left, everything within gap of t collapses
    // into one interval (an event can bridge two), the rest stays right —
    // the separation invariant (successive starts > gap apart) is preserved
    def insert(ivs: List[(Long, Long, Long)], t: Long): List[(Long, Long, Long)] = {
      val (left, rest) = ivs.span(_._2 < t - gapMs)
      val (touching, right) = rest.span(_._1 <= t + gapMs)
      val merged =
        if (touching.isEmpty) (t, t, 1L)
        else (math.min(touching.head._1, t), math.max(touching.last._2, t),
          touching.map(_._3).sum + 1L)
      left ::: merged :: right
    }

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[(Long, Long, Long)], Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event],
            state: GroupState[List[(Long, Long, Long)]]) =>
          val merged = rows.foldLeft(state.getOption.getOrElse(Nil)) {
            (ivs, e) => insert(ivs, e.ts.getTime)
          }
          // close every interval the watermark has STRICTLY passed (end +
          // gap < wm): Spark admits late rows with ts >= wm, and a row at
          // exactly ts == end + gap == wm still merges (t − end == gap), so
          // closing at <= would emit a session the batch twin extends. Data
          // and timeout invocations share this path, so emission timing is
          // uniform
          val wm = state.getCurrentWatermarkMs()
          val (closed, open) = merged.partition(_._2 + gapMs < wm)
          if (open.isEmpty) { if (state.exists) state.remove() }
          else {
            state.update(open)
            // earliest still-open close point — clamped above wm (an
            // interval at end + gap == wm stays open for exactly one more
            // watermark advance, and setTimeoutTimestamp requires > wm)
            state.setTimeoutTimestamp(math.max(open.map(_._2).min + gapMs, wm + 1))
          }
          closed.iterator.map { case (s, e, n) => Session(userId, s, e, n) }
      }
  }

  /** One emitted trajectory (see `events_trajectories` for the batch
    * twin's semantics). */
  final case class Trajectory(user_id: Long, session_idx: Long,
      trajectory: String, n_steps: Long, duration_ms: Long)

  /** Stateful TRAJECTORY assembly — [[sessionizeStateful]] extended to
    * carry each open interval's EVENT RECORDS so a closed session emits
    * the ordered action sequence (the `events_trajectories` export,
    * maintained incrementally). Same interval-list state machine and the
    * same close condition; additionally the state holds a per-user closed
    * counter so `session_idx` matches the batch twin's cumulative-sum
    * numbering: intervals close in start order (a new event admitted by
    * the watermark has ts >= wm > closed.end + gap, so it can never open
    * an interval earlier than one already closed), and the counter
    * numbers them 1-based exactly as the batch `sess` running sum does.
    *
    * State bound: unlike the count-only sessionizer, each open interval
    * holds its event records — the SAME bound as the batch twin's
    * collect_list (a session's own length), paid only for sessions still
    * inside the lateness horizon, never for the full history. */
  def trajectoriesStateful(events: Dataset[Event],
      gapMs: Long = 30L * 60 * 1000): Dataset[Trajectory] = {
    val sp = events.sparkSession
    import sp.implicits._

    // interval: (start, end, records); records unordered until emission
    type Iv = (Long, Long, List[(Long, Long, String)])

    def insert(ivs: List[Iv], e: Event): List[Iv] = {
      val t = e.ts.getTime
      val rec = (t, e.event_id, e.event_type)
      val (left, rest) = ivs.span(_._2 < t - gapMs)
      val (touching, right) = rest.span(_._1 <= t + gapMs)
      val merged =
        if (touching.isEmpty) (t, t, List(rec))
        else (math.min(touching.head._1, t), math.max(touching.last._2, t),
          touching.flatMap(_._3) :+ rec)
      left ::: merged :: right
    }

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, List[(Long, Long, List[(Long, Long, String)])]), Trajectory](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event],
            state: GroupState[(Long, List[(Long, Long, List[(Long, Long, String)])])]) =>
          val (closedSoFar, ivs0) = state.getOption.getOrElse((0L, List.empty[Iv]))
          val merged = rows.foldLeft(ivs0)(insert)
          val wm = state.getCurrentWatermarkMs()
          // the interval list is start-sorted by construction, so the
          // closed prefix preserves start order for the idx assignment
          val (closed, open) = merged.partition(_._2 + gapMs < wm)
          // the per-user counter must SURVIVE interval closure — removing
          // state here (the count-only sessionizer's cleanup) would
          // restart numbering if the user returns. Two longs per
          // ever-seen user is the price of stable per-user numbering;
          // deployments that can key by (user, day) shard it away.
          state.update((closedSoFar + closed.size, open))
          if (open.nonEmpty)
            state.setTimeoutTimestamp(math.max(open.map(_._2).min + gapMs, wm + 1))
          closed.iterator.zipWithIndex.map { case ((s, e, recs), i) =>
            val ordered = recs.sortBy(r => (r._1, r._2))
            Trajectory(userId, closedSoFar + i + 1,
              ordered.map(_._3).mkString(">"), recs.size.toLong, e - s)
          }
      }
  }

  /** One SCD2 version row (see `cdc_scd2` for the batch twin's semantics). */
  final case class Scd2Version(user_id: Long, version_no: Long,
      attr_type: String, attr_value: Double, valid_from_ms: Long,
      valid_to_ms: Option[Long], is_current: Boolean)

  /** Incrementally-maintained SCD2 version history — the streaming twin of
    * `cdc_scd2`: per-key state holds (upsert counter, open version); each
    * arriving event CLOSES the open version (emitting it immediately —
    * closed versions are immutable, the append-mode contract) and an upsert
    * opens the next; a delete closes without opening. The still-open version
    * flushes as current when the key's event-time timeout fires
    * (`flushDelayMs` past its last event — a real deployment sizes this to
    * the max key silence it wants to tolerate before declaring the version
    * final; the gate's watermark sentinel drives it deterministically).
    * Events within a batch are ordered by (ms, event_id), the same unique
    * total order the batch twin uses.
    *
    * Ordering contract: events are totally ordered WITHIN a batch; an
    * event arriving in a LATER batch with a timestamp older than the open
    * version's (late within the watermark, key seen in both batches) would
    * close that version with an inverted interval — the same out-of-order
    * hazard every streaming CDC apply has. A deployment ingesting unordered
    * keys buffers per key until the watermark passes before applying (the
    * gate's single-batch replay satisfies the contract trivially).
    *
    * Finalization is TERMINAL per key — the standard watermark contract
    * (same as a closed session): once the open version has been emitted as
    * current, the state is gone, and a key reappearing after its flush
    * starts a fresh history with version_no restarting at 1. Append mode
    * cannot retract the emitted row; a deployment needing reopen semantics
    * writes to a changelog sink and compacts downstream. */
  def scd2Stateful(events: Dataset[Event], deleteType: String = "error",
      flushDelayMs: Long = 60L * 60 * 1000): Dataset[Scd2Version] = {
    val sp = events.sparkSession
    import sp.implicits._
    // state = (upsert counter, open version as (no, type, value, fromMs))
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Option[(Long, String, Double, Long)]), Scd2Version](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event],
            state: GroupState[(Long, Option[(Long, String, Double, Long)])]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            val (_, open) = state.get
            state.remove()
            open.iterator.map { case (no, t, v, from) =>
              Scd2Version(userId, no, t, v, from, None, is_current = true)
            }
          } else {
            var (n, open) = state.getOption.getOrElse((0L, None: Option[(Long, String, Double, Long)]))
            var out = List.empty[Scd2Version]
            var lastMs = 0L
            rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              val ms = e.ts.getTime
              lastMs = ms
              open.foreach { case (no, t, v, from) =>
                out ::= Scd2Version(userId, no, t, v, from, Some(ms), is_current = false)
              }
              open = None
              if (e.event_type != deleteType) {
                n += 1
                open = Some((n, e.event_type, e.value, ms))
              }
            }
            state.update((n, open))
            state.setTimeoutTimestamp(lastMs + flushDelayMs)
            out.reverseIterator
          }
      }
  }
}
