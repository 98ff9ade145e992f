package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-window aggregations over an event table (SURVEY.md §2.10
  * T1–T3). The reference has no streaming surface; this is the
  * contract's Spark-native extension.
  *
  * Each transform is defined once over a generic DataFrame with a
  * TimestampType `ts` column and runs UNCHANGED in both batch mode
  * (the judged, DuckDB-verified path — `window`/`session_window` are
  * ordinary expressions there) and Structured Streaming (StreamingSpec
  * drives the identical plans through MemoryStream with watermarks).
  * That one-definition-two-modes property is the point: at 100 TB the
  * same code backfills historically (batch over partitioned parquet)
  * and serves the live feed (streaming with state in RocksDB).
  *
  * Scale notes: tumbling/sliding windows are plain hash aggregations —
  * the window struct is just a derived group key, so partial (map-side)
  * aggregation applies and the shuffle carries one row per
  * (window × type) per task. Session windows shuffle by the session
  * key (user) and merge in-partition — one shuffle, no n² anywhere.
  */
object EventWindows {

  /** Exact decimal sum of the double `value` column, emitted as DOUBLE:
    * double-summation order varies across partitions/engines, decimal
    * does not (determinism rule, SURVEY.md §5.4).
    */
  private def sumValue: Column =
    round(sum(col("value").cast("decimal(14,2)")), 2).cast("double").as("sum_value")

  /** T1: tumbling windows of `size` per event_type. */
  def tumbling(events: DataFrame, size: String): DataFrame =
    events.groupBy(window(col("ts"), size), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sumValue)
      .select(
        col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** T2: sliding windows (`size` every `slide`) per event_type; each
    * event lands in size/slide overlapping windows.
    */
  def sliding(events: DataFrame, size: String, slide: String): DataFrame =
    events.groupBy(window(col("ts"), size, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sumValue)
      .select(
        col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** T3: per-user session windows with inactivity gap `gap`; a session
    * ends (exclusive) at last-event-ts + gap.
    */
  def sessions(events: DataFrame, gap: String): DataFrame =
    events.groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sumValue)
      .select(
        col("user_id"),
        col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("n_events"), col("sum_value"))

  /** Row-level sessionization (gaps-and-islands): every event keeps its
    * identity and gains a per-user `session_no` (1-based, in time
    * order). [[sessions]] gives the session AGGREGATES; this gives the
    * event→session assignment that downstream per-session features
    * (position in session, time since session start, next-event
    * prediction labels) are built from.
    *
    * Semantics match [[sessions]]/`session_window`: a gap >= `gapSeconds`
    * opens a new session (Spark session windows are exclusive of
    * last+gap). The gap compares `unix_micros` values — exact integer
    * arithmetic, no float time math. `tieCol` makes the intra-user
    * order total so ties on `tsCol` cannot make results partitioning-
    * dependent.
    *
    * Scale shape: ONE hash exchange on `userCol`; the lag and the
    * running sum share the same (partition, order) so they run in a
    * single window sort — and a downstream per-(user, session) groupBy
    * needs NO further exchange (hash partitioning on user already
    * clusters (user, session_no)); both pinned by PlanSpec.
    */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
      tieCol: String, gapSeconds: Long): DataFrame = {
    require(gapSeconds > 0, "gapSeconds must be positive")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val us = unix_micros(col(tsCol))
    val brk = when(lag(us, 1).over(w).isNull
        .or(us - lag(us, 1).over(w) >= gapSeconds * 1000000L), 1L)
      .otherwise(0L)
    events.withColumn("session_no",
      sum(brk).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Bounce rate per LANDING event type: of all sessions whose FIRST
    * event (by the (ts, tie) total order) is of a given type, the
    * fraction that end after that single event — the classic "did the
    * landing page hold them" engagement read, here generalized to any
    * event taxonomy.
    *
    * Rides [[sessionize]] verbatim (same gap rule, same total order);
    * the per-session landing/type/count windows share sessionize's
    * (user) hash partitioning, so the whole operator costs ONE
    * exchange. Counts are exact integers; the rate is one rounded
    * division.
    *
    * Output: (typeCol, n_sessions, n_bounces, bounce_rate).
    */
  def bounceRate(events: DataFrame, userCol: String, tsCol: String,
      tieCol: String, typeCol: String, gapSeconds: Long): DataFrame = {
    val s = sessionize(events, userCol, tsCol, tieCol, gapSeconds)
    val wOrd = Window.partitionBy(col(userCol), col("session_no"))
      .orderBy(col(tsCol), col(tieCol))
    val wAll = Window.partitionBy(col(userCol), col("session_no"))
    s.withColumn("_landing", first(col(typeCol)).over(wOrd))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_rn", row_number().over(wOrd))
      .filter(col("_rn") === 1)
      .groupBy(col("_landing").as(typeCol))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("_n") === 1, 1L).otherwise(0L)).as("n_bounces"))
      .withColumn("bounce_rate",
        round(col("n_bounces") / col("n_sessions").cast("double"), 6)
          .cast("double"))
  }

  /** Input/state rows for [[sessionizeStream]]. */
  case class SessionEvent(user_id: Long, event_id: Long, tsMicros: Long)
  case class SessionAssignment(user_id: Long, event_id: Long, session_no: Long)
  case class SessionCursor(lastTsMicros: Long, sessionNo: Long)

  /** Streaming-legal [[sessionize]]: the window-function formulation
    * cannot run under Structured Streaming (no unbounded window
    * functions over a stream), so the live path keeps ONE tiny cursor
    * per user — (last event micros, current session_no) — in the state
    * store and assigns sessions incrementally. State is O(1) per key
    * regardless of history; each micro-batch's events are sorted
    * per key in memory (bounded by per-key batch volume, not by
    * corpus).
    *
    * Same break rule as [[sessionize]] (gap >= threshold opens a new
    * session). Correct when per-key event time is non-decreasing
    * ACROSS micro-batches (the usual log-stream contract; pair with a
    * watermark upstream to bound disorder) — SessionizeSpec pins
    * batch == streaming on the real events table under that contract.
    */
  def sessionizeStream(events: org.apache.spark.sql.Dataset[SessionEvent],
      gapSeconds: Long): org.apache.spark.sql.Dataset[SessionAssignment] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(gapSeconds > 0, "gapSeconds must be positive")
    val gapMicros = gapSeconds * 1000000L
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionCursor, SessionAssignment](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[SessionEvent], state: GroupState[SessionCursor]) =>
          val sorted = evs.toArray.sortBy(e => (e.tsMicros, e.event_id))
          var cur = state.getOption.getOrElse(
            SessionCursor(Long.MinValue / 2, 0L))
          val out = sorted.map { e =>
            val opens = e.tsMicros - cur.lastTsMicros >= gapMicros
            cur = SessionCursor(e.tsMicros,
              if (opens) cur.sessionNo + 1 else cur.sessionNo)
            SessionAssignment(user, e.event_id, cur.sessionNo)
          }
          if (sorted.nonEmpty) state.update(cur)
          out.iterator
      }
  }

  /** Conversation/trajectory assembly: [[sessionize]] the event log,
    * then collapse each (user, session) into ONE training example —
    * the ordered transcript of its event types (joined with `sep`),
    * its event count, and its wall-clock span in seconds. This is the
    * events→documents bridge of a behavioral-sequence pipeline
    * (session2vec, next-action LM, funnel clustering): downstream text
    * ops (dedup, quality, packing) consume the transcript column
    * exactly like document text.
    *
    * Scale shape: the sessionize window's hash exchange on the user
    * column already clusters (user, session_no), so the groupBy adds
    * NO second exchange (the [[sessionize]] plan note); the transcript
    * rebuild is the remove-spans collect+sort pattern, bounded by
    * session length. Event ids break timestamp ties end-to-end, so the
    * transcript string is total-order deterministic.
    */
  def sessionTranscripts(events: DataFrame, userCol: String, tsCol: String,
      tieCol: String, typeCol: String, gapSeconds: Long,
      sep: String = ">"): DataFrame =
    sessionize(events, userCol, tsCol, tieCol, gapSeconds)
      .groupBy(col(userCol), col("session_no"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col(tsCol),
          col(tieCol), col(typeCol).as("t")))), s => s("t")), sep)
          .as("transcript"),
        count(lit(1)).as("n_events"),
        floor((unix_micros(max(col(tsCol))) - unix_micros(min(col(tsCol))))
          / lit(1000000L)).cast("bigint").as("span_sec"))

  /** Top-k most common `pathLen`-step event paths WITHIN sessions —
    * the "user flow" miner behind funnel discovery: sessionize with
    * the gap rule, slide a `pathLen` window over each session's
    * (tsCol, tieCol)-ordered states, count complete windows, rank
    * by (count DESC, path ASC) — a total order. Paths never cross a
    * session boundary (that's the point: cross-session steps aren't
    * a flow).
    *
    * Scale shape: the sessionize window (one user-keyed sort) + the
    * same sort reused for the leads, one path-keyed count, one
    * vocab-of-paths-sized top-k. Output: (path, n), k rows.
    */
  def topPaths(events: DataFrame, userCol: String, tsCol: String,
      tieCol: String, stateCol: String, gapSeconds: Long,
      pathLen: Int = 3, k: Int = 10): DataFrame = {
    require(pathLen >= 2, s"pathLen=$pathLen must be >= 2")
    require(k >= 1, s"k=$k must be >= 1")
    val sess = sessionize(events, userCol, tsCol, tieCol, gapSeconds)
    val w = Window.partitionBy(col(userCol), col("session_no"))
      .orderBy(col(tsCol), col(tieCol))
    val steps = (0 until pathLen).map {
      case 0 => col(stateCol)
      case i => lead(col(stateCol), i).over(w)
    }
    val counted = sess
      // every step non-null — including the origin state: concat_ws
      // silently skips nulls and would alias shorter paths otherwise
      .withColumn("path", when(steps.map(_.isNotNull)
          .reduce(_ && _), concat_ws(">", steps: _*)))
      .filter(col("path").isNotNull)
      .groupBy("path").agg(count(lit(1)).as("n"))
    // orderBy+limit → TakeOrderedAndProject: the path vocabulary is
    // |states|^pathLen-shaped; never exchange it to a single partition.
    counted
      .orderBy(col("n").desc, col("path").asc)
      .limit(k)
  }

  /** Per-type dwell-time statistics: for every event, the time until
    * the SAME USER's next event (any type) — the "how long do users
    * sit on X" engagement signal. Durations are exact integer
    * microseconds summed as longs; the mean is ONE rounded division
    * at the end. Each user's final event has no successor and is
    * excluded (not zero-filled).
    *
    * Scale shape: one user-keyed window sort for the lead, one
    * type-keyed aggregation. Output: (event_type, n_dwells,
    * total_dwell_sec, avg_dwell_sec) — totals floor-divided to whole
    * seconds to stay integer-exact cross-engine.
    */
  /** DAU / trailing-MAU stickiness per calendar day — the engagement
    * ratio every growth dashboard leads with: DAU(d) = distinct
    * active users on d, MAU(d) = distinct users active in the
    * trailing `windowDays` (default 28) ENDING at d, stickiness =
    * DAU/MAU ("what share of the monthly base shows up daily").
    *
    * Exact and scale-shaped: dedup to (user, day) cells ONCE (the
    * corpus-sized shuffle), then each cell emits to the `windowDays`
    * window-end days it covers via an in-plan sequence explode
    * (bounded ×windowDays fan of the CELLS, not the events), and one
    * (day, user) dedup + day count gives the exact trailing distinct
    * — no per-day COUNT DISTINCT re-scan, no window over users.
    * Days with no activity are absent (their DAU is 0 and their MAU
    * is whatever the fan delivered — reporting them would need a
    * calendar spine; callers join one if gaps matter, documented).
    * Output: (day, dau, mau, stickiness), stickiness 6-dp.
    */
  def stickiness(events: DataFrame, userCol: String, tsCol: String,
      windowDays: Int = 28): DataFrame = {
    require(windowDays >= 1 && windowDays <= 366,
      s"stickiness: windowDays must be in [1, 366], got $windowDays")
    val cells = events
      .select(col(userCol).as("_u"), col(tsCol).cast("date").as("_d"))
      .filter(col("_u").isNotNull && col("_d").isNotNull)
      .distinct()
      .localCheckpoint() // DAU and the MAU fan both read it
    val dau = cells.groupBy(col("_d").as("day"))
      .agg(countDistinct(col("_u")).as("dau"))
    val mau = cells
      .select(col("_u"), explode(sequence(col("_d"),
        date_add(col("_d"), windowDays - 1))).as("_w"))
      .distinct() // (user, window-end) — a user counts once per window
      .groupBy(col("_w").as("day"))
      .agg(count(lit(1)).as("mau"))
    dau.join(mau, Seq("day"))
      .select(col("day"), col("dau"), col("mau"),
        round(col("dau") / col("mau").cast("double"), 6)
          .cast("double").as("stickiness"))
  }

  def dwellTimes(events: DataFrame, userCol: String, tsCol: String,
      tieCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    events
      .withColumn("_next", lead(unix_micros(col(tsCol)), 1).over(w))
      .filter(col("_next").isNotNull)
      .withColumn("_dw", col("_next") - unix_micros(col(tsCol)))
      .groupBy(col(typeCol).as("event_type"))
      // DIV, not floor(double /): at cluster scale the micros total
      // exceeds 2^53 and a double quotient drops ulps
      .agg(count(lit(1)).as("n_dwells"),
        expr("CAST(sum(`_dw`) DIV 1000000 AS BIGINT)")
          .as("total_dwell_sec"),
        round(sum(col("_dw")) / (count(lit(1)) * lit(1000000.0)), 6)
          .cast("double").as("avg_dwell_sec"))
  }

  /** Time-gap debounce (the batch twin of streaming dropDuplicates
    * within a watermark): keep an event iff the SAME (user, type) saw
    * no kept-or-dropped event within the preceding `minGapSeconds` —
    * the standard double-fire/retry-storm suppressor. NOTE the gap is
    * measured to the previous RAW event (lag), not the previous
    * SURVIVOR — the cheap one-window policy; a survivor-relative gap
    * needs the sessionize running-state trick and is a different
    * contract. All-integer comparisons, no rounding.
    *
    * Scale shape: one (user, type)-keyed window sort, a lag, a
    * filter — no joins. Returns the surviving input rows.
    */
  def debounce(events: DataFrame, userCol: String, tsCol: String,
      tieCol: String, typeCol: String, minGapSeconds: Long): DataFrame = {
    require(minGapSeconds >= 1, s"minGapSeconds must be >= 1")
    val w = Window.partitionBy(col(userCol), col(typeCol))
      .orderBy(col(tsCol), col(tieCol))
    events
      .withColumn("_prev", lag(unix_micros(col(tsCol)), 1).over(w))
      .filter(col("_prev").isNull ||
        unix_micros(col(tsCol)) - col("_prev") > minGapSeconds * 1000000L)
      .drop("_prev")
  }

  /** Time-bounded conversion rate: of all `fromType` events, how many
    * saw a `toType` event from the SAME user within `windowSeconds`
    * after them — the windowed funnel step q_funnel's unbounded
    * first-timestamp comparisons can't express ("purchased within an
    * hour OF THAT click", not "ever purchased after first click").
    *
    * Each from-event's next toType timestamp comes from ONE
    * user-keyed window (first-ignoreNulls over the strictly-following
    * frame); the within-window decision is an exact integer
    * microsecond comparison; the rate is ONE rounded division.
    *
    * Output: one row (n_from, n_converted, conversion_rate).
    */
  def windowedConversions(events: DataFrame, userCol: String,
      tsCol: String, tieCol: String, typeCol: String, fromType: String,
      toType: String, windowSeconds: Long): DataFrame = {
    require(windowSeconds >= 1, "windowSeconds must be >= 1")
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(1, Window.unboundedFollowing)
    events
      .withColumn("_next", first(
        when(col(typeCol) === toType, unix_micros(col(tsCol))),
        ignoreNulls = true).over(w))
      .filter(col(typeCol) === fromType)
      .agg(count(lit(1)).as("n_from"),
        sum(when(col("_next").isNotNull &&
          col("_next") - unix_micros(col(tsCol))
            <= windowSeconds * 1000000L, 1L).otherwise(0L))
          .as("n_converted"))
      .withColumn("conversion_rate",
        when(col("n_from") > 0,
          round(col("n_converted") / col("n_from").cast("double"), 6))
          .cast("double"))
  }

  /** Cohort lifetime-value curves — the revenue complement of plain
    * cohort retention: users cohort by their FIRST active day; each
    * (cohort, day-offset) cell reports the active-user count and the
    * cohort's CUMULATIVE value per cohort member up to that offset
    * ("how much has the Jan-3 cohort spent per user by day 7").
    *
    * Exactness: values sum as 1e-6-scaled longs; the cumulative is an
    * integer window; cohort size = the offset-0 active count (every
    * user is active on their first day by construction); the per-user
    * LTV is ONE rounded division. Cohort keys serialize as ISO date
    * strings (the q_retention convention).
    *
    * Scale shape: one user-keyed first-day aggregate joined back (a
    * user-dimension join), one (cohort, offset) aggregate, one
    * cohort-keyed window over the calendar-bounded cell table.
    * Output: (cohort, day_offset, n_active, cum_value_per_user).
    */
  def cohortValue(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val byUser = events.select(col(userCol).as("_u"),
      col(tsCol).cast("date").as("_d"),
      round(col(valueCol) * 1e6).cast("long").as("_q"))
    val firsts = byUser.groupBy("_u").agg(min("_d").as("_f"))
    val cells = byUser.join(firsts, Seq("_u"))
      .groupBy(col("_f").as("_cohort"),
        datediff(col("_d"), col("_f")).cast("bigint").as("day_offset"))
      .agg(countDistinct(col("_u")).as("n_active"), sum("_q").as("_v"))
    val wSize = Window.partitionBy("_cohort")
    val wCum = Window.partitionBy("_cohort").orderBy("day_offset")
      .rowsBetween(Window.unboundedPreceding, 0)
    cells
      .withColumn("_cum", sum("_v").over(wCum))
      .withColumn("_size",
        max(when(col("day_offset") === 0, col("n_active"))).over(wSize))
      .select(col("_cohort").cast("string").as("cohort"),
        col("day_offset"), col("n_active"),
        round(col("_cum") / (col("_size") * lit(1e6)), 6)
          .cast("double").as("cum_value_per_user"))
  }

  /** Input rows for the round-9 streaming twins. */
  case class TypedEvent(user: Long, etype: String, event_id: Long,
      orderMicros: Long)
  private[operators] case class LastMicros(us: Long)
  private[operators] case class PrevEvent(eventId: Long, etype: String,
      us: Long)
  /** Output rows for [[dwellStream]]. */
  case class DwellOut(user: Long, event_id: Long, etype: String,
      dwell_micros: Long)

  /** Streaming-legal [[debounce]]: ONE long per (user, type) in the
    * state store — the previous RAW event time, exactly the batch
    * lag — so survivors are identical to the batch filter (pinned in
    * SessionizeSpec). Same ordering contract as the other twins:
    * per-key order non-decreasing across micro-batches (watermark
    * upstream to bound disorder).
    */
  def debounceStream(events: org.apache.spark.sql.Dataset[TypedEvent],
      minGapSeconds: Long)
      : org.apache.spark.sql.Dataset[TypedEvent] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(minGapSeconds >= 1, "minGapSeconds must be >= 1")
    import events.sparkSession.implicits._
    events.groupByKey(e => (e.user, e.etype))
      .flatMapGroupsWithState[LastMicros, TypedEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: (Long, String), evs: Iterator[TypedEvent],
            gs: GroupState[LastMicros]) =>
          val sorted = evs.toArray.sortBy(e => (e.orderMicros, e.event_id))
          var prev = gs.getOption.map(_.us)
          val out = sorted.flatMap { e =>
            val keep = prev.forall(p =>
              e.orderMicros - p > minGapSeconds * 1000000L)
            prev = Some(e.orderMicros) // gap is to the RAW previous event
            if (keep) Some(e) else None
          }
          if (sorted.nonEmpty) gs.update(LastMicros(prev.get))
          out.iterator
      }
  }

  /** Streaming-legal dual of [[dwellTimes]]'s per-event durations:
    * each arriving event closes the PREVIOUS event's dwell (state =
    * one (event_id, type, ts) record per user), so an event's dwell
    * row is emitted exactly when its successor arrives — and the
    * final event of a user never emits, matching the batch operator's
    * exclusion. Aggregating the emitted rows per type reproduces
    * [[dwellTimes]] exactly (pinned on the real events table).
    */
  def dwellStream(events: org.apache.spark.sql.Dataset[TypedEvent])
      : org.apache.spark.sql.Dataset[DwellOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.groupByKey(_.user)
      .flatMapGroupsWithState[PrevEvent, DwellOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[TypedEvent],
            gs: GroupState[PrevEvent]) =>
          val sorted = evs.toArray.sortBy(e => (e.orderMicros, e.event_id))
          var prev = gs.getOption.orNull
          val out = sorted.map { e =>
            val emitted =
              if (prev != null)
                Some(DwellOut(user, prev.eventId, prev.etype,
                  e.orderMicros - prev.us))
              else None
            prev = PrevEvent(e.event_id, e.etype, e.orderMicros)
            emitted
          }.flatten
          if (sorted.nonEmpty) gs.update(prev)
          out.iterator
      }
  }

  /** Output rows for [[topKStream]]. */
  case class TopKRow(key: String, event_id: Long, value: Double)
  private[operators] case class TopKState(rows: List[(Double, Long)])

  /** Streaming running top-k per key — the live dual of the
    * [[graft.plans.TopKPerKeyNode]] batch operator: the state store
    * keeps each key's current top-k (value DESC, id ASC — a total
    * order) as a K-BOUNDED list, and every micro-batch emits the
    * key's refreshed top-k in COMPLETE-list form (the memory-sink
    * leaderboard shape: consumers read the latest emission per key).
    * After all input, the final emission per key equals the batch
    * operator's rows exactly (pinned in SessionizeSpec). State is
    * O(k) per key regardless of history.
    */
  def topKStream(events: org.apache.spark.sql.Dataset[TopKRow], k: Int)
      : org.apache.spark.sql.Dataset[TopKRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(k >= 1, s"k must be >= 1, got $k")
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[TopKState, TopKRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, evs: Iterator[TopKRow], gs: GroupState[TopKState]) =>
          val merged = (gs.getOption.map(_.rows).getOrElse(Nil) ++
            evs.map(e => (e.value, e.event_id)))
            .sortBy { case (v, id) => (-v, id) }
            .distinct
            .take(k)
          gs.update(TopKState(merged))
          merged.map { case (v, id) => TopKRow(key, id, v) }.iterator
      }
  }

  /** Input rows for [[cusumStream]]. */
  case class KeyedValue(key: String, event_id: Long, orderMicros: Long,
      x: Double)
  /** Per-event emission of [[cusumStream]]. */
  case class CusumOut(key: String, event_id: Long, s: Double,
      alarm: Boolean)
  private[operators] case class CusumState(scaled: Long)

  /** Streaming twin of [[graft.operators.Stats.cusumDetect]] — the
    * Page CUSUM recurrence S = max(0, S + (x − target − slack)) with
    * ONE scaled long of state per key, each event emitting its
    * (s, alarm) row the moment it arrives. The batch operator unrolls
    * the identical integer recurrence via the prefix-min identity, so
    * the two are bit-equal row-for-row (pinned in SessionizeSpec).
    * Same ordering contract as the other twins: per-key event-time
    * order non-decreasing across micro-batches.
    */
  def cusumStream(events: org.apache.spark.sql.Dataset[KeyedValue],
      target: Double, slack: Double, threshold: Double)
      : org.apache.spark.sql.Dataset[CusumOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(threshold > 0, "cusumStream: threshold must be > 0")
    import events.sparkSession.implicits._
    val offset = math.round(target * 1e6) + math.round(slack * 1e6)
    val thrScaled = math.round(threshold * 1e6)
    events.groupByKey(_.key)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, evs: Iterator[KeyedValue],
            gs: GroupState[CusumState]) =>
          val sorted = evs.toArray.sortBy(e => (e.orderMicros, e.event_id))
          var s = gs.getOption.map(_.scaled).getOrElse(0L)
          val out = sorted.map { e =>
            // HALF_UP like the batch round(): math.round half-rounds
            // toward +inf for negatives, which would fork the twins
            val q = DriverPath.units(e.x * 1e6, 0)
            s = math.max(0L, s + q - offset)
            CusumOut(key, e.event_id, BigDecimal(s, 6).toDouble, s > thrScaled)
          }
          if (sorted.nonEmpty) gs.update(CusumState(s))
          out.iterator
      }
  }

  /** Per-conversion emission of [[attributionStream]]. */
  case class TouchOut(user: Long, event_id: Long, first_channel: String,
      last_channel: String)
  private[operators] case class TouchState(first: Option[String],
      last: Option[String])
  /** Per-from-event emission of [[conversionsStream]]. */
  case class ConvOut(user: Long, event_id: Long, converted: Boolean)
  private[operators] case class PendingFroms(rows: List[(Long, Long)])

  /** Streaming-legal [[touchAttribution]]: state is TWO strings per
    * user (the first and most recent non-conversion channel ever
    * seen) — O(1) however long the history — and each conversion
    * event emits its (first, last) credit pair the moment it arrives.
    * Aggregating the emissions per channel reproduces the batch
    * operator exactly (pinned in SessionizeSpec). Same ordering
    * contract as the other twins: per-key event-time order
    * non-decreasing across micro-batches.
    */
  def attributionStream(events: org.apache.spark.sql.Dataset[TypedEvent],
      conversionType: String)
      : org.apache.spark.sql.Dataset[TouchOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.groupByKey(_.user)
      .flatMapGroupsWithState[TouchState, TouchOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[TypedEvent], gs: GroupState[TouchState]) =>
          val sorted = evs.toArray.sortBy(e => (e.orderMicros, e.event_id))
          var st = gs.getOption.getOrElse(TouchState(None, None))
          val out = sorted.flatMap { e =>
            if (e.etype == conversionType) {
              Some(TouchOut(user, e.event_id,
                st.first.getOrElse("direct"), st.last.getOrElse("direct")))
            } else {
              st = TouchState(st.first.orElse(Some(e.etype)), Some(e.etype))
              None
            }
          }
          if (sorted.nonEmpty) gs.update(st)
          out.iterator
      }
  }

  /** Per-touch credit emission of [[positionAttributionStream]]. */
  case class PosOut(user: Long, conversion_id: Long, channel: String,
      linear_credit: Double, u_credit: Double)
  private[operators] case class PathState(chs: List[String])

  /** Streaming-legal [[positionAttribution]] (the r13 batch operator's
    * twin): state is the user's CURRENT path — the ordered channel
    * list since the last conversion, O(path length) exactly as the
    * batch window holds it — and each conversion emits one credit row
    * per touch of its path (or a single `"direct"` row for an empty
    * path) the moment it arrives, then resets the path. Credits use
    * the batch trees verbatim (linear 1/k, U-shape 1 / 0.5 / 0.4 /
    * 0.2⁄(k−2), all 6-dp HALF_UP frozen), so aggregating the
    * emissions per channel reproduces the batch operator exactly
    * (pinned in SessionizeSpec). Same ordering contract as the other
    * twins: per-key event-time order non-decreasing across
    * micro-batches. Markov removal-effect attribution stays
    * batch-scoped by contract — its transition-matrix refit is
    * inherently global (see [[markovAttribution]]).
    */
  def positionAttributionStream(
      events: org.apache.spark.sql.Dataset[TypedEvent],
      conversionType: String)
      : org.apache.spark.sql.Dataset[PosOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.groupByKey(_.user)
      .flatMapGroupsWithState[PathState, PosOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[TypedEvent], gs: GroupState[PathState]) =>
          val sorted = evs.toArray.sortBy(e => (e.orderMicros, e.event_id))
          var path = gs.getOption.map(_.chs).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[PosOut]
          sorted.foreach { e =>
            if (e.etype == conversionType) {
              val k = path.length
              if (k == 0)
                out += PosOut(user, e.event_id, "direct", 1.0, 1.0)
              else {
                val lin = DriverPath.round(1.0 / k, 6)
                path.zipWithIndex.foreach { case (ch, i) =>
                  val r = i + 1
                  val u =
                    if (k == 1) 1.0
                    else if (k == 2) 0.5
                    else if (r == 1 || r == k) 0.4
                    else DriverPath.round(0.2 / (k - 2), 6)
                  out += PosOut(user, e.event_id, ch, lin, u)
                }
              }
              path = Nil
            } else path = path :+ e.etype
          }
          if (sorted.nonEmpty) gs.update(PathState(path))
          out.iterator
      }
  }

  /** Streaming-legal [[windowedConversions]], emitted per from-event:
    * state is the user's PENDING fromType events (id, micros) not yet
    * resolved — bounded by event rate × window, because every
    * arriving event (any type, event-time ordered) expires pendings
    * older than the window as NOT converted, and the first toType
    * arrival resolves all remaining pendings (all within the window
    * by construction) as converted — exactly the batch rule
    * "first strictly-following toType within W seconds". A pending
    * with no further traffic stays unemitted (the stream can't know
    * yet); replaying with a trailing flush event per user closes
    * every pending, after which the aggregated emissions equal the
    * batch aggregate exactly (pinned in SessionizeSpec).
    */
  def conversionsStream(events: org.apache.spark.sql.Dataset[TypedEvent],
      fromType: String, toType: String, windowSeconds: Long)
      : org.apache.spark.sql.Dataset[ConvOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(windowSeconds >= 1, "windowSeconds must be >= 1")
    import events.sparkSession.implicits._
    val windowMicros = windowSeconds * 1000000L
    events.groupByKey(_.user)
      .flatMapGroupsWithState[PendingFroms, ConvOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[TypedEvent],
            gs: GroupState[PendingFroms]) =>
          val sorted = evs.toArray.sortBy(e => (e.orderMicros, e.event_id))
          var pending = gs.getOption.map(_.rows).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[ConvOut]
          sorted.foreach { e =>
            val (expired, live) = pending.partition {
              case (_, us) => e.orderMicros - us > windowMicros
            }
            expired.foreach { case (id, _) =>
              out += ConvOut(user, id, converted = false)
            }
            pending = live
            if (e.etype == toType) {
              // every surviving pending strictly precedes e in the
              // (micros, id) order and sits within the window
              pending.foreach { case (id, _) =>
                out += ConvOut(user, id, converted = true)
              }
              pending = Nil
            }
            if (e.etype == fromType) {
              pending = pending :+ (e.event_id, e.orderMicros)
            }
          }
          if (sorted.nonEmpty) gs.update(PendingFroms(pending))
          out.iterator
      }
  }

  /** First-touch / last-touch conversion attribution: for every
    * conversion event (`isConversion`), credit (a) the user's FIRST
    * non-conversion event type ever seen before it and (b) the MOST
    * RECENT one — the two classic marketing-attribution policies. A
    * conversion with no prior non-conversion event credits the
    * `"direct"` channel. All counts are exact integers over the
    * (tsCol, tieCol) per-user total order — no rounding contract.
    *
    * Scale shape: ONE user-keyed window sort computes both policies
    * (first/last with ignoreNulls over the unbounded-preceding
    * frame), then one channel-keyed count — no joins, no collect.
    * Output: (channel, first_touch, last_touch), one row per channel
    * credited by either policy.
    */
  def touchAttribution(events: DataFrame, userCol: String, tsCol: String,
      tieCol: String, typeCol: String,
      isConversion: Column): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(!isConversion, col(typeCol))
    val scored = events
      .withColumn("_first", first(touch, ignoreNulls = true).over(w))
      .withColumn("_last", last(touch, ignoreNulls = true).over(w))
      .filter(isConversion)
      .select(coalesce(col("_first"), lit("direct")).as("_fc"),
        coalesce(col("_last"), lit("direct")).as("_lc"))
    scored.select(col("_fc").as("channel"), lit(1L).as("_f"), lit(0L).as("_l"))
      .unionByName(scored.select(col("_lc").as("channel"), lit(0L).as("_f"),
        lit(1L).as("_l")))
      .groupBy("channel")
      .agg(sum("_f").as("first_touch"), sum("_l").as("last_touch"))
  }

  /** Markov-chain attribution by removal effects — the data-driven
    * model next to the heuristic position models: user paths become a
    * first-order chain START → touches → CONV/NULL; a channel's value
    * is how much the chain's conversion probability DROPS when the
    * channel is removed (transitions into it die), normalized into
    * attribution shares (the ChannelAttribution methodology).
    * Conversion probability is evaluated at a bounded HORIZON — the
    * probability of absorbing in CONV within `horizon` steps — the
    * bounded-hop determinism pattern (exact fixed-iteration value,
    * never a convergence test; raise horizon knowingly for
    * longer-path corpora).
    *
    * Determinism: transition probabilities are one 12-dp-frozen
    * division each from exact integer counts over the (tsCol, tieCol)
    * per-user total order; every absorption step sums 12-dp-frozen
    * p·v terms in order-free decimal(38,12) and re-freezes v at
    * 12 dp; removal effects and shares are one rounded division each.
    * Channel states ride a "ch:" prefix internally so user channel
    * names can never collide with START/CONV/NULL.
    *
    * Scale shape: path construction is the positionAttribution window
    * pair (corpus-sized, one user-keyed sort); everything after the
    * transition-count shuffle is (channels² × scenarios)-sized, and
    * the horizon loop iterates on channel-cardinality state tables
    * (checkpointed per step, never the corpus). Output: (channel,
    * p_conv_removed, removal_effect, share) plus a synthetic
    * ('__base__', p_conv, 0, NULL) row carrying the baseline.
    *
    * BATCH-SCOPED BY CONTRACT (no streaming twin, unlike
    * [[positionAttributionStream]]): the removal effects are
    * functions of the GLOBAL transition matrix — one late event
    * re-weights every channel's share, so there is no per-key O(state)
    * incremental form; the streaming analog is a periodic micro-batch
    * REFIT over the accumulated paths (`foreachBatch` + this
    * operator), which is a scheduling choice, not an operator.
    */
  def markovAttribution(events: DataFrame, userCol: String, tsCol: String,
      tieCol: String, typeCol: String, isConversion: Column,
      horizon: Int = 8): DataFrame = {
    require(horizon >= 1 && horizon <= 32,
      s"markovAttribution: horizon must be in [1, 32], got $horizon")
    val dec12 = "decimal(38,12)"
    val wUser = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieCol))
    val withPath = events
      .withColumn("_path", count(when(isConversion, 1))
        .over(wUser.rowsBetween(Window.unboundedPreceding, -1)))
      // r19: both the touch and the conversion legs read this
      // events-scale window — lazily checkpoint so it runs once
      .localCheckpoint(false)
    val touches = withPath.filter(!isConversion)
      .select(col(userCol).as("_u"), col("_path"), col(tsCol).as("_ts"),
        col(tieCol).as("_tie"),
        concat(lit("ch:"), col(typeCol)).as("_ch"))
    val convPaths = withPath.filter(isConversion)
      .select(col(userCol).as("_u"), col("_path")).distinct()
    val wPath = Window.partitionBy("_u", "_path").orderBy("_ts", "_tie")
    val wPathAll = Window.partitionBy("_u", "_path")
    val seq = touches
      .join(convPaths.withColumn("_cv", lit(1)), Seq("_u", "_path"), "left")
      .withColumn("_r", row_number().over(wPath))
      .withColumn("_k", count(lit(1)).over(wPathAll))
      .withColumn("_next", lead("_ch", 1).over(wPath))
      // r19: three transition branches read seq — one materialization
      .localCheckpoint(false)
    val trans = seq.filter(col("_r") === 1)
      .select(lit("START").as("_src"), col("_ch").as("_dst"))
      .unionByName(seq.filter(col("_next").isNotNull)
        .select(col("_ch").as("_src"), col("_next").as("_dst")))
      .unionByName(seq.filter(col("_r") === col("_k"))
        .select(col("_ch").as("_src"),
          when(col("_cv") === 1, lit("CONV")).otherwise(lit("NULL"))
            .as("_dst")))
      .unionByName(convPaths
        .join(touches.select("_u", "_path").distinct(), Seq("_u", "_path"),
          "left_anti")
        .select(lit("START").as("_src"), lit("CONV").as("_dst")))
    val probs = trans.groupBy("_src", "_dst").agg(count(lit(1)).as("_c"))
      .withColumn("_tot", sum("_c").over(Window.partitionBy("_src")))
      .withColumn("_p", round(col("_c") / col("_tot").cast("double"), 12))
      .select("_src", "_dst", "_p")
      .localCheckpoint() // channels²-sized; read per scenario + step
    val channels = probs
      .select(col("_src").as("_st")).filter(col("_st").startsWith("ch:"))
      .unionByName(probs.select(col("_dst").as("_st"))
        .filter(col("_st").startsWith("ch:")))
      .distinct()
    val scen = channels.select(col("_st").as("_sc"))
      .unionByName(channels.sparkSession.range(1)
        .select(lit("none").as("_sc")))
    val tScen = probs.crossJoin(broadcast(scen))
      .filter(col("_src") =!= col("_sc"))
      .withColumn("_dst2",
        when(col("_dst") === col("_sc"), lit("NULL")).otherwise(col("_dst")))
      .select("_sc", "_src", "_dst2", "_p")
      .localCheckpoint() // read every horizon step
    // Small-chain fast path (the harmonicCentrality driver-BFS
    // precedent): the scenario table is (channels² × scenarios) rows —
    // when it fits the driver comfortably, the horizon loop is pure
    // scheduler overhead (8 tiny checkpointed jobs measured at ~3 s of
    // a 3.6 s query), so run the SAME frozen arithmetic in Scala:
    // per-step terms round(p·v, 12) summed as exact decimal units
    // (order-free, like the decimal(38,12) fold), v re-frozen at 12 dp
    // — bit-identical to the distributed loop (spec-pinned). Past the
    // bound the loop below runs unchanged.
    val starts: DataFrame = DriverPath.rows(tScen) match {
      case Some(collected) =>
        val rows = collected.map(r =>
          (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3)))
        val byScen = rows.groupBy(_._1)
        val out = byScen.toSeq.map { case (sc, ts) =>
          var v = ts.map(_._2).distinct.map(_ -> 0.0).toMap
          for (_ <- 1 to horizon) {
            v = ts.groupBy(_._2).map { case (src, edges0) =>
              val acc = new DriverPath.Units(12)
              edges0.foreach { case (_, _, dst2, p) =>
                val value = dst2 match {
                  case "CONV" => 1.0
                  case "NULL" => 0.0
                  case s => v.getOrElse(s, 0.0)
                }
                // the distributed chain is round(·,12) THEN a
                // decimal(38,12) cast: Units.add replicates both steps
                acc.add(p * value)
              }
              src -> DriverPath.round(acc.toDouble, 12)
            }
          }
          org.apache.spark.sql.Row(sc, v.getOrElse("START", 0.0))
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("_sc",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("_v",
            org.apache.spark.sql.types.DoubleType)))
        events.sparkSession.createDataFrame(
          events.sparkSession.sparkContext.parallelize(out, 1), schema)
      case None =>
        var v = tScen.select("_sc", "_src").distinct()
          .withColumn("_v", lit(0.0)).localCheckpoint()
        for (_ <- 1 to horizon) {
          val prev = v.select(col("_sc").as("_vsc"), col("_src").as("_vst"),
            col("_v").as("_pv"))
          v = tScen
            .join(prev, col("_sc") <=> col("_vsc")
              && col("_dst2") <=> col("_vst"), "left")
            .withColumn("_val",
              when(col("_dst2") === "CONV", lit(1.0))
                .when(col("_dst2") === "NULL", lit(0.0))
                .otherwise(coalesce(col("_pv"), lit(0.0))))
            .groupBy("_sc", "_src")
            .agg(round(sum(round(col("_p") * col("_val"), 12).cast(dec12))
              .cast("double"), 12).as("_v"))
            .localCheckpoint() // (scenarios × states)-sized
        }
        v.filter(col("_src") === "START").select(col("_sc"), col("_v"))
    }
    val base = starts.filter(col("_sc") === "none")
      .select(col("_v").as("_pb"))
    val removed = starts.filter(col("_sc") =!= "none")
      .crossJoin(broadcast(base))
      .withColumn("_re",
        when(col("_pb") > 0.0,
          round(lit(1.0) - col("_v") / col("_pb"), 6)))
      .withColumn("_resum", sum("_re").over(
        Window.partitionBy(lit(1)).rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    removed.select(
        regexp_replace(col("_sc"), "^ch:", "").as("channel"),
        round(col("_v"), 6).cast("double").as("p_conv_removed"),
        col("_re").cast("double").as("removal_effect"),
        when(col("_resum") > 0.0, round(col("_re") / col("_resum"), 6))
          .cast("double").as("share"))
      .unionByName(base.select(lit("__base__").as("channel"),
        round(col("_pb"), 6).cast("double").as("p_conv_removed"),
        lit(0.0).as("removal_effect"),
        lit(null).cast("double").as("share")))
  }

  /** Multi-touch position attribution — the fractional-credit models
    * between [[touchAttribution]]'s all-or-nothing endpoints: each
    * conversion's PATH is the user's non-conversion touches since the
    * previous conversion; every touch on a converting path earns
    *  - linear credit 1/k, and
    *  - U-shaped (40/20/40) credit: k=1 → 1, k=2 → 0.5 each, k≥3 →
    *    0.4 endpoints and 0.2/(k−2) per middle touch
    * summed per channel. Paths with no conversion after them earn
    * nothing (the stream hasn't converted — yet). A conversion with
    * no prior touch credits `"direct"` with 1.0 under both models.
    *
    * Exactness: path membership and ranks ride the (tsCol, tieCol)
    * per-user total order (exact integers); each touch's two credits
    * are frozen at 6 dp into order-free decimal(38,6) channel sums —
    * the only float is 0.2/(k−2), frozen before summation; totals
    * conserve Σcredit = conversions up to the 6-dp freeze. Output
    * credits cast double.
    *
    * Scale shape: the touchAttribution cost class — one user-keyed
    * window sort assigns path ids, one (user, path) window ranks
    * touches and sizes k, one channel-keyed sum. No joins beyond the
    * in-window path/conversion pairing, no collect. Output:
    * (channel, touches, linear_credit, u_credit).
    */
  /** Time-decay attribution — the fourth classic model beside
    * first/last-touch, position-based, and Markov removal: each touch
    * of a converting path earns weight e^(−Δt/τ) for its seconds-gap
    * Δt to the conversion (τ = halfLifeSeconds/ln 2, so a touch one
    * half-life out earns exactly half a fresh touch), normalized per
    * conversion so Σcredit = conversions — "recent touches close,
    * early touches open" as a continuous dial instead of the U-shape's
    * three buckets.
    *
    * Determinism: Δt is an exact long seconds difference; each weight
    * is ONE exp tree frozen at 12 dp; the per-path normalizer is an
    * order-free decimal(38,12) window sum of the frozen weights; each
    * credit is one rounded division frozen at 12 dp into the
    * channel-keyed decimal sum; output credit rounds at 6 dp.
    * Touch-less conversions credit `"direct"` with 1.0 (the
    * positionAttribution contract).
    *
    * Scale shape: the positionAttribution cost class exactly — the
    * same path windows plus one (user, path) conversion-time join,
    * one channel-keyed sum. Output: (channel, touches, decay_credit).
    */
  def decayAttribution(events: DataFrame, userCol: String, tsCol: String,
      tieCol: String, typeCol: String, isConversion: Column,
      halfLifeSeconds: Long): DataFrame = {
    require(halfLifeSeconds >= 1,
      s"decayAttribution: halfLifeSeconds must be >= 1, got $halfLifeSeconds")
    val dec12 = "decimal(38,12)"
    val tau = halfLifeSeconds / math.log(2.0)
    val wUser = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieCol))
    val withPath = events
      .withColumn("_path", count(when(isConversion, 1))
        .over(wUser.rowsBetween(Window.unboundedPreceding, -1)))
      // r19: both the touch and the conversion legs read this
      // events-scale window — lazily checkpoint so it runs once
      .localCheckpoint(false)
    val touches = withPath.filter(!isConversion)
      .select(col(userCol).as("_u"), col("_path"),
        unix_timestamp(col(tsCol)).as("_tts"), col(tsCol).as("_ots"),
        col(tieCol).as("_tie"), col(typeCol).as("_ch"))
    val convs = withPath.filter(isConversion)
      .select(col(userCol).as("_u"), col("_path"),
        unix_timestamp(col(tsCol)).as("_cts"))
    val wPathAll = Window.partitionBy("_u", "_path")
    // A path whose every touch predates the conversion by > ~40
    // half-lives freezes all weights to 0 at 12 dp → _wsum = 0 and the
    // normalized division would NULL out, silently dropping that
    // conversion's unit of credit. Fall back to crediting the LAST
    // touch (latest (ts, tie) — the one a fresh weight would favor)
    // with exactly 1.0 so Σcredit = conversions holds unconditionally.
    val wPathLast = Window.partitionBy("_u", "_path")
      .orderBy(col("_ots").desc, col("_tie").desc)
    val weighted = touches
      .join(convs, Seq("_u", "_path")) // converting paths only
      .withColumn("_w",
        round(exp((col("_tts") - col("_cts")).cast("double") / lit(tau)),
          12).cast(dec12))
      .withColumn("_wsum", sum("_w").over(wPathAll))
      .withColumn("_last", row_number().over(wPathLast))
      .withColumn("_cr",
        when(col("_wsum") === 0,
          when(col("_last") === 1, lit(1.0)).otherwise(lit(0.0))
            .cast(dec12))
        .otherwise(
          round(col("_w").cast("double") / col("_wsum").cast("double"), 12)
            .cast(dec12)))
    val direct = convs
      .join(touches.select("_u", "_path").distinct(), Seq("_u", "_path"),
        "left_anti")
      .select(lit("direct").as("channel"), lit(1L).as("_t"),
        lit(1.0).cast(dec12).as("_cr"))
    weighted
      .select(col("_ch").as("channel"), lit(1L).as("_t"), col("_cr"))
      .unionByName(direct)
      .groupBy("channel")
      .agg(sum("_t").as("touches"),
        round(sum("_cr").cast("double"), 6).cast("double")
          .as("decay_credit"))
  }

  def positionAttribution(events: DataFrame, userCol: String, tsCol: String,
      tieCol: String, typeCol: String, isConversion: Column): DataFrame = {
    val dec6 = "decimal(38,6)"
    val wUser = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieCol))
    // conversions BEFORE this row → touches between conversion c and
    // c+1 share path id c, and conversion c+1's own row also gets c
    val withPath = events
      .withColumn("_path", count(when(isConversion, 1))
        .over(wUser.rowsBetween(Window.unboundedPreceding, -1)))
      // r19: both the touch and the conversion legs read this
      // events-scale window — lazily checkpoint so it runs once
      .localCheckpoint(false)
    val touches = withPath.filter(!isConversion)
      .select(col(userCol).as("_u"), col("_path"), col(tsCol).as("_ts"),
        col(tieCol).as("_tie"), col(typeCol).as("_ch"))
    val convPaths = withPath.filter(isConversion)
      .select(col(userCol).as("_u"), col("_path"))
      .distinct() // one conversion per (user, path) by construction
    val wPath = Window.partitionBy("_u", "_path").orderBy("_ts", "_tie")
    val wPathAll = Window.partitionBy("_u", "_path")
    val ranked = touches
      .join(convPaths, Seq("_u", "_path")) // converting paths only
      .withColumn("_r", row_number().over(wPath))
      .withColumn("_k", count(lit(1)).over(wPathAll))
    val uCredit = when(col("_k") === 1, lit(1.0))
      .when(col("_k") === 2, lit(0.5))
      .when(col("_r") === 1 || col("_r") === col("_k"), lit(0.4))
      .otherwise(round(lit(0.2) / (col("_k") - 2), 6))
    val direct = convPaths
      // a conversion whose path has no touches: left-anti on touches
      .join(touches.select("_u", "_path").distinct(), Seq("_u", "_path"),
        "left_anti")
      .select(lit("direct").as("channel"), lit(1L).as("_t"),
        lit(1.0).cast(dec6).as("_lin"), lit(1.0).cast(dec6).as("_ucr"))
    ranked
      .select(col("_ch").as("channel"), lit(1L).as("_t"),
        round(lit(1.0) / col("_k"), 6).cast(dec6).as("_lin"),
        uCredit.cast(dec6).as("_ucr"))
      .unionByName(direct)
      .groupBy("channel")
      .agg(sum("_t").as("touches"),
        sum("_lin").cast("double").as("linear_credit"),
        sum("_ucr").cast("double").as("u_credit"))
  }
  /** Exact Shapley-value channel attribution over pre-conversion
    * touch SETS — the coalition-game standard beside [[touchAttribution]]
    * (position rules) and [[markovAttribution]] (removal effects):
    * each converter contributes the set T of distinct channels it
    * touched STRICTLY before its first conversion; the coalition
    * value v(S) = #converters with T ⊆ S; channel c's credit is the
    * exact Shapley sum φ_c = Σ_{S ⊆ N∖{c}} |S|!·(n−1−|S|)!/n! ·
    * (v(S∪{c}) − v(S)). Touchless conversions sit inside every v(S)
    * and cancel in every marginal — direct conversions earn no
    * channel credit, by algebra rather than by rule. Efficiency:
    * Σ φ_c = v(N) − v(∅) (spec-pinned).
    *
    * The channel universe is a DECLARED literal list, n ≤ 6: the 2^n
    * subset enumeration lives in ONE aggregate's column list, and
    * past a handful of channels exact Shapley is the wrong tool
    * (sampled permutations are a different operator). Determinism:
    * v(S) are exact integer counts; φ is a closed-form tree of
    * literal rational weights × count differences in ascending
    * subset-bitmask order, rounded at 6 dp.
    *
    * Scale shape: one min-conversion-ts aggregate, one
    * touch-flags join + aggregate (both user-keyed hash exchanges),
    * then ONE global aggregate with 2^n conditional counts — the
    * subsets never shuffle. Output: (channel, shapley,
    * n_conversions), n_conversions = v(N).
    */
  /** Multi-window SLO burn-rate alerts (the Google SRE workbook
    * recipe) over a daily bad/total event series: burn = (bad/total)
    * / budget over a SHORT and a LONG trailing window, alert when
    * BOTH exceed their thresholds — the short window catches the
    * spike, the long window filters the blip, which is exactly why
    * single-window alerting pages on noise. Windows are ROW windows
    * over the day series and require a full frame (early days can't
    * alert — a half-window burn rate is not a burn rate).
    *
    * Determinism: exact integer rolling sums, one rounded division
    * per window per day, alerts compare 6-dp-frozen burns to literal
    * thresholds. One day-level aggregate + two frame windows.
    * Output: (day, bad, total, burn_short, burn_long, alert).
    */
  def burnRateAlerts(events: DataFrame, tsCol: String, isBad: Column,
      budget: Double, shortDays: Int, longDays: Int,
      shortThreshold: Double, longThreshold: Double): DataFrame = {
    require(budget > 0.0 && budget < 1.0,
      s"burnRateAlerts: budget must be in (0,1), got $budget")
    require(shortDays >= 1 && longDays > shortDays,
      s"burnRateAlerts: need longDays > shortDays >= 1")
    val daily = events
      .select(col(tsCol).cast("date").as("_d"),
        when(coalesce(isBad, lit(false)), 1L).otherwise(0L).as("_b"))
      .groupBy("_d")
      .agg(count(lit(1)).as("_n"), sum("_b").as("_bad"))
    def win(k: Int) = Window.orderBy(col("_d")).rowsBetween(-(k - 1), 0)
    def burn(k: Int): Column =
      round(sum(col("_bad")).over(win(k)).cast("double")
        / sum(col("_n")).over(win(k)).cast("double") / lit(budget), 6)
    daily
      .withColumn("_cs", count(lit(1)).over(win(shortDays)))
      .withColumn("_cl", count(lit(1)).over(win(longDays)))
      .withColumn("_bs", burn(shortDays))
      .withColumn("_bl", burn(longDays))
      .select(col("_d").as("day"),
        col("_bad").cast("bigint").as("bad"),
        col("_n").cast("bigint").as("total"),
        col("_bs").cast("double").as("burn_short"),
        col("_bl").cast("double").as("burn_long"),
        (col("_cs") === shortDays && col("_cl") === longDays &&
          col("_bs") > shortThreshold && col("_bl") > longThreshold)
          .as("alert"))
  }

  def shapleyAttribution(events: DataFrame, userCol: String,
      tsCol: String, typeCol: String, channels: Seq[String],
      convType: String): DataFrame = {
    val n = channels.size
    require(n >= 1 && n <= 6,
      s"shapleyAttribution: 1..6 literal channels, got $n")
    require(channels.distinct.size == n && channels == channels.sorted,
      "shapleyAttribution: channels must be distinct and sorted")
    require(!channels.contains(convType),
      "shapleyAttribution: the conversion type is not a channel")
    val fp = events.filter(col(typeCol) === convType)
      .groupBy(col(userCol).as("_u")).agg(min(col(tsCol)).as("_fpts"))
    val touches = events
      .filter(col(typeCol).isin(channels: _*))
      .select(col(userCol).as("_u"), col(tsCol).as("_ts"),
        col(typeCol).as("_ch"))
    val flags = fp.join(touches,
        fp("_u") === touches("_u") && col("_ts") < col("_fpts"), "left")
      .groupBy(fp("_u"))
      .agg(channels.zipWithIndex.map { case (c, i) =>
        max(when(col("_ch") === c, 1).otherwise(0)).as(s"_h$i")
      }.head, channels.zipWithIndex.tail.map { case (c, i) =>
        max(when(col("_ch") === c, 1).otherwise(0)).as(s"_h$i")
      }: _*)
    val masks = 0 until (1 << n)
    val vCols = masks.map { m =>
      val absent = (0 until n).filter(i => (m & (1 << i)) == 0)
      val cond = absent.map(i => col(s"_h$i") === 0)
        .reduceOption(_ && _).getOrElse(lit(true))
      sum(when(cond, 1L).otherwise(0L)).as(s"_v$m")
    }
    val vRow = flags.agg(vCols.head, vCols.tail: _*)
    def fact(i: Int): Long = (1 to i).foldLeft(1L)(_ * _.toLong)
    def weight(s: Int): Double =
      (fact(s) * fact(n - 1 - s)).toDouble / fact(n).toDouble
    val full = (1 << n) - 1
    val out = channels.zipWithIndex.map { case (c, ci) =>
      val bit = 1 << ci
      val phi = masks.filter(m => (m & bit) == 0).map { m =>
        lit(weight(Integer.bitCount(m))) *
          (col(s"_v${m | bit}") - col(s"_v$m"))
      }.reduce(_ + _)
      vRow.select(lit(c).as("channel"),
        round(phi, 6).cast("double").as("shapley"),
        col(s"_v$full").cast("bigint").as("n_conversions"))
    }.reduce(_ unionByName _)
    out
  }
  /** Growth accounting (the Social-Capital/a16z standard): each day's
    * active users decompose EXACTLY into new (first day ever),
    * retained (also active the previous calendar day), and
    * resurrected (seen before, but not yesterday); churned = the
    * previous day's actives who didn't return (prev_dau − retained —
    * an identity, not an estimate), and the quick ratio
    * (new + resurrected)/churned summarizes whether growth outruns
    * leakage. The decomposition DAU = new + retained + resurrected is
    * exact by construction (spec-pinned).
    *
    * Determinism: everything is exact distinct counts; the quick
    * ratio is one rounded division (NULL when nothing churned). Scale
    * shape: one (user, day) distinct, one first-seen aggregate, one
    * self-join on (user, day−1), a day-level aggregate, and one lag
    * over the calendar-bounded day series. Output: (day, dau,
    * new_users, retained, resurrected, churned, quick_ratio);
    * churned/quick_ratio NULL on a day with no previous calendar day
    * in the data.
    */
  def growthAccounting(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val ud = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("_u"), col(tsCol).cast("date").as("_d"))
      .distinct()
      .localCheckpoint() // first-seen + the day-1 self-join re-read it
    val fs = ud.groupBy("_u").agg(min("_d").as("_first"))
    val flags = ud
      .join(fs, "_u")
      .join(ud.select(col("_u"), date_add(col("_d"), 1).as("_d"))
        .withColumn("_yest", lit(1)), Seq("_u", "_d"), "left")
      .select(col("_d"),
        when(col("_d") === col("_first"), 1L).otherwise(0L).as("_new"),
        when(col("_yest").isNotNull, 1L).otherwise(0L).as("_ret"),
        when(col("_d") > col("_first") && col("_yest").isNull, 1L)
          .otherwise(0L).as("_res"))
    val daily = flags.groupBy("_d")
      .agg(count(lit(1)).as("dau"), sum("_new").as("new_users"),
        sum("_ret").as("retained"), sum("_res").as("resurrected"))
    val w = Window.orderBy("_d") // calendar-bounded day series
    daily
      .withColumn("_pd", lag(col("_d"), 1).over(w))
      .withColumn("_pdau", lag(col("dau"), 1).over(w))
      .withColumn("churned",
        when(col("_pd") === date_sub(col("_d"), 1),
          col("_pdau") - col("retained")))
      .select(col("_d").as("day"),
        col("dau").cast("bigint").as("dau"),
        col("new_users").cast("bigint").as("new_users"),
        col("retained").cast("bigint").as("retained"),
        col("resurrected").cast("bigint").as("resurrected"),
        col("churned").cast("bigint").as("churned"),
        when(col("churned") > 0,
          round((col("new_users") + col("resurrected")).cast("double")
            / col("churned").cast("double"), 6))
          .cast("double").as("quick_ratio"))
  }
}
