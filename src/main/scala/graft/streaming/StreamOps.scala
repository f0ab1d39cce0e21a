package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming forms of the event-time operators (SURVEY §2.9).
  *
  * The reference's only unbounded surface is request/response micro-batching
  * (Tools/server.py); its Spark analog is a file-drop/`MemoryStream` source
  * feeding the same transformation chain as the batch pipelines. Beyond that,
  * the engine ships the streaming counterparts of the batch event-time ops in
  * ext/Sessions.scala:
  *
  *  - tumbling window counts with a watermark (append mode — finalized
  *    windows only);
  *  - gap-based sessionization with `flatMapGroupsWithState` + event-time
  *    timeout, emitting one row per closed session — semantics aligned with
  *    the batch `Sessions.sessionize` (same gap rule, same aggregates).
  *
  * Scale notes: state is per-key (user) and O(1) per session — the state
  * store shards by the groupBy key across executors. Watermark bounds state
  * retention; without it a 100 TB stream would accrete unbounded session
  * state.
  */
object StreamOps {

  /** Event-time timeout clamped above the current watermark: a timestamp
    * ≤ watermark makes `setTimeoutTimestamp` THROW, killing the whole
    * query. Spark 4's default late-record filtering drops rows below the
    * watermark before every stateful operator (StreamingSpec pins this —
    * a straggler never reaches the function), so the clamp is defense in
    * depth for the residual paths: deployments with
    * `statefulOperator.allowMultiple=false`, and a watermark that
    * advances past a surviving group's lastTs between triggers. The
    * clamp fires the timeout at the next trigger — the group is already
    * stale, so immediate closing is the intended semantics.
    */
  private def setIdleTimeout[S](state: GroupState[S], atMs: Long): Unit =
    state.setTimeoutTimestamp(math.max(atMs, state.getCurrentWatermarkMs + 1))

  /** Event row as the streaming source presents it (ts in microseconds). */
  final case class Event(event_id: Long, ts_us: Long, user_id: Long,
                         event_type: String, value: Double)

  /** One closed session (same shape as the batch sessionize output). */
  final case class Session(user_id: Long, n_events: Long,
                           start_us: Long, end_us: Long, dur_us: Long)

  // NOT private: the state encoder's generated code needs public accessors
  final case class SessState(n: Long, start: Long, last: Long)

  /** Schema for a file-drop source mirroring the events table. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-drop source (S8 analog): parquet dir watched as a stream. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)
      .withColumn("ts_us", expr("ts div 1000"))

  /** Tumbling event-time window with watermark; append mode emits each
    * window once it can no longer change.
    */
  def tumblingCounts(events: DataFrame, window: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("event_time"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Hopping (overlapping) event-time windows — the unbounded twin of
    * [[graft.ext.Sessions.hopping]]: Spark expands each event into its
    * window/slide covering windows exactly like the batch operator's
    * explode, and the watermark bounds state to the windows still open.
    */
  def hoppingCounts(events: DataFrame, window: String = "1 hour",
                    slide: String = "30 minutes",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", watermark)
      .groupBy(org.apache.spark.sql.functions.window(
          col("event_time"), window, slide),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Streaming exact dedup (the dedup family's unbounded twin): at most one
    * row per key within the watermark horizon. State is one entry per key,
    * expired by the watermark — bounded by the horizon's key cardinality,
    * never the stream's, which is what makes it runnable forever.
    */
  def dedupStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Deterministic MULTI-micro-batch REPLAY of [[dedupStream]]'s
    * WATERMARKED operator (round 19) — the late-data sibling of
    * [[collapseGateReplay]], covering the state-store semantics that
    * were spec-only: `dropDuplicatesWithinWatermark` admits the first
    * row per key, holds the key in state until the WATERMARK passes its
    * expiry (first-seen event time + delay), drops duplicates while the
    * entry lives, RE-ADMITS after it expires, and discards late rows
    * below the watermark before they reach state. The replay folds those
    * rules across `batches` deterministic micro-batches:
    *
    *   - watermark before batch b = max event time over batches < b,
    *     floored to the millisecond (Spark tracks watermarks in ms),
    *     minus `delayMs`, clamped at epoch — exactly the value a
    *     restarted query resumes with;
    *   - a batch row below the watermark is late → dropped;
    *   - within a batch, rows process in (ts_us, event_id) order (the
    *     family's in-order horizon contract — Spark leaves same-key
    *     same-batch winner choice to partition order; the replay pins
    *     it, and the MemoryStream equality spec feeds ≤ 1 row per key
    *     per batch so the pin is unobservable there);
    *   - the admitted row's key enters state with expiry = its event
    *     time + delay; entries at or below the watermark evict before
    *     the batch processes.
    *
    * Dedup key is (user_id, event_type) — the per-user event-type
    * throttle shape; events' event_id is unique so keying it would make
    * dedup vacuous. K is a replay parameter (a handful): state chains
    * through [[graft.Pin]] per boundary, so the K-batch fold stays one
    * flat sequence of bounded-state plans, never a 3^K lineage tree.
    * The output DEPENDS on state carried across ≥ 2 boundaries: a key
    * admitted in batch 0 inside the horizon gates its batch-2 copy even
    * when batch 1 never touches the key (Round19OpsSpec proves
    * bit-equality to a real 3-batch MemoryStream run, re-admission and
    * late-drop included).
    *
    * @param events frame carrying event_id, user_id, event_type, ts_us
    * @param batchKey micro-batch assignment in [0, batches)
    */
  def dedupWithinWatermarkReplay(events: DataFrame, batchKey: Column,
                                 batches: Int = 3,
                                 delayMs: Long = 86400000L): DataFrame = {
    require(batches >= 1, "need at least one micro-batch")
    val delayUs = delayMs * 1000L
    val keyed = events.select(col("event_id"), col("user_id"),
      col("event_type"), col("ts_us"), batchKey.cast("long").as("batch"))
    val keyCols = Seq("user_id", "event_type")
    // no state before batch 0: its first-per-key rows are admitted as is
    var state: Option[DataFrame] = None
    val outs = (0 until batches).map { b =>
      // watermark the engine holds while batch b processes: ms-floored
      // max event time of everything seen before, minus the delay
      val mx = max(col("ts_us"))
      val wf = broadcast(keyed.filter(col("batch") < b)
        .agg(coalesce(greatest((mx - pmod(mx, lit(1000L))) - lit(delayUs),
          lit(0L)), lit(0L)).as("w_us")))
      // the key columns are re-aliased before the pin: a pin keeps its
      // input's attribute ids, and the state's ids are `keyed`'s, which the
      // non-adaptive planner cannot tell apart in the anti-join below
      val live = state.map(s => graft.Pin(s.crossJoin(wf)
        .filter(col("expiry_us") > col("w_us"))
        .select(keyCols.map(c => col(c).as(c)) :+ col("expiry_us"): _*)))
      val ranked = keyed.filter(col("batch") === b).crossJoin(wf)
        .filter(col("ts_us") > col("w_us")) // late rows never reach state
        .withColumn("rk", row_number().over(
          Window.partitionBy(keyCols.map(col): _*)
            .orderBy(col("ts_us"), col("event_id"))))
      val first = ranked.filter(col("rk") === 1)
      val admitted = live.fold(first)(l =>
        first.join(l.select(keyCols.map(col): _*), keyCols, "left_anti"))
      val entered = admitted.select(
        keyCols.map(col) :+ (col("ts_us") + lit(delayUs)).as("expiry_us"): _*)
      state = Some(live.fold(entered)(_.unionByName(entered)))
      admitted.select(col("event_id"), col("user_id"), col("event_type"),
        col("ts_us"), lit(b.toLong).as("batch"))
    }
    outs.reduce(_ unionByName _)
  }

  /** Stream-stream interval join (attribution shape): each purchase joined
    * to the same user's views in the preceding `windowSec` seconds. BOTH
    * sides carry watermarks and the join condition bounds event time on both
    * ends, so Spark can expire join state — without the range bound the
    * state store would grow with the whole stream, which is the difference
    * between a join that runs forever and one that OOMs.
    */
  def attributionJoin(views: DataFrame, purchases: DataFrame,
                      windowSec: Long = 3600L,
                      watermark: String = "2 hours",
                      joinType: String = "inner"): DataFrame = {
    val v = views
      .withColumn("view_time", timestamp_micros(col("ts_us")))
      .withWatermark("view_time", watermark)
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("view_time"))
    val p = purchases
      .withColumn("purchase_time", timestamp_micros(col("ts_us")))
      .withWatermark("purchase_time", watermark)
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("purchase_time"))
    p.join(v, col("p_user") === col("v_user") &&
      col("view_time") <= col("purchase_time") &&
      col("view_time") >= col("purchase_time") - expr(s"INTERVAL $windowSec seconds"),
      joinType)
      .select(col("p_user").as("user_id"), col("purchase_id"), col("view_id"),
        col("purchase_time"), col("view_time"))
  }

  /** LEFT OUTER stream-stream interval join: every purchase emits — matched
    * rows as they join, unmatched ones with a null view once the watermark
    * proves no in-window view can still arrive. The outer emission is the
    * state-EVICTION semantics (Spark holds an unmatched purchase exactly
    * until `purchase_time` can no longer gain a match, then flushes it
    * null-extended) — the attribution shape where "organic" purchases must
    * appear in the output rather than silently drop.
    */
  def attributionJoinOuter(views: DataFrame, purchases: DataFrame,
                           windowSec: Long = 3600L,
                           watermark: String = "2 hours"): DataFrame =
    attributionJoin(views, purchases, windowSec, watermark, "leftOuter")

  /** One funnel outcome per user (same shape as the batch funnel's 3-stage
    * instantiation over view → click → purchase).
    */
  final case class FunnelRow(user_id: Long, t_view: Option[Long],
                             t_click: Option[Long], t_purchase: Option[Long],
                             stage_reached: Long)

  // NOT private: the state encoder's generated code needs public accessors
  final case class FunnelState(t1: Long, t2: Long, t3: Long) // -1 = unset

  /** Streaming 3-stage funnel (view → click → purchase), the unbounded twin
    * of `ext.Sessions.funnel`: each hop must land strictly after the
    * previous one and within `convWindowUs` of it.
    *
    * State is three timestamps per user — O(1), sharded by user across the
    * state store. A user's outcome is emitted exactly once: immediately on
    * completing the last stage, or by event-time timeout once the watermark
    * passes the last possible conversion deadline (t_hop + convWindowUs), at
    * which point the funnel can no longer progress. The timeout is what
    * bounds state for the 100 TB stream: every entry dies within one
    * conversion window of its last hop.
    *
    * Equivalence caveat (shared with every incremental funnel): events must
    * arrive per-user in event-time order across micro-batches (within a
    * batch they are sorted here). A pre-first-view click that arrives after
    * a later view would have matched in batch but not here; the batch twin
    * is the oracle-checked semantics.
    */
  def funnelStream(events: Dataset[Event], convWindowUs: Long = 86400000000L,
                   watermark: String = "1 hour"): Dataset[FunnelRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    def row(user: Long, s: FunnelState): FunnelRow = {
      def opt(t: Long) = if (t >= 0) Some(t) else None
      FunnelRow(user, opt(s.t1), opt(s.t2), opt(s.t3),
        if (s.t3 >= 0) 3L else if (s.t2 >= 0) 2L else 1L)
    }
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", watermark)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(row(user, s))
          } else {
            var s = state.getOption.getOrElse(FunnelState(-1, -1, -1))
            var done = false
            batch.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
              if (!done) e.event_type match {
                case "view" if s.t1 < 0 => s = s.copy(t1 = e.ts_us)
                case "click" if s.t1 >= 0 && s.t2 < 0 &&
                  e.ts_us > s.t1 && e.ts_us <= s.t1 + convWindowUs =>
                  s = s.copy(t2 = e.ts_us)
                case "purchase" if s.t2 >= 0 && s.t3 < 0 &&
                  e.ts_us > s.t2 && e.ts_us <= s.t2 + convWindowUs =>
                  s = s.copy(t3 = e.ts_us); done = true
                case _ => ()
              }
            }
            if (done) { // funnel complete — emit now, free the state
              state.remove()
              Iterator.single(row(user, s))
            } else if (s.t1 >= 0) {
              state.update(s)
              // deadline: last moment the next hop could still arrive
              val deadlineUs = (if (s.t2 >= 0) s.t2 else s.t1) + convWindowUs
              setIdleTimeout(state, deadlineUs / 1000 + 1)
              Iterator.empty
            } else Iterator.empty
          }
      }
  }

  /** Gap-based sessionization: a session closes when `gapUs` passes with no
    * new event for the user (event-time timeout driven by the watermark).
    * Late events within the watermark extend the open session; the batch
    * twin in ext/Sessions produces the same (user, n, start, end) tuples.
    */
  def sessionize(events: Dataset[Event], gapUs: Long = 30L * 60 * 1000000,
                 watermark: String = "1 hour"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", watermark)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[SessState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[Session]
          if (state.hasTimedOut) {
            val s = state.get
            out += Session(user, s.n, s.start, s.last, s.last - s.start)
            state.remove()
          } else {
            var cur = state.getOption
            batch.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
              cur match {
                case Some(s) if e.ts_us - s.last <= gapUs =>
                  cur = Some(SessState(s.n + 1, s.start, math.max(s.last, e.ts_us)))
                case Some(s) =>
                  out += Session(user, s.n, s.start, s.last, s.last - s.start)
                  cur = Some(SessState(1, e.ts_us, e.ts_us))
                case None =>
                  cur = Some(SessState(1, e.ts_us, e.ts_us))
              }
            }
            cur.foreach { s =>
              state.update(s)
              setIdleTimeout(state, (s.last + gapUs) / 1000 + 1)
            }
          }
          out.iterator
      }
  }

  /** Stream-static enrichment: join the unbounded event stream to a
    * bounded dimension (here: per-user first-seen metadata computed from a
    * batch table). The static side is planned as a broadcast per
    * micro-batch — no stream-side state at all, the cheapest join a stream
    * can do, and the standard shape for taxonomy/profile enrichment.
    */
  def enrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(
      org.apache.spark.sql.functions.broadcast(dim), Seq("user_id"),
      "left_outer")

  final case class Debounced(user_id: Long, event_id: Long, ts_us: Long,
                             event_type: String)
  final case class DebState(lastType: String, lastTs: Long)

  /** Streaming debounce — the unbounded twin of
    * [[graft.ext.Sessions.compactRuns]]: per user, emit only the events
    * that CHANGE the event type (run starts); consecutive same-type events
    * are swallowed. State is one (type, ts) pair per user, expired after
    * `idleUs` of event-time silence — so a user idle past the horizon
    * re-emits their current type on return (the same horizon caveat as
    * `dropDuplicatesWithinWatermark`); inside the horizon the emitted set
    * is exactly the batch operator's run starts.
    */
  def debounceStream(events: Dataset[Event],
                     idleUs: Long = 3600L * 1000000,
                     watermark: String = "1 hour"): Dataset[Debounced] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", watermark)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[DebState, Debounced](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[DebState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[Debounced]
            var last = state.getOption
            batch.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
              if (!last.exists(_.lastType == e.event_type))
                out += Debounced(user, e.event_id, e.ts_us, e.event_type)
              last = Some(DebState(e.event_type,
                math.max(last.map(_.lastTs).getOrElse(0L), e.ts_us)))
            }
            last.foreach { s =>
              state.update(s)
              setIdleTimeout(state, (s.lastTs + idleUs) / 1000 + 1)
            }
            out.iterator
          }
      }
  }

  /** The BUILT-IN session-window form of [[sessionize]]: Spark's native
    * `session_window(ts, gap)` merges overlapping per-event gap intervals
    * inside the streaming aggregation operator — no user state code. Kept
    * alongside the flatMapGroupsWithState form because the two trade
    * differently: native windows give only aggregates over the session
    * (and Spark's session END is last_event + gap, so `dur_us` subtracts
    * the gap back out to match the batch twin's last−first), while the
    * explicit-state form can emit arbitrary per-session payloads.
    *
    * Boundary semantics: native windows SPLIT at diff ≥ gap (the per-event
    * [t, t+gap) intervals stop overlapping), while the batch/state forms
    * split at diff > gap — the two differ only for events exactly gap
    * apart. Pick a gap off the data's timestamp granularity when exact
    * equivalence matters.
    */
  def sessionWindowCounts(events: DataFrame,
                          gapUs: Long = 30L * 60 * 1000000,
                          watermark: String = "1 hour"): DataFrame = {
    require(gapUs > 0 && gapUs % 1000000 == 0,
      s"gap must be whole positive seconds in µs, got $gapUs")
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", watermark)
      .groupBy(
        session_window(col("event_time"), s"${gapUs / 1000000} seconds"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        (unix_micros(col("session_window.end")) - gapUs).as("end_us"),
        col("n_events"))
  }

  /** Streaming twin of [[graft.ext.Sessions.trailingDistinctUsers]]: EXACT
    * trailing `windowDays`-day distinct users, unbounded. Same bounded
    * interval explode — each event fans out to the day-buckets it can
    * serve — then `dropDuplicatesWithinWatermark` holds one state entry
    * per (user, target day) inside the horizon and a per-day count
    * finalizes in append mode once the watermark passes the day. State is
    * bounded by users × windowDays within the horizon, never the stream.
    * (Exploded rows sit up to windowDays AHEAD of their event's true time,
    * so the watermark must exceed windowDays plus real lateness for late
    * events to still land in their trailing windows.)
    *
    * Emits every covered target day (a day with no direct events still has
    * trailing actives); the batch operator's active-day filter is a
    * downstream join.
    */
  def trailingDistinctStream(events: DataFrame, windowDays: Int = 7,
                             watermark: String = "9 days"): DataFrame = {
    val DayUs = 86400000000L
    events
      .withColumn("day", expr(s"ts_us div $DayUs"))
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + lit(windowDays - 1)))
          .as("t_day"))
      .withColumn("event_time", timestamp_micros(col("t_day") * DayUs))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("user_id", "t_day")
      .groupBy(org.apache.spark.sql.functions.window(
        col("event_time"), "1 day"))
      .agg(count(lit(1)).as(s"n_users_${windowDays}d"))
      .select(expr(s"unix_micros(window.start) div $DayUs").as("day"),
        col(s"n_users_${windowDays}d"))
  }

  final case class Transition(user_id: Long, from_type: String,
    to_type: String, ts_us: Long)
  final case class LastEvent(t: String, ts: Long)

  /** Streaming twin of the Markov-transition counts
    * ([[graft.ext.Sessions.markovTransitions]] bucketed by day): CHAINED
    * stateful operators — a flatMapGroupsWithState stage turns each user's
    * event stream into transition rows (state = last event type), and the
    * built-in tumbling-window aggregation counts them downstream in the
    * SAME streaming query. The composition is the point: custom state for
    * the sequence logic, declarative windowing for the rollup (Spark 4's
    * multi-stateful-operator support; the watermark is re-declared on the
    * intermediate frame so the window can finalize).
    *
    * Horizon contract: within a micro-batch, events sort by (ts_us,
    * event_id); ACROSS batches the last-type state follows arrival order —
    * in-horizon stragglers that cross a batch boundary out of order can
    * produce a transition the batch operator wouldn't (same caveat family
    * as the other twins' notes).
    */
  def transitionCountsStream(events: Dataset[Event],
                             watermark: String = "1 hour"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val trans = events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", watermark)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[LastEvent]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[Transition]
          var last = state.getOption
          batch.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            last.foreach(l => out += Transition(user, l.t, e.event_type, e.ts_us))
            last = Some(LastEvent(e.event_type, e.ts_us))
          }
          last.foreach(state.update)
          out.iterator
      }
    trans
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", watermark)
      .groupBy(org.apache.spark.sql.functions.window(
        col("event_time"), "1 day"),
        col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(expr("unix_micros(window.start) div 86400000000").as("day"),
        col("from_type"), col("to_type"), col("cnt"))
  }

  /** One finalized day of the moving-anomaly stream, in the batch
    * operator's exact fixed-point units: `revenue_cents` = revenue×100,
    * `mu_e6` = μ×10⁶ (half-up), `var_num_e4` = (n·s2 − s1²)×10⁴ — Longs
    * keep the state/output encoders exact and schema-stable, and exactness
    * makes "bit-equal to batch" a trivial integer equality.
    */
  final case class AnomDayRow(event_type: String, day: Long,
    revenue_cents: Long, n_frame: Long, mu_e6: Long, var_num_e4: Long,
    anomaly: Boolean)
  final case class AnomDay(day: Long, cents: Long)
  final case class AnomState(open: Map[Long, Double], hist: Seq[AnomDay],
    lastFinal: Long)

  /** Streaming twin of [[graft.ext.Sessions.movingAnomaly]]: per event type,
    * daily revenue plus trailing-`frameDays` z-score, unbounded. Open days
    * accumulate in state; once the watermark passes a day's end it is
    * FINALIZED in day order — rounded to exact cents, appended to the
    * trailing frame, and emitted with stats derived exactly as the batch
    * window does (same expression shapes over the same exact decimal
    * moments, so finalized rows are bit-equal to the batch operator's).
    *
    * State per event type is O(open days + frameDays): the trailing frame
    * spans the last `frameDays` OBSERVED days (row frame, like the batch
    * `rowsBetween`), so it persists across gaps and never grows. Late
    * events inside the horizon land in their open day; events for a day
    * that already finalized (beyond the horizon) are dropped — the same
    * horizon contract as the other twins.
    */
  def movingAnomalyStream(events: Dataset[Event], frameDays: Int = 7,
                          zThr: Double = 2.0,
                          watermark: String = "1 day"): Dataset[AnomDayRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val DayUs = 86400000000L
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", watermark)
      .as[Event]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomState, AnomDayRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (etype: String, batch: Iterator[Event], state: GroupState[AnomState]) =>
          val st0 = state.getOption
            .getOrElse(AnomState(Map.empty, Seq.empty, Long.MinValue))
          var open = st0.open
          batch.foreach { e =>
            val d = math.floorDiv(e.ts_us, DayUs)
            if (d > st0.lastFinal) // beyond-horizon stragglers are dropped
              open = open.updated(d, open.getOrElse(d, 0.0) + e.value)
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (done, still) = open.partition { case (d, _) =>
            (d + 1) * DayUs <= wmUs }
          var hist = st0.hist
          val out = done.toSeq.sortBy(_._1).map { case (d, sum) =>
            // exact decimal view of the double sum, HALF_UP at 2 dp — the
            // same contract as Spark's round(sum(value), 2), which goes
            // through BigDecimal.valueOf (Double.toString shortest repr),
            // NOT new BigDecimal(double) (exact binary expansion): for a
            // boundary sum like 2.675 the two differ by one cent.
            val cents = java.math.BigDecimal.valueOf(sum)
              .setScale(2, java.math.RoundingMode.HALF_UP)
              .movePointRight(2).longValueExact()
            hist = (hist :+ AnomDay(d, cents)).takeRight(frameDays)
            // exact fixed-point mirror of the batch window math: s1 in
            // cents (e-2), s2 in e-4; μ_e6 = half-up |s1c|·1e4 / n;
            // var_num_e4 = n·Σc² − s1c²; anomaly ⟺ d² > zThr²·var_num.
            // The variance numerator is computed in BigInteger: its
            // INTERMEDIATES (Σc², s1c², n·Σc², n·cents) overflow long for
            // ~1e10-cent days even when the final difference fits, and the
            // batch DECIMAL(32,4) twin tolerates exactly those — so the
            // long conversion happens only on the FINAL value
            // (longValueExact throws loudly on the same envelope the batch
            // varGuard raise_error enforces, keeping the twins failing on
            // identical inputs instead of diverging inside the envelope)
            val n = hist.size.toLong
            val s1c = hist.iterator.map(_.cents).foldLeft(0L)(Math.addExact)
            val muMag = Math.addExact(
              Math.multiplyExact(math.abs(s1c), 20000L), n) / (n * 2)
            val muE6 = if (s1c < 0) -muMag else muMag
            val bigN = java.math.BigInteger.valueOf(n)
            val s2e4Big = hist.iterator
              .map(h => java.math.BigInteger.valueOf(h.cents).pow(2))
              .foldLeft(java.math.BigInteger.ZERO)(_.add(_))
            val varNumBig = bigN.multiply(s2e4Big)
              .subtract(java.math.BigInteger.valueOf(s1c).pow(2))
            val varNumE4 = varNumBig.longValueExact()
            val dCBig = bigN.multiply(java.math.BigInteger.valueOf(cents))
              .subtract(java.math.BigInteger.valueOf(s1c))
            val anomaly = new java.math.BigDecimal(dCBig.pow(2)).compareTo(
              java.math.BigDecimal.valueOf(zThr * zThr).multiply(
                new java.math.BigDecimal(varNumBig))) > 0
            AnomDayRow(etype, d, cents, n, muE6, varNumE4, anomaly)
          }
          val lastFinal =
            if (done.isEmpty) st0.lastFinal else done.keys.max
          state.update(AnomState(still, hist, lastFinal))
          if (still.nonEmpty)
            setIdleTimeout(state,
              still.keys.map(d => (d + 1) * DayUs / 1000L).min + 1)
          out.iterator
      }
  }

  /** Per-conversation audit row (same shape as the batch
    * [[graft.ext.Dialogue.turnAudit]] output).
    */
  final case class DlgRow(user_id: Long, n_msgs: Long,
                          n_role_violations: Long, starts_with_user: Boolean,
                          kept_msgs: Long, kept_toks: Long)

  // NOT private: the state encoder's generated code needs public accessors
  final case class DlgState(first: String, prev: String, n: Long, viol: Long,
                            cum: Long, kept: Long, keptToks: Long,
                            lastTs: Long)

  /** Streaming twin of [[graft.ext.Dialogue.turnAudit]] — eleventh
    * batch↔stream pair: the audit accumulates per conversation in O(1)
    * state (first/previous role, running counts, cumulative token mass)
    * and emits its row when the conversation goes idle for
    * `idleTimeoutUs` of event time (watermark-driven timeout — the
    * transcript-closing rule of a live chat pipeline). Token proxy is
    * `value.toLong + 1`, mirroring the batch twin's column.
    *
    * Same delivery precondition as [[funnelStream]]: per-user event-time
    * order across micro-batches (batches are sorted internally); the
    * batch operator is the oracle-checked semantics.
    */
  def dialogueAuditStream(events: Dataset[Event], budget: Long = 500L,
                          idleTimeoutUs: Long = 3600L * 1000000,
                          watermark: String = "1 hour",
                          userTypes: Set[String] =
                            Set("click", "purchase", "signup"))
      : Dataset[DlgRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", watermark)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[DlgState, DlgRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[DlgState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(DlgRow(user, s.n, s.viol, s.first == "user",
              s.kept, s.keptToks))
          } else {
            var s = state.getOption
              .getOrElse(DlgState(null, null, 0L, 0L, 0L, 0L, 0L, -1L))
            batch.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
              val role =
                if (userTypes(e.event_type)) "user" else "assistant"
              val toks = e.value.toLong + 1
              val cum = s.cum + toks
              s = DlgState(
                if (s.first == null) role else s.first, role, s.n + 1,
                if (s.prev != null && s.prev == role) s.viol + 1 else s.viol,
                cum,
                if (cum <= budget) s.kept + 1 else s.kept,
                if (cum <= budget) cum else s.keptToks,
                e.ts_us)
            }
            state.update(s)
            // end-of-interval contract (matches funnel/sessionize at :261/:317):
            // truncate AFTER the sum and add 1 ms so a boundary-timestamp
            // straggler still lands inside the open interval — the
            // per-term truncation fired up to ~1 ms of event time early
            setIdleTimeout(state, (s.lastTs + idleTimeoutUs) / 1000 + 1)
            Iterator.empty
          }
      }
  }

  /** Per-conversation bracket-audit row (same shape as the batch
    * [[graft.ext.Dialogue.toolCallAudit]] output).
    */
  final case class ToolRow(user_id: Long, n_calls: Long, n_results: Long,
                           n_orphan_results: Long, n_unclosed_calls: Long,
                           ok: Boolean)

  // NOT private: the state encoder's generated code needs public accessors
  final case class ToolState(calls: Long, results: Long, bal: Long,
                             minBal: Long, lastTs: Long)

  /** Streaming twin of [[graft.ext.Dialogue.toolCallAudit]] — twelfth
    * batch↔stream pair: the balanced-brackets invariant of tool-use
    * transcripts tracked live in O(1) state per conversation (running
    * balance + its minimum), emitting the audit row when the episode
    * goes idle (same event-time-timeout closing rule as
    * [[dialogueAuditStream]]). The batch operator is the oracle-checked
    * semantics; equivalence is asserted on shared random events.
    */
  def toolCallAuditStream(events: Dataset[Event],
                          idleTimeoutUs: Long = 3600L * 1000000,
                          watermark: String = "1 hour",
                          callTypes: Set[String] = Set("cart"),
                          resultTypes: Set[String] = Set("purchase"))
      : Dataset[ToolRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", watermark)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ToolState, ToolRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[Event],
         state: GroupState[ToolState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            val orphans = math.max(0L, -s.minBal)
            val unclosed = s.calls - s.results + orphans
            Iterator.single(ToolRow(user, s.calls, s.results, orphans,
              unclosed, orphans == 0L && s.calls == s.results))
          } else {
            var s = state.getOption
              .getOrElse(ToolState(0L, 0L, 0L, 0L, -1L))
            batch.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
              val d =
                if (callTypes(e.event_type)) 1L
                else if (resultTypes(e.event_type)) -1L
                else 0L
              val bal = s.bal + d
              s = ToolState(
                s.calls + (if (d > 0) 1L else 0L),
                s.results + (if (d < 0) 1L else 0L),
                bal, math.min(s.minBal, bal), e.ts_us)
            }
            state.update(s)
            // end-of-interval contract (matches funnel/sessionize at :261/:317):
            // truncate AFTER the sum and add 1 ms so a boundary-timestamp
            // straggler still lands inside the open interval — the
            // per-term truncation fired up to ~1 ms of event time early
            setIdleTimeout(state, (s.lastTs + idleTimeoutUs) / 1000 + 1)
            Iterator.empty
          }
      }
  }

  /** Streaming twin of [[graft.ext.Curation.corpusDigest]] — fourteenth
    * batch↔stream pair and the first AGGREGATION twin: the digest is a
    * commutative modular sum, so the identical per-doc term projection
    * feeds a complete-mode streaming groupBy and micro-batch boundaries
    * cannot change the stamp (the spec feeds the corpus in two batches
    * and gets the batch digest bit-for-bit). This is the production
    * shape of the lineage stamp: maintained incrementally as shards
    * land, never recomputed over the full snapshot.
    */
  def corpusDigestStream(docs: DataFrame): DataFrame =
    graft.ext.Curation.digestTerms(docs)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("total_chars"),
        sum(col("term")).as("term_sum"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        pmod(col("term_sum"), lit(1L << 31)).as("digest"))

  /** One margin-gated preference pair (the q216 per-prompt grain, before
    * the type-matrix rollup).
    */
  final case class PairRow(user_id: Long, chosen_type: String,
                           rejected_type: String, margin_cents: Long)

  // NOT private: the state encoder's generated code needs public accessors
  final case class PrefState(maxC: Long, maxId: Long, maxT: String,
                             minC: Long, minId: Long, minT: String,
                             lastTs: Long)

  /** Streaming twin of [[graft.ext.Dialogue.preferencePairs]] —
    * thirteenth batch↔stream pair: the per-prompt reward argmax/argmin
    * tracked live in O(1) state (running (cents, id, type) extrema — a
    * struct max/min is order-independent, so micro-batch arrival order
    * cannot change the pair), the margin-gated pair emitted when the
    * prompt group goes idle. Cents are exact (2-dp decimal route, the
    * q120 rule, via the canonical double repr — bit-equal to the batch
    * DECIMAL(18,2) cast). The batch operator is the oracle-checked
    * semantics; the spec aggregates emitted pairs to the type matrix and
    * asserts equality on shared random events.
    */
  def preferencePairsStream(events: Dataset[Event],
                            minMarginCents: Long = 20000L,
                            idleTimeoutUs: Long = 3600L * 1000000,
                            watermark: String = "1 hour")
      : Dataset[PairRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    def cents(v: Double): Long =
      new java.math.BigDecimal(java.lang.Double.toString(v))
        .setScale(2, java.math.RoundingMode.HALF_UP)
        .movePointRight(2).longValueExact()
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", watermark)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PrefState, PairRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[Event],
         state: GroupState[PrefState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            if (s.maxId != s.minId && s.maxC - s.minC >= minMarginCents)
              Iterator.single(PairRow(user, s.maxT, s.minT, s.maxC - s.minC))
            else Iterator.empty
          } else {
            var s = state.getOption.orNull
            batch.foreach { e =>
              val c = cents(e.value)
              if (s == null)
                s = PrefState(c, e.event_id, e.event_type,
                  c, e.event_id, e.event_type, e.ts_us)
              else {
                // batch tie-break replayed: chosen = max(cents, −id),
                // rejected = min(cents, id)
                val up =
                  if (c > s.maxC || (c == s.maxC && e.event_id < s.maxId))
                    s.copy(maxC = c, maxId = e.event_id, maxT = e.event_type)
                  else s
                s =
                  if (c < up.minC || (c == up.minC && e.event_id < up.minId))
                    up.copy(minC = c, minId = e.event_id,
                      minT = e.event_type,
                      lastTs = math.max(up.lastTs, e.ts_us))
                  else up.copy(lastTs = math.max(up.lastTs, e.ts_us))
              }
            }
            state.update(s)
            // end-of-interval contract (matches funnel/sessionize at :261/:317):
            // truncate AFTER the sum and add 1 ms so a boundary-timestamp
            // straggler still lands inside the open interval — the
            // per-term truncation fired up to ~1 ms of event time early
            setIdleTimeout(state, (s.lastTs + idleTimeoutUs) / 1000 + 1)
            Iterator.empty
          }
      }
  }

  // NOT private: state encoder codegen needs public accessors
  final case class BucketState(levelMicro: Long, lastTsUs: Long)
  final case class Admission(user_id: Long, event_id: Long, ts_us: Long,
                             admitted: Boolean, level_micro: Long)

  /** Streaming twin #15 of [[graft.ext.Serving.tokenBucket]]: per-user
    * token-bucket admission, one `Admission` row per event as it is
    * policed — the ONLINE form of the audit (the batch op replays history;
    * the stream IS the rate limiter). State per user is O(1): (level,
    * last-event time), exactly the fold accumulator of the batch op's
    * packed-BIGINT lambda, unpacked.
    *
    * Arithmetic is the batch contract verbatim: micro-token integers,
    * refill = Δt_µs · refillPerSec clamped at capacity, admit iff the
    * refilled level covers the cost. First event of a user sees a full
    * bucket. Horizon contract (same family as the other twins): within a
    * micro-batch, events sort by (ts_us, event_id); ACROSS batches state
    * follows arrival order, and a cross-batch straggler's negative Δt
    * clamps to 0 (bucket time never rewinds) — in-order delivery is
    * bit-equal to batch (StreamingSpec asserts it whole and split).
    *
    * State is BOUNDED via an event-time timeout that drops a user's state
    * once the watermark passes lastTs + full-refill time
    * (⌈capacity/refillPerSec⌉ seconds): by then the bucket has refilled to
    * capacity, which is exactly the fresh-state initial level, and any
    * NON-LATE future event (watermark contract: later events have
    * event_time ≥ watermark > lastTs + fullRefill) would have been clamped
    * to a full bucket by the batch fold too — so expiry-and-reinit is
    * bit-equal to keeping the state, and the store no longer grows with
    * every user ever seen.
    */
  def tokenBucketStream(events: Dataset[Event], capacity: Int = 5,
                        refillPerSec: Int = 2, cost: Int = 1,
                        watermark: String = "1 hour"): Dataset[Admission] = {
    val spark = events.sparkSession
    import spark.implicits._
    val cMicro = capacity * 1000000L
    val costMicro = cost * 1000000L
    // µs of silence after which the bucket is provably full again
    // (ceil so integer refill never lands one µtok short of capacity)
    val fullRefillUs = (cMicro + refillPerSec - 1) / refillPerSec
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", watermark)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BucketState, Admission](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[Event],
         state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            // bucket fully refilled during the silence: dropping the state
            // is bit-equal to keeping it (next event re-inits to full)
            state.remove()
            Iterator.empty
          } else {
            val out = scala.collection.mutable.ArrayBuffer.empty[Admission]
            var st = state.getOption.orNull
            batch.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
              val dt = if (st == null) 0L
                else math.max(0L, e.ts_us - st.lastTsUs)
              val level = if (st == null) cMicro
                else math.min(cMicro, st.levelMicro + dt * refillPerSec)
              val admitted = level >= costMicro
              val after = if (admitted) level - costMicro else level
              out += Admission(user, e.event_id, e.ts_us, admitted, after)
              st = BucketState(after,
                if (st == null) e.ts_us else math.max(st.lastTsUs, e.ts_us))
            }
            if (st != null) {
              state.update(st)
              setIdleTimeout(state, (st.lastTsUs + fullRefillUs) / 1000 + 1)
            }
            out.iterator
          }
      }
  }

  /** Streaming twin #17 of [[graft.ext.Dedup.minhashNewVsCorpus]]: the
    * dedup-against-prior-crawl gate ONLINE — documents arriving on a
    * stream are near-dup-checked against a STATIC corpus as they land,
    * emitting (new_id, corpus_id, jaccard) for admissions review before
    * a batch ever forms.
    *
    * The whole gate is STATELESS streaming (the only twin with zero
    * state store): per-row MinHash signatures ride the codegen'd
    * `shingle_codes` kernel (array_min over transformed codes — no
    * explode→groupBy, which would be a stateful streaming aggregation),
    * bands explode per row, and candidates come from a stream-STATIC
    * equi-join on (band, band_sig) against the corpus's precomputed
    * band table — exactly the standing artifact the batch op's scaladoc
    * says an incremental pipeline keeps materialized. The exact-Jaccard
    * verify is per-row array arithmetic (array_intersect on the two
    * shingle sets), so micro-batch boundaries CANNOT affect the result:
    * equivalence with batch is structural, and StreamingSpec proves it
    * whole-vs-split on the real documents fixture.
    *
    * Scale: the static side is band-keyed (broadcastable when small,
    * shuffled once when not) and carries ONLY (id, band_sigs) —
    * the per-doc code arrays stay on a separate narrow (corpus_id, codes)
    * frame joined per surviving candidate (round 19; the batch index
    * gate's round-17 shape). Per-arriving-doc cost is hashing + one
    * keyed lookup + |candidates| exact verifies — independent of stream
    * history length.
    */
  def dedupGateStream(newDocs: DataFrame, corpus: DataFrame, k: Int = 16,
                      bands: Int = 4, n: Int = 3,
                      minJaccard: Double = 0.5): DataFrame = {
    // The batch gates' own band join and verify
    // ([[graft.ext.Dedup.bandPairs]], whose smallest-matching-band rule is
    // already stateless, and [[graft.ext.Dedup.jaccardVerified]]); only
    // the code arrays differ. The NEW side carries its codes inline: a
    // stream cannot re-join itself statelessly, and the arriving
    // micro-batch is the small side by construction. The STATIC side
    // joins bands-only, and its codes re-attach after the band match via
    // a second stream-static equi-join on corpus_id against the narrow
    // (corpus_id, codes) frame (round 19, the batch gate's round-17 shape).
    //
    // Round 20: both static branches derive from ONE pinned
    // [[graft.ext.Dedup.buildBandIndex]] frame. The pin hashes the corpus
    // text exactly once at gate construction (stream-static sides are
    // otherwise re-evaluated EVERY trigger — two full corpus scans plus
    // two kernel passes per micro-batch), and the codes branch is the
    // index's own rows by construction, so it cannot drift from the bands.
    val corpusIndex = graft.Pin(
      graft.ext.Dedup.buildBandIndex(corpus, k, bands, n))
    val arriving = graft.ext.Dedup.buildBandIndex(newDocs, k, bands, n)
    val pairs = graft.ext.Dedup.bandPairs(
        arriving.select(col("doc_id").as("new_id"),
          col("band_sigs").as("new_bands"), col("codes").as("new_codes")),
        corpusIndex.select(col("doc_id").as("corpus_id"),
          col("band_sigs").as("corpus_bands")), bands)
      .join(corpusIndex.select(col("doc_id").as("corpus_id"),
        col("codes").as("corpus_codes")), "corpus_id")
    graft.ext.Dedup.jaccardVerified(pairs, "new_codes", "corpus_codes",
        minJaccard)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
  }

  /** Streaming twin #18 of [[graft.ext.Dedup.dhashNewVsCorpus]]: the
    * PERCEPTUAL admission gate online — the image-raster sibling of
    * [[dedupGateStream]], same stateless architecture. It IS the batch
    * gate's uncollapsed body: per-row dHash bands are pure column
    * expressions, candidates come from the stream-static
    * [[graft.ext.Dedup.bandPairs]] join (multi-band matches kept on the
    * smallest matching band — zero state store), and the exact Hamming
    * verify is per row. Emits (new_id, corpus_id, hamming) as each
    * document lands.
    */
  def dhashGateStream(newDocs: DataFrame, corpus: DataFrame,
                      maxDist: Int = 16): DataFrame =
    graft.ext.Dedup.dhashNewVsCorpusDistinct(newDocs, corpus, maxDist)

  // NOT private: state encoder codegen needs public accessors
  final case class PagerState(ctx: Long)
  final case class PagerTurn(user_id: Long, event_id: Long, ts_us: Long,
                             ctx: Long, pages: Long)

  /** Streaming twin #16 of [[graft.ext.Serving.kvCachePager]]: the paged
    * KV-cache accounting ONLINE — one `PagerTurn` row per event as the
    * conversation grows, carrying the running context length and the
    * page count `ceil(ctx / blockTokens)` a vLLM-style allocator holds at
    * that turn. The batch op's per-user aggregates (n_turns, peaks,
    * page_turns, frag) are plain rollups of this emission — StreamingSpec
    * proves whole-vs-split bit-equality against the batch op.
    *
    * Context model is the batch contract verbatim: piece_len =
    * len(event_type) + 1 + len(cents-as-string) + 1 (the simplified
    * `event_type:cents\n` rendering — see the batch scaladoc for why this
    * is deliberately not the full q237 template), ctx summed in
    * (ts_us, event_id) order within each micro-batch, arrival order
    * across batches (the family's in-order horizon contract).
    *
    * State per user is ONE Long (the running ctx) — the minimum any
    * context accounting can hold. Deliberately NO timeout: unlike the
    * token bucket (where a full refill makes expiry-and-reinit bit-equal),
    * there is no silence length after which dropping the context sum is
    * semantically neutral — a returning user's ctx would silently restart
    * at 0 and every subsequent page count would be wrong. A production
    * deployment bounds the store with a conversation TTL, which is a
    * different CONTRACT (session-scoped context, the sessionize twin's
    * shape), not a transparent optimization of this one.
    */
  def kvCachePagerStream(events: Dataset[Event], blockTokens: Int = 16,
                         watermark: String = "1 hour")
      : Dataset[PagerTurn] = {
    require(blockTokens >= 1, "blockTokens must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    def cents(v: Double): Long =
      new java.math.BigDecimal(java.lang.Double.toString(v))
        .setScale(2, java.math.RoundingMode.HALF_UP)
        .movePointRight(2).longValueExact()
    val b = blockTokens.toLong
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", watermark)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PagerState, PagerTurn](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[Event],
         state: GroupState[PagerState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[PagerTurn]
          var ctx = state.getOption.map(_.ctx).getOrElse(0L)
          batch.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            val pieceLen = e.event_type.length + 1 +
              cents(e.value).toString.length + 1
            ctx += pieceLen
            out += PagerTurn(user, e.event_id, e.ts_us, ctx, (ctx + b - 1) / b)
          }
          if (out.nonEmpty) state.update(PagerState(ctx))
          out.iterator
      }
  }

  // NOT private: state encoder codegen needs public accessors
  final case class CollapsedDoc(doc_id: Long, rep: Long, is_first: Boolean)

  /** Streaming twin #20 of [[graft.ext.ExactCollapse.withRep]]: the exact-
    * duplicate admission gate ONLINE — each arriving document is keyed by
    * its text and emitted with the group representative (minimum doc_id
    * seen so far) plus an `is_first` admission flag. The first copy of a
    * text is admitted (`is_first`, rep = itself); every later copy maps to
    * the standing rep — the stream-side half of the exact-collapse
    * discipline every near-dup pipeline in ext/Dedup rides.
    *
    * Batch recurrence verbatim under the in-order horizon contract
    * (delivery in doc_id order, the packStream class): the running group
    * minimum then equals the global window minimum for every row, so the
    * output is bit-equal to `withRep` whole or split (StreamingSpec).
    * State is O(1) per DISTINCT text — one long — keyed by the text
    * itself (the batch window key; a production deployment keys a
    * 128-bit digest to bound state-store key size). Deliberately NO
    * timeout: dropping a group's rep would re-admit a later copy of a
    * text seen before the horizon — never semantically neutral (the
    * kvCachePagerStream contract class).
    */
  /** The collapse-gate state function, shared verbatim by the streaming
    * form and the batch-mode multi-batch replay. "Seen before" is tracked
    * as EXPLICIT state presence (state.exists = a rep stands), never an
    * in-band Long.MaxValue sentinel — a group whose only doc_id IS
    * Long.MaxValue must still admit exactly once, with rep = that id.
    */
  private val collapseGateFunc
      : (String, Iterator[(String, Long)], GroupState[Long]) =>
        Iterator[CollapsedDoc] =
    (_: String, batch: Iterator[(String, Long)], state: GroupState[Long]) => {
      val out = scala.collection.mutable.ArrayBuffer.empty[CollapsedDoc]
      var seen = state.exists
      var rep = if (seen) state.get else Long.MaxValue
      batch.toSeq.sortBy(_._2).foreach { case (_, id) =>
        val first = !seen
        seen = true
        if (id < rep) rep = id
        out += CollapsedDoc(id, rep, first)
      }
      state.update(rep)
      out.iterator
    }

  def collapseGateStream(docs: DataFrame): Dataset[CollapsedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("text"), col("doc_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, CollapsedDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(collapseGateFunc)
  }

  /** Deterministic MULTI-micro-batch REPLAY of [[collapseGateStream]],
    * batch-expressible and driver-oracle-able (round 18): documents are
    * assigned to `batches` micro-batches by `doc_id mod batches` and
    * replayed in batch order, the per-text standing rep carried across
    * batches through flatMapGroupsWithState's INITIAL STATE — the exact
    * seam a restarted streaming query resumes from (the state-store
    * handoff), running [[collapseGateFunc]] unchanged. The output
    * provably DEPENDS on the cross-batch carry: a copy of a text planted
    * in a LATER batch is never `is_first` (its text's rep stands from an
    * earlier batch), and an earlier-batch doc with a LARGER id than a
    * later-batch copy is the admitted one — both differ from the
    * single-batch q269 shape whenever a duplicate group spans batches.
    *
    * Initial state for batch b is derived declaratively — min doc_id per
    * text over batches < b, the closed form of folding the gate's state
    * updates — so the whole K-batch replay is ONE lazy DAG (no
    * driver-side materialization between batches). K is the number of
    * replayed micro-batches — a handful, a replay parameter — so the
    * K-plan union is not a scale term; each batch's plan is the same
    * shuffle-on-text the streaming sink runs.
    */
  def collapseGateReplay(docs: DataFrame, batches: Int = 2)
      : Dataset[CollapsedDoc] =
    collapseGateReplayBy(docs, pmod(col("doc_id"), lit(batches.toLong)),
      batches)

  /** [[collapseGateReplay]] with an ARBITRARY batch assignment (round 19):
    * `batchKey` maps each doc to its micro-batch in [0, batches). The
    * K = 2 parity replay only ever carries state across ONE boundary and
    * interleaves groups evenly; a range/block key (q281 uses
    * `doc_id div 64 mod 3`) makes one text's copies span NON-ADJACENT
    * batches, so a rep admitted in batch 0 must survive an interposed
    * batch that never touches its group and still gate batch 2 — state
    * carried across ≥ 2 boundaries, the restarted-stream resume seam
    * exercised K−1 times (Round19OpsSpec proves bit-equality to a real
    * K-batch MemoryStream run on a skewed fixture).
    */
  def collapseGateReplayBy(docs: DataFrame, batchKey: Column,
                           batches: Int): Dataset[CollapsedDoc] = {
    require(batches >= 1, "need at least one micro-batch")
    val spark = docs.sparkSession
    import spark.implicits._
    (0 until batches).map { b =>
      val part = docs.filter(batchKey === b)
        .select(col("text"), col("doc_id")).as[(String, Long)]
      val init = docs.filter(batchKey < b)
        .groupBy(col("text")).agg(min(col("doc_id")).as("rep"))
        .as[(String, Long)]
        .groupByKey(_._1).mapValues(_._2)
      part.groupByKey(_._1)
        .flatMapGroupsWithState[Long, CollapsedDoc](
          OutputMode.Append, GroupStateTimeout.NoTimeout, init)(
          collapseGateFunc)
    }.reduce(_ union _)
  }

  final case class PackState(bin: Long, cum: Long)
  final case class PackedDoc(source: String, doc_id: Long, n_tokens: Long,
                             bin: Long, cum_tokens: Long)

  /** Streaming twin #19 of [[graft.ext.Curation.packSequences]] (the
    * packing stage of the q254 training capstone): greedy context-window
    * packing ONLINE — documents are assigned to token-budget bins as they
    * land, emitting one `PackedDoc` per document with its bin id and the
    * bin's running total.
    *
    * Arithmetic is the batch contract verbatim: per-source scan in doc_id
    * order; a doc that would overflow the open bin starts the next one; a
    * doc longer than the budget gets a bin of its own (first doc of a
    * source always opens bin 1 — even oversize, exactly the batch
    * recurrence's first-row branch). Token counts come from the SAME
    * `TextStats.tokens` expression the batch op uses, evaluated per row
    * before the stateful step (stateless projection).
    *
    * State per source is O(1) — (open bin id, its fill) — the minimum any
    * online packer can hold. Horizon contract (the family's): within a
    * micro-batch, docs sort by doc_id; ACROSS batches state follows
    * arrival order, so in-order delivery is bit-equal to batch
    * (StreamingSpec proves whole-vs-split on the documents fixture).
    * Deliberately NO timeout (the kvCachePagerStream reasoning): there is
    * no silence length after which dropping an open bin's fill is
    * semantically neutral — a late doc of that source would silently open
    * bin 1 again. A production deployment seals bins with a shard-rollover
    * policy, which is a different CONTRACT (bounded shards), not a
    * transparent optimization of this one.
    */
  def packStream(docs: DataFrame, budget: Int = 256): Dataset[PackedDoc] = {
    require(budget > 0, s"budget must be positive, got $budget")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("source"), col("doc_id"),
        size(graft.ext.TextStats.tokens(col("text"))).cast("long")
          .as("n_tokens"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[PackState, PackedDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, batch: Iterator[(String, Long, Long)],
         state: GroupState[PackState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[PackedDoc]
          var st = state.getOption.orNull
          batch.toSeq.sortBy(_._2).foreach { case (_, id, n) =>
            st =
              if (st == null) PackState(1L, n)
              else if (st.cum + n > budget) PackState(st.bin + 1, n)
              else PackState(st.bin, st.cum + n)
            out += PackedDoc(source, id, n, st.bin, st.cum)
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }
}
