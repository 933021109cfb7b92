package graft.ops

import graft.Tables
import graft.ops.Checkpoints.CutOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series / streaming operators (SURVEY §2.L) plus the event joins
  * C8 (range funnel) and C9 (as-of).
  *
  * Every aggregation is a `DataFrame => DataFrame` function of the
  * normalized events relation, so the identical code runs in batch (the
  * oracle-checked contract below) and under `readStream` (exercised with
  * MemoryStream in StreamingSpec). Batch window-start alignment is the
  * epoch — same convention DuckDB's time_bucket uses for sub-day buckets.
  *
  * 100 TB notes: all stateful shapes key by user_id (state bounded per
  * key, hash-exchange on the key); the as-of join is a sorted single-pass
  * window, NOT a join — no candidate explosion on high-frequency users.
  */
object Streaming {

  // ── shared batch/stream aggregation bodies ──

  /** 1h tumbling count + exact decimal sum. */
  def tumblingAgg(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"),
        sum(Cols.dec2(col("value"))).cast("double").as("sum_value"))

  /** 1h tumbling OHLC bars per event type — the streaming-compatible twin
    * of L16 ts_downsample_ohlc: open/close via min_by/max_by (declarative
    * aggregates that run incrementally in a micro-batch; rank windows
    * cannot), high/low/volume as plain aggs. The pick key is the composite
    * struct(ts, user_id, value) so ties on the raw timestamp still resolve
    * deterministically (ADVICE r4) — structs compare lexicographically and
    * min_by/max_by of a struct stay incremental. The batch contract query
    * keeps the (ts_us, event_id) rank form for the oracle.
    */
  def ohlcAgg(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        expr("min_by(value, struct(ts, user_id, value))").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        expr("max_by(value, struct(ts, user_id, value))").as("close"),
        count(lit(1)).as("n_events"))

  /** 1h windows sliding every 15 min. */
  def slidingAgg(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"),
        sum(Cols.dec2(col("value"))).cast("double").as("sum_value"))

  /** Per-user session windows with a 30-minute gap (end = last + gap). */
  def sessionAgg(ev: DataFrame): DataFrame =
    ev.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(Cols.dec2(col("value"))).cast("double").as("sum_value"))

  /** Watermarked tumbling agg per event type — the L6 streaming shape. */
  def watermarkedAgg(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Stream-stream interval join body: purchases within 1 hour AFTER a
    * view by the same user. Inputs carry (event_id, ts, user_id). The
    * event-time range condition is part of the join predicate — in
    * streaming mode (both sides watermarked by the caller) it is exactly
    * what lets Spark bound and evict join state; in batch it is the same
    * attribution-window semantics. State and shuffle key on user_id.
    */
  def viewPurchaseJoin(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.select(col("event_id").as("v_id"), col("ts").as("v_ts"),
      col("user_id"))
    val p = purchases.select(col("event_id").as("p_id"), col("ts").as("p_ts"),
      col("user_id").as("p_user"))
    v.join(p, col("user_id") === col("p_user") &&
      col("p_ts") >= col("v_ts") &&
      col("p_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"))
  }

  // ── batch contract queries ──

  /** L13 — the stream-stream join's batch contract: view→purchase pairs
    * within the 1-hour attribution window, one row per qualifying pair.
    * The same [[viewPurchaseJoin]] body runs under MemoryStream with
    * watermarks on both sides in StreamingSpec (the streaming-only
    * state-eviction semantics, like L6, can't be oracle-checked in SQL).
    */
  def streamJoinViewPurchase(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    viewPurchaseJoin(
      ev.where(col("event_type") === "view"),
      ev.where(col("event_type") === "purchase"))
      .select(col("user_id"), col("v_id"), col("p_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
      .orderBy(col("user_id"), col("v_id"), col("p_id"))
  }

  /** L1 — tumbling 1h windows. */
  def streamTumbling1h(spark: SparkSession, sfDir: String): DataFrame =
    tumblingAgg(Tables.events(spark, sfDir))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n"), col("sum_value"))
      .orderBy(col("window_start"))

  /** L2 — sliding 1h/15m windows (edge windows before the first event's
    * hour exist by definition — do not filter them).
    */
  def streamSliding1h15m(spark: SparkSession, sfDir: String): DataFrame =
    slidingAgg(Tables.events(spark, sfDir))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n"), col("sum_value"))
      .orderBy(col("window_start"))

  /** L3 — session windows, 30-min gap, Spark convention end = last + gap. */
  def streamSession30m(spark: SparkSession, sfDir: String): DataFrame =
    sessionAgg(Tables.events(spark, sfDir))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** L12 — SCD2 interval build: compress each user's event-type stream to
    * its CHANGE POINTS, then emit slowly-changing-dimension-2 intervals
    * (valid_from / valid_to / version / is_current) — the write shape of
    * every incrementally-maintained dimension table. Total order inside a
    * user is (ts_us, event_id) so equal timestamps cannot flip versions
    * between runs. Two keyed window passes (lag to detect changes, lead
    * on the compressed rows for interval ends) — both partition by
    * user_id, nothing global, one shuffle shared by both windows.
    */
  def scd2ChangeIntervals(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
      .withColumn("version", row_number().over(w))
      .select(col("user_id"), col("event_type").as("attr"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"),
        col("version"), col("valid_to_us").isNull.as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** L14 — cumulative distinct users per day WITHOUT a running
    * count-distinct (which no engine can window efficiently): each user's
    * FIRST day contributes one "new user"; the cumulative distinct count
    * is then a running SUM over the day-level aggregate. Two keyed
    * shuffles (user, then day) and one window over the dimension-sized
    * daily relation — the only scalable shape for this metric at 100 TB.
    */
  def winCumulativeDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val daily = ev.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("n_active_users"))
    val firstSeen = ev.groupBy(col("user_id"))
      .agg(min(col("day")).as("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_new_users"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(firstSeen, Seq("day"), "left")
      .withColumn("n_new_users", coalesce(col("n_new_users"), lit(0L)))
      .withColumn("cum_distinct_users", sum(col("n_new_users")).over(w))
      .select(col("day").cast("string").as("day"), col("n_active_users"),
        col("n_new_users"), col("cum_distinct_users"))
      .orderBy(col("day"))
  }

  /** L4 — daily active users + next-day retention. The distinct
    * (day, user) activity relation — the corpus-sized stage — is
    * materialized once (localCheckpoint) and consumed by the DAU count
    * and both sides of the next-day self-join, instead of re-running the
    * events distinct three times.
    */
  def streamDauRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.events(spark, sfDir)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .distinct()
      .lineageCut(true)
    val dau = d.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val ret = d.as("a")
      .join(d.as("b"),
        col("b.user_id") === col("a.user_id") &&
          col("b.day") === col("a.day") + expr("INTERVAL 1 DAY"))
      .groupBy(col("a.day").as("day")).agg(count(lit(1)).as("retained"))
    dau.join(ret, Seq("day"), "left")
      .select(col("day"), col("dau"), coalesce(col("retained"), lit(0L)).as("retained"))
      .orderBy(col("day"))
  }

  /** L5 — signup→purchase conversion funnel per user. */
  def streamFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val users = ev.select(col("user_id")).distinct()
    val signup = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_signup"))
    val purch = ev.where(col("event_type") === "purchase").as("e")
      .join(signup.as("s"), col("e.user_id") === col("s.user_id"))
      .where(col("e.ts") >= col("s.first_signup"))
      .groupBy(col("e.user_id").as("user_id")).agg(count(lit(1)).as("n_purchases"))
    users
      .join(signup, Seq("user_id"), "left")
      .join(purch, Seq("user_id"), "left")
      .select(col("user_id"), col("first_signup"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        when(col("first_signup").isNotNull && coalesce(col("n_purchases"), lit(0L)) > 0, 1)
          .otherwise(0).cast("int").as("converted"))
      .orderBy(col("user_id"))
  }

  /** L6 — watermarked agg as a batch query (watermark is a no-op in batch;
    * the streaming semantics — late-event drop — are MemoryStream-tested).
    * No SQL oracle by design (SURVEY L6).
    */
  def streamWatermarkLate(spark: SparkSession, sfDir: String): DataFrame =
    watermarkedAgg(Tables.events(spark, sfDir))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
      .orderBy(col("window_start"), col("event_type"))

  /** L7 — keep-first dedup per (user_id, event_type): the batch contract is
    * earliest-by-(ts, event_id); the streaming twin is
    * `dropDuplicates("user_id","event_type")` under a watermark
    * (StreamingSpec), whose keep-first-arrival matches this when events
    * arrive in time order. The core exact-dedup shape of an event pipeline.
    */
  def streamDedupKeepFirst(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** L8 — custom keyed state via `mapGroupsWithState`: running per-user
    * event count with the count itself as the state value — the typed
    * building block for bespoke sessionization/CEP that windowed aggs
    * can't express. In batch the same code runs as a one-shot group pass
    * (oracle-checkable: ≡ COUNT(*) per user); in streaming the state
    * accumulates across micro-batches (StreamingSpec twin).
    *
    * 100 TB note: state is one long per user, hash-partitioned by key —
    * the state store scales with |keys|, never with |events|.
    */
  def statefulCount(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    ev.selectExpr("user_id").as[Long]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Long], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (user, n)
      }
      .toDF("user_id", "n_events")
  }

  /** Session state carried per user by [[sessionizeCustom]]. */
  final case class SessionState(start: Long, last: Long, n: Int)

  /** Emitted when a session closes (gap exceeded or timeout fired). */
  final case class ClosedSession(user_id: Long, start_us: Long, end_us: Long, n: Int)

  /** L9 — custom sessionization via `flatMapGroupsWithState` with
    * event-time timeout: sessions close when the gap between consecutive
    * events exceeds 30 min, emitting (user, start, end=last+gap, n) — the
    * same convention as Spark's `session_window` — OR when the watermark
    * passes last+gap with no new event (the timeout path, which
    * `session_window` handles internally and a custom CEP operator must
    * handle itself). State per user is one (start, last, n) triple.
    *
    * Batch execution processes each user's full (sorted) history in one
    * group pass, so the batch result equals streamSession30m minus the
    * still-open trailing session per user — asserted in StreamingSpec;
    * the streaming twin asserts gap-close and timeout-close emission.
    */
  private val sessionGapUs = 30L * 60 * 1000000

  /** The session state machine, shared verbatim by the batch and streaming
    * sessionizers: folds one user's TIME-SORTED events with O(1) state and
    * O(closed) output — it never buffers the event stream itself, so the
    * caller controls memory by how it produces the sorted iterator.
    */
  private def foldSessions(user: Long, ts: Iterator[Long],
      init: Option[SessionState]): (List[ClosedSession], Option[SessionState]) = {
    var closed = List.empty[ClosedSession]
    var cur = init
    ts.foreach { t =>
      cur match {
        case Some(c) if t - c.last <= sessionGapUs =>
          cur = Some(c.copy(last = math.max(c.last, t), n = c.n + 1))
        case Some(c) =>
          closed ::= ClosedSession(user, c.start, c.last + sessionGapUs, c.n)
          cur = Some(SessionState(t, t, 1))
        case None =>
          cur = Some(SessionState(t, t, 1))
      }
    }
    (closed.reverse, cur)
  }

  def sessionizeCustom(ev: DataFrame): org.apache.spark.sql.Dataset[ClosedSession] = {
    val s = ev.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = sessionGapUs
    val streaming = ev.isStreaming // captured on the driver, not the DataFrame
    // `ts` rides along UNTOUCHED only so the watermark attribute (tagged in
    // its metadata — a cast would strip it) survives into the stateful
    // operator; sessions compute on ts_us. Callers with a TIMESTAMP_NTZ ts
    // must cast before calling (see streamSessionCustom).
    ev.selectExpr("user_id", "ts_us", "ts")
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
            state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator(ClosedSession(user, st.start, st.last + gapUs, st.n))
          } else {
            // flatMapGroupsWithState has no sorted-iterator variant, so the
            // MICRO-BATCH slice is sorted here — memory is bounded by the
            // batch size the user configures, never by a user's full
            // history. The full-history batch path is sessionizeBatchSorted.
            val ts = rows.map(_._2).toArray.sorted
            val (closed, cur) = foldSessions(user, ts.iterator, state.getOption)
            cur.foreach { c =>
              state.update(c)
              // streaming: close the open session once the watermark passes
              // last+gap; batch: timeouts never fire, so the trailing open
              // session is deliberately not emitted
              if (streaming) state.setTimeoutTimestamp((c.last + gapUs) / 1000)
            }
            closed.iterator
          }
      }
  }

  /** Batch sessionizer over each user's FULL history without buffering it:
    * `flatMapSortedGroups` pushes the (user_id, ts_us) ordering into the
    * shuffle's external sort (spills to disk), so the group function
    * receives a time-sorted streaming iterator and [[foldSessions]] runs in
    * O(1) memory per user — the secondary-sort fix VERDICT r2 #5 asked for
    * (one pathological user with ~all events no longer materializes an
    * array on one executor). Semantics are identical to running
    * [[sessionizeCustom]] in batch: closed sessions only, trailing open
    * session per user dropped.
    */
  def sessionizeBatchSorted(ev: DataFrame): org.apache.spark.sql.Dataset[ClosedSession] = {
    val s = ev.sparkSession
    import s.implicits._
    ev.selectExpr("user_id", "ts_us").as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("ts_us")) { (user, rows) =>
        foldSessions(user, rows.map(_._2), None)._1
      }
  }

  /** L9 batch contract entry: all CLOSED sessions (every session except
    * each user's trailing open one — batch timeouts never fire). The
    * oracle computes islands-sessions and drops the latest per user.
    */
  def streamSessionCustom(spark: SparkSession, sfDir: String): DataFrame =
    sessionizeBatchSorted(Tables.events(spark, sfDir))
      .toDF()
      .orderBy(col("user_id"), col("start_us"))

  /** L10 — arbitrary-state v2 (`transformWithState`, Spark 4): the same
    * running per-user count as L8 but through the new StatefulProcessor
    * API — typed `ValueState` handles, explicit init/close lifecycle,
    * TTL-capable, RocksDB-backed in streaming. Batch execution is a
    * one-shot group pass (oracle ≡ COUNT(*) per user, same as L8).
    */
  class CountProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Long, (Long, Long)] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var countState: ValueState[Long] = _
    override def init(outputMode: streaming.OutputMode,
        timeMode: streaming.TimeMode): Unit =
      countState = getHandle.getValueState[Long](
        "count", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Long],
        timers: TimerValues): Iterator[(Long, Long)] = {
      val n = (if (countState.exists()) countState.get() else 0L) + rows.size
      countState.update(n)
      Iterator((key, n))
    }
  }

  /** L9 through the arbitrary-state v2 API: the same 30-min-gap sessionizer
    * as [[sessionizeCustom]] but with `transformWithState` + explicit
    * TIMERS — the v2 surface L10's counter doesn't touch. Gap-close happens
    * on arrival; the open session closes when the registered event-time
    * timer fires as the watermark passes last+gap (v2's replacement for
    * fMGWS's `setTimeoutTimestamp`). Streaming-only (exercised in
    * StreamingSpec like L6); the batch contract remains
    * [[sessionizeBatchSorted]].
    */
  class SessionProcessorV2
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, java.sql.Timestamp), ClosedSession] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders, streaming}
    private val gapUs = sessionGapUs
    @transient private var sess: ValueState[SessionState] = _
    override def init(outputMode: streaming.OutputMode,
        timeMode: streaming.TimeMode): Unit =
      sess = getHandle.getValueState[SessionState](
        "session", Encoders.product[SessionState], TTLConfig.NONE)
    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, java.sql.Timestamp)],
        timers: TimerValues): Iterator[ClosedSession] = {
      val ts = rows.map(_._2).toArray.sorted // bounded by the micro-batch
      val init = if (sess.exists()) Some(sess.get()) else None
      val (closed, cur) = foldSessions(user, ts.iterator, init)
      cur.foreach { c =>
        sess.update(c)
        getHandle.registerTimer((c.last + gapUs) / 1000) // event-time ms
      }
      closed.iterator
    }
    override def handleExpiredTimer(user: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[ClosedSession] = {
      // a newer event may have extended the session past this (stale) timer
      if (sess.exists()) {
        val c = sess.get()
        if (expired.getExpiryTimeInMs() >= (c.last + gapUs) / 1000) {
          sess.clear()
          return Iterator(ClosedSession(user, c.start, c.last + gapUs, c.n))
        }
      }
      Iterator.empty
    }
  }

  /** The state-store preconditions of every transformWithState builder
    * ([[sessionizeV2]], [[statefulCountV2]], [[statefulProfileV2]],
    * [[statefulCountV2Ttl]]).
    *
    * transformWithState requires the RocksDB state store provider even for
    * its one-shot batch execution (the v2 column-family layout); this is
    * the provider a production deployment of this library would run anyway.
    * Set unconditionally (ADVICE r3: getOption returns the registered
    * default even when unset, so an isEmpty guard is dead code — and a
    * non-RocksDB user choice would only make transformWithState fail).
    * Session-level by necessity (read at execution time, and the builders
    * return a lazy plan); callers wanting conf isolation pass a DataFrame
    * built on a cloned session, as [[streamStatefulCountV2]] does.
    *
    * Batch execution loads a state store outside any streaming query, so
    * the coordinator endpoint must exist first (see GraftBridge); without
    * it the exec's store RPC blocks for the full ask timeout during
    * planning. The ensure is idempotent.
    */
  private def useRocksDbState(s: SparkSession): Unit = {
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    org.apache.spark.sql.GraftBridge.ensureStateStoreCoordinator(s)
  }

  /** L9 v2 streaming body (timers require EventTime mode + a watermark). */
  def sessionizeV2(ev: DataFrame): org.apache.spark.sql.Dataset[ClosedSession] = {
    val s = ev.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    useRocksDbState(s)
    ev.selectExpr("user_id", "ts_us", "ts")
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new SessionProcessorV2,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** L10 shared body (batch + streaming). */
  def statefulCountV2(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    useRocksDbState(s)
    ev.selectExpr("user_id").as[Long]
      .groupByKey(identity)
      .transformWithState(new CountProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n_events")
  }

  /** L10's counter with a processing-time state TTL — the retention knob a
    * production deployment uses so abandoned keys don't grow RocksDB
    * forever. An expired value simply reads back as absent, so the count
    * restarts — exercised by the TTL twin spec (sleep past the TTL between
    * micro-batches). TTL is per-value and lazily enforced (expired entries
    * are also vacuumed by the store's maintenance pass at scale).
    */
  class CountProcessorTtl(ttlMillis: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Long, (Long, Long)] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var countState: ValueState[Long] = _
    override def init(outputMode: streaming.OutputMode,
        timeMode: streaming.TimeMode): Unit =
      countState = getHandle.getValueState[Long](
        "count", Encoders.scalaLong, TTLConfig(java.time.Duration.ofMillis(ttlMillis)))
    override def handleInputRows(key: Long, rows: Iterator[Long],
        timers: TimerValues): Iterator[(Long, Long)] = {
      val n = (if (countState.exists()) countState.get() else 0L) + rows.size
      countState.update(n)
      Iterator((key, n))
    }
  }

  /** L10 list/map state — the two remaining arbitrary-state-v2 primitives
    * (ValueState is covered by [[CountProcessor]], timers by the
    * sessionizer): per user, a ListState ring of the LAST 3 values (append
    * + trim — the bounded-recency buffer a feature store keeps) and a
    * MapState of per-event-type counts (the composite key form — state key
    * = grouping key × user map key). Emits (user, distinct types seen,
    * ring size) every batch so cross-batch persistence is observable.
    */
  class ProfileProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, String, Double), (Long, Int, Int)] {
    import org.apache.spark.sql.streaming.{ListState, MapState, TimerValues, TTLConfig}
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var recent: ListState[Double] = _
    @transient private var counts: MapState[String, Long] = _
    override def init(outputMode: streaming.OutputMode,
        timeMode: streaming.TimeMode): Unit = {
      recent = getHandle.getListState[Double](
        "recent", Encoders.scalaDouble, TTLConfig.NONE)
      counts = getHandle.getMapState[String, Long](
        "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[(Long, String, Double)],
        timers: TimerValues): Iterator[(Long, Int, Int)] = {
      rows.foreach { case (_, et, v) =>
        val prev = if (counts.containsKey(et)) counts.getValue(et) else 0L
        counts.updateValue(et, prev + 1)
        recent.appendValue(v)
      }
      val kept = recent.get().toSeq.takeRight(3)
      recent.clear()
      kept.foreach(recent.appendValue)
      Iterator((key, counts.keys().size, kept.size))
    }
  }

  /** Builder for the list/map-state profile (same preconditions as
    * [[statefulCountV2]]). Batch execution = one-shot group pass.
    */
  def statefulProfileV2(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    useRocksDbState(s)
    ev.selectExpr("user_id", "event_type", "value")
      .as[(Long, String, Double)]
      .groupByKey(_._1)
      .transformWithState(new ProfileProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n_types", "n_recent")
  }

  /** TTL twin builder (streaming only — TTL needs processing time). Same
    * provider/coordinator preconditions as [[statefulCountV2]]
    * ([[useRocksDbState]]).
    */
  def statefulCountV2Ttl(ev: DataFrame, ttlMillis: Long): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    useRocksDbState(s)
    ev.selectExpr("user_id").as[Long]
      .groupByKey(identity)
      .transformWithState(new CountProcessorTtl(ttlMillis),
        TimeMode.ProcessingTime(), OutputMode.Update())
      .toDF("user_id", "n_events")
  }

  // one cloned session per parent: isolates the RocksDB provider conf
  // without re-reading parquet footers on every call
  private val stateSessions =
    scala.collection.concurrent.TrieMap.empty[SparkSession, SparkSession]

  /** L10 batch contract entry. The provider conf is session-level and read
    * at execution time, so setting it on the caller's session would silently
    * move every LATER streaming query onto RocksDB too (ADVICE r2). A cloned
    * session (shared SparkContext, separate SQLConf) confines the conf to
    * this query.
    */
  def streamStatefulCountV2(spark: SparkSession, sfDir: String): DataFrame = {
    val s2 = stateSessions.getOrElseUpdate(spark, spark.newSession())
    statefulCountV2(Tables.events(s2, sfDir))
      .orderBy(col("user_id"))
  }

  /** L8 batch contract entry. */
  def streamStatefulCount(spark: SparkSession, sfDir: String): DataFrame =
    statefulCount(Tables.events(spark, sfDir))
      .orderBy(col("user_id"))

  // ── event joins ──

  /** C8 — theta/range join: view→purchase pairs within 5 minutes, same
    * user. Equi on user_id carries the shuffle; the range conjunct is a
    * post-join filter on the sort-merge pair stream.
    */
  def joinRangeFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val v = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("v_id"), col("ts_us").as("v_ts"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts_us").as("p_ts"))
    v.join(p, Seq("user_id"))
      .where(col("p_ts").between(col("v_ts"), col("v_ts") + lit(300000000L)))
      .select(col("user_id"), col("v_id"), col("p_id"),
        (col("p_ts") - col("v_ts")).as("gap_us"))
      .orderBy(col("user_id"), col("v_id"), col("p_id"))
  }

  /** C9 v2 — the same as-of join through the custom whole-operator path:
    * AsOfJoinNode → AsOfJoinStrategy → AsOfJoinExec (graft.plans), a
    * sorted-merge physical operator with one-row state per key. Same
    * DuckDB ASOF oracle as join_asof.
    */
  def joinAsofExec(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val left = ev.select(col("event_id"), col("user_id"), col("ts_us"))
    val right = ev.where(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts_us").as("signup_ts_us"))
    graft.plans.AsOf.join(spark, left, right,
        "user_id", "ts_us", "s_user", "signup_ts_us")
      .select(col("event_id"), col("user_id"), col("ts_us"), col("signup_ts_us"))
      .orderBy(col("event_id"))
  }

  /** C9f — FORWARD as-of join: for each event, the EARLIEST signup
    * at-or-equal-or-after its timestamp — next-touch attribution, the
    * mirror of [[joinAsof]]'s latest-prior semantics. Same scalable shape:
    * one sorted pass per user, one value of window state, no join. At
    * equal timestamps the signup sorts AFTER non-signup events
    * (is_sign: signup→1) so it falls inside every same-ts event's
    * following frame, and a signup still matches itself.
    */
  def joinAsofForward(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("is_sign"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        when(col("event_type") === "signup", col("ts_us")).as("s_ts_raw"),
        when(col("event_type") === "signup", 1).otherwise(0).as("is_sign"))
      .withColumn("next_signup_ts_us",
        first(col("s_ts_raw"), ignoreNulls = true).over(w))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("next_signup_ts_us"))
      .orderBy(col("event_id"))
  }

  /** C9 — as-of join: most recent prior-or-equal signup per event.
    * Implemented as a single sorted window pass (last signup-ts carried
    * forward), NOT a join — the scalable form: state per user is one
    * value, no prior-signup candidate explosion. DuckDB's native ASOF
    * LEFT JOIN is the oracle.
    */
  def joinAsof(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("is_sign"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        when(col("event_type") === "signup", col("ts_us")).as("s_ts_raw"),
        when(col("event_type") === "signup", 0).otherwise(1).as("is_sign"))
      .withColumn("signup_ts_us", last(col("s_ts_raw"), ignoreNulls = true).over(w))
      .select(col("event_id"), col("user_id"), col("ts_us"), col("signup_ts_us"))
      .orderBy(col("event_id"))
  }

  /** C9n join_asof_nearest — NEAREST-neighbor as-of: each event picks the
    * closest signup in time in EITHER direction (ties → the earlier one).
    * Composed from the two directional as-of primitives in one pass: a
    * backward last-non-null window and a forward first-non-null window
    * over the same user-keyed partition (one exchange, two in-partition
    * sorts — the orderings differ only in how a same-µs signup ties
    * against the probe, so the signup itself counts as distance 0 in both
    * directions). Distances are exact integer µs, so the pick is
    * bit-deterministic. Never a join: the "dimension" rides along in the
    * same stream, the 100 TB-safe form of nearest-event attribution.
    */
  def joinAsofNearest(spark: SparkSession, sfDir: String): DataFrame = {
    val wBack = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("back_pri"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("fwd_pri"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val nearest = when(col("back_us").isNull, col("fwd_us"))
      .when(col("fwd_us").isNull, col("back_us"))
      .when(col("ts_us") - col("back_us") <= col("fwd_us") - col("ts_us"),
        col("back_us"))
      .otherwise(col("fwd_us"))
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        when(col("event_type") === "signup", col("ts_us")).as("s_ts_raw"),
        when(col("event_type") === "signup", 0).otherwise(1).as("back_pri"),
        when(col("event_type") === "signup", 1).otherwise(0).as("fwd_pri"))
      .withColumn("back_us", last(col("s_ts_raw"), ignoreNulls = true).over(wBack))
      .withColumn("fwd_us", first(col("s_ts_raw"), ignoreNulls = true).over(wFwd))
      .withColumn("nearest_signup_us", nearest)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("back_us"), col("fwd_us"), col("nearest_signup_us"),
        abs(col("ts_us") - col("nearest_signup_us")).as("diff_us"))
      .orderBy(col("event_id"))
  }

  /** C9t join_asof_tolerance — as-of with MAX STALENESS: the backward
    * match is discarded when it is older than the tolerance (1 h here) —
    * how every production as-of join actually runs (an attribution
    * older than the window is noise, not signal). Same single keyed
    * window pass as C9; the tolerance is one integer-µs comparison on
    * top, so the scale story is unchanged.
    */
  def joinAsofTolerance(spark: SparkSession, sfDir: String): DataFrame = {
    val tolUs = 3600L * 1000000
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("is_sign"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        when(col("event_type") === "signup", col("ts_us")).as("s_ts_raw"),
        when(col("event_type") === "signup", 0).otherwise(1).as("is_sign"))
      .withColumn("raw_match_us", last(col("s_ts_raw"), ignoreNulls = true).over(w))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        when(col("ts_us") - col("raw_match_us") <= tolUs, col("raw_match_us"))
          .as("signup_ts_us"),
        (col("raw_match_us").isNotNull &&
          col("ts_us") - col("raw_match_us") > tolUs).as("match_expired"))
      .orderBy(col("event_id"))
  }

  /** C13 join_scd2_point_in_time — point-in-time lookup against a slowly
    * changing dimension: the SCD2 interval table (L12's shape — per-user
    * event_type change intervals, [valid_from, valid_to)) joined by each
    * purchase fact at its own timestamp. The join is user-keyed equi +
    * interval residual, so Spark plans a sort-merge join on user_id and
    * evaluates the range predicate in-partition — never a cartesian.
    * Intervals chain per user (lead() gives valid_to = next valid_from),
    * so exactly one interval contains each fact; zero-length intervals
    * from same-µs change collisions are excluded by the half-open
    * predicate. The "what did the dimension look like when this fact
    * happened" query every SCD2 warehouse runs.
    */
  def joinScd2PointInTime(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val dim = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
      .withColumn("version", row_number().over(w))
      .select(col("user_id").as("d_user"), col("event_type").as("attr"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"), col("version"))
    val fact = Tables.events(spark, sfDir)
      .where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    fact.join(dim,
        fact("user_id") === dim("d_user") &&
          fact("ts_us") >= dim("valid_from_us") &&
          (dim("valid_to_us").isNull || fact("ts_us") < dim("valid_to_us")))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("attr"), col("version"), col("valid_from_us"))
      .orderBy(col("event_id"))
  }

  /** L22 stream_cdc_apply — change-data-capture last-image
    * materialization: the event log is an ordered change stream per
    * user_id (upserts carry the new state; `error` is the tombstone), and
    * the query materializes the CURRENT table — the Debezium/CDC apply
    * step every lakehouse ingestion runs. The last image per key is an
    * element PICK (max_by over the composite struct(ts_us, event_id) total
    * order — the L16 tiebreak protocol), so the aggregate is mergeable and
    * streaming-compatible: the same body runs under `complete` output mode
    * with arbitrary micro-batch splits, unlike a rank window. Tombstoned
    * keys drop AFTER the pick (a later upsert would resurrect them, exactly
    * CDC semantics). One keyed shuffle at any scale; values are picked
    * originals, never arithmetic, so the output is bit-deterministic.
    */
  def cdcApply(spark: SparkSession, sfDir: String): DataFrame =
    cdcApplyAgg(Tables.events(spark, sfDir))
      .where(col("last_type") =!= "error")
      .orderBy(col("user_id"))

  /** The shared batch/stream CDC aggregation body (tombstone filter and
    * sort stay outside — `complete`-mode sinks re-sort anyway).
    */
  def cdcApplyAgg(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"))
      .agg(
        expr("max_by(event_type, struct(ts_us, event_id))").as("last_type"),
        expr("max_by(value, struct(ts_us, event_id))").as("last_value"),
        count(lit(1)).as("n_ops"),
        max(col("ts_us")).as("last_ts_us"))

  /** L23 win_retention_cohort — the weekly cohort-retention triangle:
    * users grouped by their FIRST-activity week, then for each (cohort,
    * weeks-since) cell the distinct users active that week and the share
    * of the cohort they represent — the standard growth-analytics matrix
    * (stream_dau_retention is its 1-day diagonal). Weeks are epoch-week
    * integer buckets (`ts_us div 604800000000` — pure integer division,
    * no calendar or timezone semantics to diverge on); cohort = min
    * bucket per user (one keyed agg), activity = distinct (user, week)
    * pairs, and the matrix is one more keyed agg joined to the 1-week-0
    * cohort sizes. Retention is the single rounded division. At 100 TB:
    * three keyed shuffles, all on (user) or (cohort, offset) — the
    * distinct-pairs relation is the only corpus-sized intermediate.
    */
  def retentionCohort(spark: SparkSession, sfDir: String): DataFrame = {
    val wk = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts_us div 604800000000").as("wk"))
      .distinct()
      .lineageCut(true)
    val cohort = wk.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    val cells = wk.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = cohort.groupBy(col("cohort_wk")).agg(count(lit(1)).as("cohort_size"))
    cells.join(sizes, Seq("cohort_wk"))
      .select(col("cohort_wk"), col("week_offset"), col("n_active"), col("cohort_size"),
        (round(col("n_active").cast("double") / col("cohort_size"), 6) + lit(0.0))
          .as("retention"))
      .orderBy(col("cohort_wk"), col("week_offset"))
  }
}
