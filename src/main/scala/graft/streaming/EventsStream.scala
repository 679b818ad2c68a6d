package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming ingest for the events stream: watermarked
  * tumbling-window aggregation (the streaming analogue of the A16
  * weekly grain) and a stateful per-user session aggregator via
  * mapGroupsWithState.
  *
  * Scale shape: the windowed aggregate is a streaming shuffle on
  * (window, event_type) with watermark-driven state eviction; the
  * session aggregator keys state by user_id with a processing-time
  * timeout so state size is bounded by active users, not history.
  */
object EventsStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source stream over an events-shaped path (directory or file
    * glob). Streaming sources require an explicit schema, so probe the
    * `ts` physical type with a batch read of the same path and declare
    * the stream schema to match — then normalize to TimestampType the
    * same way as the batch reader (core.Tables.events): pass-through /
    * NTZ cast under pinned UTC / legacy nanos-as-long `div 1000`. */
  def readEventsStream(spark: SparkSession, path: String): DataFrame = {
    // shared probe (graft.core.Tables): NANOS rejection → legacy long
    // path; a missing/not-yet-populated stream dir → current layout
    val tsType = graft.core.Tables.probeEventsTsType(spark, path)
    def withTs(t: org.apache.spark.sql.types.DataType) =
      StructType(eventSchema.map {
        case f if f.name == "ts" => f.copy(dataType = t)
        case f => f
      })
    tsType match {
      case TimestampType =>
        spark.readStream.schema(eventSchema).parquet(path)
      case TimestampNTZType =>
        // TZ-independent micros recovery (graft.core.Tables.ntzToUtcInstant)
        // — no session-conf write; matches the batch loader and the oracle
        spark.readStream.schema(withTs(TimestampNTZType)).parquet(path)
          .withColumn("ts", graft.core.Tables.ntzToUtcInstant("ts"))
      case _ =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        // integer `div`, not `/`: nanos exceed 2^53, a double division
        // is off by ±1 us on ~6% of rows (same fix as core.Tables.events)
        spark.readStream.schema(withTs(LongType)).parquet(path)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    }
  }

  /** Watermarked tumbling-window aggregate: per (window, event_type)
    * counts and value sums. `window`/`watermark` as durations, e.g.
    * "7 days" / "1 day". Late data beyond the watermark is dropped and
    * its state evicted — bounded memory forever. */
  def windowedCounts(events: DataFrame, windowDur: String = "7 days",
                     watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_sum"))

  /** Stream-static enrichment: the event stream LEFT-joined to a
    * static dimension frame, broadcast per micro-batch — the streaming
    * twin of the batch J1 enrichment (etl.Enrichment.enrich). The
    * static side is re-resolved each micro-batch by Spark's
    * stream-static join semantics, so a dimension snapshot refresh is
    * picked up without restarting the query; unmatched events keep
    * NULL dimension columns (fill policy stays with the caller, as in
    * the batch operator).
    *
    * Same broadcast-size gate as [[asOfEnrichStream]]: the dimension
    * is FORCE-broadcast per micro-batch (Spark honors the hint
    * regardless of size), so a fact-sized `dim` must fail at
    * definition time with this operator's message, not a driver OOM
    * mid-stream. The probe is bounded — it stops scanning past the
    * cap. */
  def enrichStream(events: DataFrame, dim: DataFrame,
                   eventKey: String, dimKey: String,
                   maxDimRows: Int = 10000000): DataFrame = {
    require(maxDimRows >= 1 && maxDimRows < Int.MaxValue,
      "maxDimRows must be in [1, Int.MaxValue)")
    val probed = dim.limit(maxDimRows + 1).count()
    require(probed <= maxDimRows,
      s"dim has more than $maxDimRows rows — enrichStream broadcasts the " +
        "dimension per micro-batch (dimension-snapshot contract); " +
        "pre-aggregate or batch-join fact-sized tables instead, or raise " +
        "maxDimRows")
    events.join(broadcast(dim), col(eventKey) === col(dimKey), "left")
  }

  /** Streaming AS-OF enrichment: attach to each event the LATEST state
    * row with stateTime ≤ event time, per key — the streaming twin of
    * [[graft.operators.AsOfJoin.asOf]] (inclusive backward), the
    * "current dimension version at event time" lookup.
    *
    * Structured Streaming cannot sort-merge a stream, so the as-of is
    * re-expressed as the SCD validity-window join the batch band
    * machinery also targets: the STATIC state table folds once into
    * half-open validity intervals ([stateTime, next stateTime) per
    * key, the last version open-ended), and the stream LEFT-joins on
    * key + containment — every event falls into AT MOST one interval,
    * so the join IS the as-of match, no per-event aggregation and no
    * stream-side state. The static side is broadcast (dimension
    * snapshots are small; a refresh is picked up per micro-batch by
    * stream-static semantics). Output columns follow the batch
    * contract: events' own columns + `asof_t` (matched state time) +
    * `asof_<payload>`, NULL where the event precedes every state row.
    * NULL state times are dropped (they never match, the native-exec
    * convention); stateTime should be unique per key (the SCD grain).
    *
    * Guards (the batch asOf/asOfNative reserved-name discipline plus a
    * broadcast-size gate): the events frame must not already carry
    * `asof_t`, `asof_<payload>`, `__rk_<key>` or `__ve` (the join
    * machinery would make them ambiguous), the state frame must not
    * carry `__ve` (withColumn would silently overwrite it), and the
    * state table must hold at most `maxStateRows` rows — the folded
    * state is FORCE-broadcast per micro-batch, so a caller handing a
    * fact-sized table gets this operator's clear error instead of a
    * driver OOM; fact-sized state belongs on the batch
    * [[graft.operators.AsOfJoin.asOfNative]] path.
    */
  def asOfEnrichStream(events: DataFrame, state: DataFrame, keys: Seq[String],
                       eventTime: String, stateTime: String,
                       payload: Seq[String],
                       maxStateRows: Int = 10000000): DataFrame = {
    val reserved = Seq("asof_t", "__ve") ++ payload.map(c => s"asof_$c") ++
      keys.map(k => s"__rk_$k")
    val clash = events.columns.toSeq.intersect(reserved)
    require(clash.isEmpty,
      s"events frame already has reserved as-of column(s) $clash — rename " +
        "them before asOfEnrichStream")
    require(!state.columns.contains("__ve"),
      "state frame already has reserved column __ve — rename it before " +
        "asOfEnrichStream")
    require(maxStateRows >= 1 && maxStateRows < Int.MaxValue,
      "maxStateRows must be in [1, Int.MaxValue)")
    // bounded probe, not a full count: stops scanning past the cap
    val probed = state.limit(maxStateRows + 1).count()
    require(probed <= maxStateRows,
      s"state has more than $maxStateRows rows — asOfEnrichStream " +
        "broadcasts the folded state per micro-batch (dimension-snapshot " +
        "contract); use batch AsOfJoin.asOfNative for fact-sized state, " +
        "or raise maxStateRows")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(stateTime))
    val iv = state.filter(col(stateTime).isNotNull)
      .withColumn("__ve", lead(col(stateTime), 1).over(w))
    val rSel = iv.select(keys.map(k => col(k).as(s"__rk_$k")) ++
      Seq(col(stateTime).as("asof_t"), col("__ve")) ++
      payload.map(c => col(c).as(s"asof_$c")): _*)
    val keyCond = keys.map(k => col(k) === col(s"__rk_$k")).reduce(_ && _)
    val cond = keyCond && col(eventTime) >= col("asof_t") &&
      (col("__ve").isNull || col(eventTime) < col("__ve"))
    events.join(broadcast(rSel), cond, "left")
      .drop(keys.map(k => s"__rk_$k") :+ "__ve": _*)
  }

  /** Streaming windowed top-k values per event type — the custom
    * TypedImperativeAggregate (`graft_topk`, expr/TopKExpr) running
    * INSIDE a watermarked streaming aggregate. Micro-batch execution
    * exercises the expression's partial/merge/serialize buffer paths
    * through the streaming state store, proving the aggregate is
    * streaming-safe, not just batch-safe; state per (window, type)
    * stays k-bounded, the heap property that makes it 100 TB-safe in
    * batch too. */
  def windowedTopK(events: DataFrame, k: Int = 3, windowDur: String = "7 days",
                   watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(graft.expr.TopKExpr.column(col("value"), k).as("top_values"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("top_values"))

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionState(nEvents: Long, valueSum: Double, lastTs: Long)
  final case class SessionUpdate(user_id: Long, n_events: Long, value_sum: Double)

  /** Stateful per-user running aggregate — the mapGroupsWithState
    * custom-state surface. Emits the running totals on every trigger.
    * `timeoutMs > 0` arms a processing-time idle timeout that evicts
    * state (bounded memory in production); `timeoutMs <= 0` disables it
    * (deterministic batches — used by tests, where timeout-driven empty
    * micro-batches would never settle). */
  def userSessions(events: Dataset[Event], timeoutMs: Long = 3600000L): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    val timeoutConf = if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
                      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionUpdate](timeoutConf) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionUpdate(userId, s.nEvents, s.valueSum)
          } else {
            val prev = state.getOption.getOrElse(SessionState(0L, 0.0, 0L))
            val (n, v, last) = rows.foldLeft((prev.nEvents, prev.valueSum, prev.lastTs)) {
              case ((cn, cv, cl), e) => (cn + 1, cv + e.value, math.max(cl, e.ts.getTime))
            }
            state.update(SessionState(n, v, last))
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            SessionUpdate(userId, n, v)
          }
      }
  }

  /** Streaming exact dedup — the ingest-side leg of the dedup pipeline
    * (the batch legs live in graft.text.Dedup): drop events whose
    * content hash was already seen within the watermark horizon.
    * `dropDuplicatesWithinWatermark` keys state by the 64-bit content
    * hash (not the payload) and evicts state as the watermark passes —
    * bounded memory forever, the only dedup shape that survives an
    * unbounded stream. Exactness holds WITHIN the horizon; duplicates
    * farther apart than the watermark must be caught by the batch
    * compaction pass (the standard lambda split). */
  def dedupStream(events: DataFrame, contentCols: Seq[String],
                  watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .withColumn("__content_hash", xxhash64(contentCols.map(col): _*))
      .dropDuplicatesWithinWatermark("__content_hash")
      .drop("__content_hash")

  final case class OpenSession(startUs: Long, lastUs: Long, nEvents: Long, valueSum: Double)
  final case class ClosedSession(user_id: Long, session_id: Long, n_events: Long,
                                 start_us: Long, end_us: Long, dur_sec: Long,
                                 value_sum: Double)

  /** Streaming gap-based sessionization — the stateful twin of
    * `graft.operators.Sessions` (same semantics: a new session starts
    * when the gap to the previous event of the user exceeds
    * `gapMinutes`; strictly greater). State per user is ONE open
    * session (constant size — bounded by active users, not history).
    * A session closes and is EMITTED when a later event of the same
    * user arrives beyond the gap, or when the event-time watermark
    * passes `lastTs + gap` (EventTimeTimeout) — so results are
    * append-mode final, never retracted.
    *
    * Within-batch events are sorted by (ts, event_id) before folding;
    * cross-batch reordering is bounded by the watermark (late events
    * beyond it are dropped by the upstream `withWatermark`, the
    * standard streaming contract).
    */
  def gapSessions(events: Dataset[Event], gapMinutes: Int,
                  watermark: String = "1 hour"): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    def us(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Option[OpenSession]), ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[(Long, Option[OpenSession])]) =>
          val (closedSoFar, open0) = state.getOption.getOrElse((0L, None))
          if (state.hasTimedOut) {
            val out = open0.map { o =>
              ClosedSession(userId, closedSoFar + 1, o.nEvents, o.startUs, o.lastUs,
                (o.lastUs - o.startUs) / 1000000L, o.valueSum)
            }
            state.update((closedSoFar + out.size, None))
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => (us(e.ts), e.event_id))
            var closed = List.empty[OpenSession]
            var open = open0
            sorted.foreach { e =>
              val t = us(e.ts)
              open match {
                case Some(o) if t - o.lastUs > gapUs =>
                  closed = o :: closed
                  open = Some(OpenSession(t, t, 1L, e.value))
                case Some(o) =>
                  open = Some(o.copy(lastUs = math.max(o.lastUs, t),
                    nEvents = o.nEvents + 1, valueSum = o.valueSum + e.value))
                case None =>
                  open = Some(OpenSession(t, t, 1L, e.value))
              }
            }
            val emitted = closed.reverse.zipWithIndex.map { case (o, i) =>
              ClosedSession(userId, closedSoFar + i + 1, o.nEvents, o.startUs, o.lastUs,
                (o.lastUs - o.startUs) / 1000000L, o.valueSum)
            }
            state.update((closedSoFar + emitted.size, open))
            open.foreach(o => state.setTimeoutTimestamp((o.lastUs + gapUs) / 1000L + 1))
            emitted.iterator
          }
      }
  }

  /** Batch-equivalent of windowedCounts for parity testing: the same
    * 7-day tumbling buckets computed with groupBy over a static frame. */
  def windowedCountsBatch(events: DataFrame, windowDur: String = "7 days"): DataFrame =
    events.groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_sum"))

  final case class Attribution(conversion_id: Long, user_id: Long,
                               conv_us: Long, last_touch_id: Option[Long],
                               last_touch_type: Option[String])

  /** Streaming last-touch attribution: per-user state holds the most
    * recent touch event (by event time, id tie-break); every conversion
    * emits immediately with the credited touch. State is ONE touch per
    * user forever — the streaming-natural subset of the batch
    * `operators.Attribution` (which also computes first-touch and
    * lookback windows over history); StreamingSpec pins last-touch
    * parity on a single batch. */
  def lastTouchStream(events: Dataset[Event], convType: String,
                      touchTypes: Set[String]): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    def us(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Option[(Long, Long, String)], Attribution](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event],
         state: GroupState[Option[(Long, Long, String)]]) =>
          var last = state.getOption.flatten // (ts_us, id, type)
          val out = rows.toSeq.sortBy(e => (us(e.ts), e.event_id)).flatMap { e =>
            if (touchTypes(e.event_type)) { last = Some((us(e.ts), e.event_id, e.event_type)); None }
            else if (e.event_type == convType)
              Some(Attribution(e.event_id, userId, us(e.ts),
                last.map(_._2), last.map(_._3)))
            else None
          }
          state.update(last)
          out.iterator
      }
  }

  final case class FunnelHit(user_id: Long, step: Int, step_name: String,
                             ts_us: Long)

  /** Streaming windowed funnel — the streaming analogue of
    * `operators.Funnel.windowFunnel`: per-user state tracks the next
    * expected step, the step-0 anchor time, and the previous step's
    * time; a step-k event at/after step k−1 and within `windowSec` of
    * the anchor emits a hit and advances. Greedy first-match equals the
    * batch min-time semantics under in-order processing (events sorted
    * within each micro-batch; per-key event-time order assumed across
    * batches, as for cusumStream). State: three numbers per user. */
  def funnelStream(events: Dataset[Event], steps: Seq[String],
                   windowSec: Long): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    def us(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    val windowUs = windowSec * 1000000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Int, Long, Long), FunnelHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[(Int, Long, Long)]) =>
          var (next, t0, tPrev) = state.getOption.getOrElse((0, 0L, 0L))
          val out = rows.toSeq.sortBy(e => (us(e.ts), e.event_id)).flatMap { e =>
            val t = us(e.ts)
            if (next < steps.length && e.event_type == steps(next) &&
              (next == 0 || (t >= tPrev && t <= t0 + windowUs))) {
              if (next == 0) t0 = t
              tPrev = t
              next += 1
              Some(FunnelHit(userId, next - 1, steps(next - 1), t))
            } else None
          }
          state.update((next, t0, tPrev))
          out.iterator
      }
  }

  final case class CusumPoint(user_id: Long, ts_us: Long, pos: Double,
                              neg: Double, alarm: Boolean)

  /** Streaming two-sided CUSUM change detection — the streaming
    * analogue of `seq.SequentialKernels.withCusum`, with per-key
    * (pos, neg) recursion state in `flatMapGroupsWithState`. Emits one
    * point per event; state is two doubles per key forever (no growth).
    *
    * Ordering: events are sorted by (event time, id) WITHIN each
    * micro-batch; the recursion is order-sensitive, so cross-batch
    * correctness assumes per-key event-time order across batches (true
    * for per-key FIFO sources like a keyed log). StreamingSpec pins
    * single-batch parity with the batch kernel. */
  def cusumStream(events: Dataset[Event], target: Double, slack: Double,
                  h: Double): Dataset[CusumPoint] = {
    import events.sparkSession.implicits._
    def us(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Double, Double), CusumPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[(Double, Double)]) =>
          var (p, n) = state.getOption.getOrElse((0.0, 0.0))
          val out = rows.toSeq.sortBy(e => (us(e.ts), e.event_id)).map { e =>
            val d = e.value - target
            p = math.max(0.0, p + d - slack)
            n = math.max(0.0, n - d - slack)
            CusumPoint(userId, us(e.ts), p, n, p > h || n > h)
          }
          state.update((p, n))
          out.iterator
      }
  }

  final case class EwmPoint(user_id: Long, ts_us: Long, ewm_mean: Double,
                            ewm_var: Double)

  /** Streaming EWM mean+variance — the streaming twin of
    * `seq/SequentialKernels.withEwmVar` (West's online recursion);
    * two-double state per key, value-identical to the batch kernel
    * across micro-batch splits (StreamingSpec parity). The live
    * volatility band behind streaming anomaly thresholds. */
  def ewmVarStream(events: Dataset[Event], alpha: Double): Dataset[EwmPoint] = {
    import events.sparkSession.implicits._
    def us(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Double, Double), EwmPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[(Double, Double)]) =>
          var st = state.getOption
          val out = rows.toSeq.sortBy(e => (us(e.ts), e.event_id)).map { e =>
            st = st match {
              case None => Some((e.value, 0.0))
              case Some((m0, v0)) =>
                val m = (1 - alpha) * m0 + alpha * e.value
                val v = (1 - alpha) * (v0 + alpha * (e.value - m0) * (e.value - m0))
                Some((m, v))
            }
            EwmPoint(userId, us(e.ts), st.get._1, st.get._2)
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  final case class ScdRange(user_id: Long, value: Double, from_us: Long,
                            to_us: Long, n_obs: Long)

  /** Streaming SCD2 — the streaming twin of `operators.Scd.scd2`:
    * per-key state holds the OPEN validity range (value, from, n_obs);
    * a value change emits the closed range and re-opens. Append mode
    * therefore emits exactly the batch operator's rows with
    * `valid_to IS NOT NULL` (half-open [from, to) — `to` is the next
    * range's start), value-identical across micro-batch splits; the
    * open range lives only in state, bounded by active keys. */
  def scdStream(events: Dataset[Event]): Dataset[ScdRange] = {
    import events.sparkSession.implicits._
    def us(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Double, Long, Long), ScdRange](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[(Double, Long, Long)]) =>
          var st = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[ScdRange]
          rows.toSeq.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
            st match {
              case Some((v, f, n)) if v == e.value =>
                st = Some((v, f, n + 1))
              case Some((v, f, n)) =>
                out += ScdRange(userId, v, f, us(e.ts), n)
                st = Some((e.value, us(e.ts), 1L))
              case None =>
                st = Some((e.value, us(e.ts), 1L))
            }
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming OHLC bars — the streaming analogue of
    * `operators.Bars.ohlc`. Batch uses row_number windows for
    * open/close (not available under streaming aggregation); here
    * min_by/max_by over the unique (ts, event_id) struct pick the same
    * rows, so closed bars are value-identical to the batch operator
    * (StreamingSpec asserts parity). Watermark-driven state eviction
    * bounds memory by open bars, not history. */
  def ohlcBars(events: DataFrame, bucket: String = "1 hour",
               watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), bucket), col("event_type"))
      .agg(count(lit(1)).as("n"),
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        sum(col("value")).as("volume"))
      .select(col("event_type"), unix_micros(col("window.start")).as("bar_us"),
        col("n"), col("open"), col("close"), col("high"), col("low"),
        col("volume"))

  /** Streaming PSI drift monitor — the Decompose.psi leg of
    * Jobs.monitorRun over micro-batches. The reference distribution is
    * FIXED (bin edges + shares computed offline from the reference
    * period, the deployment pattern: monitors never re-estimate their
    * baseline on the fly), so each event bins against literal edges
    * and the per-window bin histogram pivots into a fixed-width column
    * set — ONE watermarked streaming aggregation, state bounded at
    * (open windows × nBins) longs, and the PSI ladder folds over the
    * bin columns in the same projection. Emits one row per closed
    * window: (window_start, n_events, psi).
    *
    * Same contribution formula as the batch operator:
    * (cur − ref)·ln((cur + ε)/(ref + ε)), ε = 1e-6. */
  def psiStream(events: DataFrame, value: Column, edges: Seq[Double],
                refShares: Seq[Double], windowDur: String = "7 days",
                watermark: String = "1 day"): DataFrame = {
    require(edges.nonEmpty, "need at least one bin edge")
    require(refShares.length == edges.length + 1,
      "refShares must have one entry per bin (edges + 1)")
    val nB = refShares.length
    val bin = edges.map(e => when(value > lit(e), 1).otherwise(0)).reduce(_ + _)
    val counts = (0 until nB).map(b =>
      sum(when(col("__bin") === b, 1L).otherwise(0L)).as(s"__c$b"))
    val total = (0 until nB).map(b => col(s"__c$b")).reduce(_ + _)
    val eps = lit(1e-6)
    val psi = (0 until nB).map { b =>
      val cur = col(s"__c$b").cast("double") / col("__total")
      val ref = lit(refShares(b))
      (cur - ref) * log((cur + eps) / (ref + eps))
    }.reduce(_ + _)
    events
      .withWatermark("ts", watermark)
      .withColumn("__bin", bin)
      .groupBy(window(col("ts"), windowDur))
      .agg(counts.head, counts.tail: _*)
      .withColumn("__total", total.cast("double"))
      .select(col("window.start").as("window_start"),
        col("__total").cast("long").as("n_events"), psi.as("psi"))
  }

  /** Streaming binned two-sample KS vs a static reference CDF — the
    * streaming twin of the drift report's KS leg
    * (metrics/Diagnostics.driftReport; reference
    * model_diagnostics.py:243-353 runs the same test offline). The
    * window's empirical CDF is evaluated at the bin edges and
    * D = max_i |F̂(edge_i) − refCdf(i)| — EXACT for pre-binned values
    * and the standard bounded-state approximation otherwise (state per
    * open window = one long per bin, the psiStream contract; the
    * full-resolution KS needs the batch detector). `refCdf(i)` is the
    * reference distribution's CDF at `edges(i)`. Same watermark/
    * append-mode emission as [[psiStream]]; running the identical plan
    * on a batch frame is the parity twin. */
  def ksStream(events: DataFrame, value: Column, edges: Seq[Double],
               refCdf: Seq[Double], windowDur: String = "7 days",
               watermark: String = "1 day"): DataFrame = {
    require(edges.nonEmpty, "need at least one bin edge")
    require(edges == edges.sorted,
      "edges must be ascending — the cumulative bin sum is a CDF only then")
    require(refCdf.length == edges.length,
      "refCdf must carry one reference CDF point per edge")
    val nB = edges.length + 1
    val bin = edges.map(e => when(value > lit(e), 1).otherwise(0)).reduce(_ + _)
    val counts = (0 until nB).map(b =>
      sum(when(col("__bin") === b, 1L).otherwise(0L)).as(s"__c$b"))
    val total = (0 until nB).map(b => col(s"__c$b")).reduce(_ + _)
    val ks = edges.indices.map { i =>
      val cum = (0 to i).map(b => col(s"__c$b")).reduce(_ + _)
        .cast("double") / col("__total")
      abs(cum - lit(refCdf(i)))
    }.reduce((a, b) => greatest(a, b))
    events
      .withWatermark("ts", watermark)
      .withColumn("__bin", bin)
      .groupBy(window(col("ts"), windowDur))
      .agg(counts.head, counts.tail: _*)
      .withColumn("__total", total.cast("double"))
      .select(col("window.start").as("window_start"),
        col("__total").cast("long").as("n_events"),
        graft.functions.Funcs.r(ks).as("ks"))
  }
}
