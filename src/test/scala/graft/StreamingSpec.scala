package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventsStream

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("watermarked tumbling-window aggregate matches the batch equivalent") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")

    val query = EventsStream.windowedCounts(events, "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Append()).start()

    input.addData(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:45:00"), "click", 2.0),
      (ts("2024-01-01 11:05:00"), "view", 5.0))
    query.processAllAvailable()
    // advance watermark far past the first windows so they close
    input.addData((ts("2024-01-01 15:00:00"), "click", 0.5))
    query.processAllAvailable()

    val out = spark.table("win_counts")
      .select(col("window_start").cast("string"), col("event_type"),
        col("n_events"), col("value_sum"))
      .as[(String, String, Long, Double)].collect().toSet
    query.stop()

    assert(out.contains(("2024-01-01 10:00:00", "click", 2L, 3.0)))
    assert(out.contains(("2024-01-01 11:00:00", "view", 1L, 5.0)))
  }

  test("stream-static enrichment joins the broadcast dimension per micro-batch") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String, Double)]
    val events = input.toDF().toDF("user_id", "event_type", "value")
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("u_id", "tier")

    val query = EventsStream.enrichStream(events, dim, "user_id", "u_id")
      .select("user_id", "event_type", "tier")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()

    input.addData((1L, "click", 1.0), (3L, "view", 2.0))
    query.processAllAvailable()
    input.addData((2L, "click", 3.0))
    query.processAllAvailable()

    val out = spark.table("enriched")
      .as[(Long, String, Option[String])].collect().toSet
    query.stop()
    assert(out == Set(
      (1L, "click", Some("gold")),
      (3L, "view", None), // unmatched keeps NULL, the batch J1 contract
      (2L, "click", Some("silver"))))
  }

  test("stream-static enrichment rejects an oversize dimension with a " +
    "message instead of a forced-broadcast OOM") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String, Double)]
    val events = input.toDF().toDF("user_id", "event_type", "value")
    val dim = Seq((1L, "gold"), (2L, "silver"), (3L, "bronze"))
      .toDF("u_id", "tier")
    val oversize = intercept[IllegalArgumentException] {
      EventsStream.enrichStream(events, dim, "user_id", "u_id", maxDimRows = 2)
    }
    assert(oversize.getMessage.contains("enrichStream"), oversize.getMessage)
  }

  test("streaming as-of enrichment matches the batch asOf across micro-batches") {
    implicit val sq = spark.sqlContext
    def ts(s: Long) = new Timestamp(s * 1000L)
    val input = MemoryStream[(Long, Timestamp, Double)]
    val events = input.toDF().toDF("user_id", "ts", "value")
    // two state versions for user 10, one for 20, none for 30
    val state = Seq((10L, ts(100), "bronze"), (10L, ts(200), "gold"),
      (20L, ts(150), "silver")).toDF("user_id", "st", "tier")

    val query = EventsStream.asOfEnrichStream(events, state, Seq("user_id"),
      "ts", "st", Seq("tier"))
      .select("user_id", "ts", "asof_t", "asof_tier")
      .writeStream.format("memory").queryName("asof_enriched")
      .outputMode(OutputMode.Append()).start()

    val batch1 = Seq((10L, ts(99), 1.0), (10L, ts(100), 2.0), (10L, ts(150), 3.0))
    val batch2 = Seq((10L, ts(200), 4.0), (10L, ts(500), 5.0),
      (20L, ts(149), 6.0), (20L, ts(151), 7.0), (30L, ts(300), 8.0))
    input.addData(batch1: _*)
    query.processAllAvailable()
    input.addData(batch2: _*)
    query.processAllAvailable()

    val got = spark.table("asof_enriched")
      .as[(Long, Timestamp, Option[Timestamp], Option[String])].collect().toSet
    query.stop()
    // oracle: the batch union-and-carry asOf over the same rows
    val expected = graft.operators.AsOfJoin.asOf(
      (batch1 ++ batch2).toDF("user_id", "ts", "value"), state,
      Seq("user_id"), "ts", "st", Seq("tier"))
      .select("user_id", "ts", "asof_t", "asof_tier")
      .as[(Long, Timestamp, Option[Timestamp], Option[String])].collect().toSet
    assert(got == expected)
    // spot-check the semantics the intervals encode: before-first NULL,
    // inclusive boundary, version switch at the second state row
    assert(got.contains((10L, ts(99), None, None)))
    assert(got.contains((10L, ts(100), Some(ts(100)), Some("bronze"))))
    assert(got.contains((10L, ts(200), Some(ts(200)), Some("gold"))))
    assert(got.contains((30L, ts(300), None, None)))
  }

  test("streaming as-of enrichment fails fast on reserved-name clashes " +
    "and oversize state (a message, not an executor OOM)") {
    implicit val sq = spark.sqlContext
    def ts(s: Long) = new Timestamp(s * 1000L)
    val input = MemoryStream[(Long, Timestamp, Double)]
    val events = input.toDF().toDF("user_id", "ts", "value")
    val state = Seq((10L, ts(100), "bronze"), (10L, ts(200), "gold"),
      (20L, ts(150), "silver")).toDF("user_id", "st", "tier")

    // events already carrying an output/scratch column → clear require
    val clash = intercept[IllegalArgumentException] {
      EventsStream.asOfEnrichStream(
        events.withColumn("asof_tier", lit("x")), state,
        Seq("user_id"), "ts", "st", Seq("tier"))
    }
    assert(clash.getMessage.contains("asof_tier"), clash.getMessage)
    val clashVe = intercept[IllegalArgumentException] {
      EventsStream.asOfEnrichStream(events.withColumn("__ve", lit(1)),
        state, Seq("user_id"), "ts", "st", Seq("tier"))
    }
    assert(clashVe.getMessage.contains("__ve"), clashVe.getMessage)
    // state's __ve would be silently overwritten by the interval fold
    val clashState = intercept[IllegalArgumentException] {
      EventsStream.asOfEnrichStream(events,
        state.withColumn("__ve", lit(1)), Seq("user_id"), "ts", "st",
        Seq("tier"))
    }
    assert(clashState.getMessage.contains("__ve"), clashState.getMessage)

    // the folded state is FORCE-broadcast per micro-batch: a state
    // table past the cap must fail at definition time with the
    // operator's own message, never a driver/executor OOM mid-stream
    val oversize = intercept[IllegalArgumentException] {
      EventsStream.asOfEnrichStream(events, state, Seq("user_id"),
        "ts", "st", Seq("tier"), maxStateRows = 2)
    }
    assert(oversize.getMessage.contains("asOfNative"), oversize.getMessage)

    // and the guarded operator still enriches (guards cost one bounded
    // probe, not the semantics)
    val query = EventsStream.asOfEnrichStream(events, state, Seq("user_id"),
      "ts", "st", Seq("tier"), maxStateRows = 3)
      .select("user_id", "ts", "asof_tier")
      .writeStream.format("memory").queryName("asof_guarded")
      .outputMode(OutputMode.Append()).start()
    input.addData((10L, ts(150), 1.0), (30L, ts(300), 2.0))
    query.processAllAvailable()
    val got = spark.table("asof_guarded")
      .as[(Long, Timestamp, Option[String])].collect().toSet
    query.stop()
    assert(got == Set((10L, ts(150), Some("bronze")), (30L, ts(300), None)))
  }

  test("custom top-k aggregate runs inside a watermarked streaming window") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")

    val query = EventsStream.windowedTopK(events, k = 2, "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("win_topk")
      .outputMode(OutputMode.Append()).start()

    // same window split across micro-batches: the agg buffer must
    // merge through the state store, not within one batch
    input.addData(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:15:00"), "click", 9.0))
    query.processAllAvailable()
    input.addData(
      (ts("2024-01-01 10:25:00"), "click", 5.0),
      (ts("2024-01-01 10:35:00"), "view", 2.0))
    query.processAllAvailable()
    input.addData((ts("2024-01-01 15:00:00"), "click", 0.5))
    query.processAllAvailable()

    val out = spark.table("win_topk")
      .select(col("window_start").cast("string"), col("event_type"),
        col("top_values"))
      .as[(String, String, Seq[Double])].collect()
      .map { case (w, t, v) => (w, t) -> v }.toMap
    query.stop()

    assert(out(("2024-01-01 10:00:00", "click")) == Seq(9.0, 5.0))
    assert(out(("2024-01-01 10:00:00", "view")) == Seq(2.0))

    // batch parity on the same rows
    val batch = Seq(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:15:00"), "click", 9.0),
      (ts("2024-01-01 10:25:00"), "click", 5.0),
      (ts("2024-01-01 10:35:00"), "view", 2.0))
      .toDF("ts", "event_type", "value")
    val b = EventsStreamReference.windowedTopKBatch(batch, k = 2, "1 hour")
      .select(col("window_start").cast("string"), col("event_type"),
        col("top_values"))
      .as[(String, String, Seq[Double])].collect()
      .map { case (w, t, v) => (w, t) -> v }.toMap
    assert(b == out.view.filterKeys(_._1 == "2024-01-01 10:00:00").toMap)
  }

  test("streaming OHLC bars match the batch Bars.ohlc on closed bars") {
    implicit val sq = spark.sqlContext
    val rows = Seq(
      (1L, ts("2024-01-01 10:05:00"), "m", 5.0),
      (2L, ts("2024-01-01 10:15:00"), "m", 9.0),
      (3L, ts("2024-01-01 10:25:00"), "m", 1.0),
      (4L, ts("2024-01-01 10:35:00"), "m", 7.0))
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "event_type", "value")
    val query = EventsStream.ohlcBars(events, "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("ohlc_bars")
      .outputMode(OutputMode.Append()).start()
    input.addData(rows: _*)
    query.processAllAvailable()
    // advance the watermark so the 10:00 bar closes and emits
    input.addData((9L, ts("2024-01-01 15:00:00"), "m", 0.5))
    query.processAllAvailable()
    val streamed = spark.table("ohlc_bars")
      .select("event_type", "bar_us", "n", "open", "close", "high", "low")
      .as[(String, Long, Long, Double, Double, Double, Double)].collect().toSet
    query.stop()

    val batch = graft.operators.Bars
      .ohlc(rows.toDF("event_id", "ts", "event_type", "value"),
        "event_type", "ts", "event_id", "value", "hour")
      .select("event_type", "bar_us", "n", "open", "close", "high", "low")
      .as[(String, Long, Long, Double, Double, Double, Double)].head()
    assert(streamed.contains(batch))
    assert(batch._4 == 5.0 && batch._5 == 7.0 && batch._6 == 9.0 && batch._7 == 1.0)
  }

  test("streaming EWM variance matches the batch kernel across micro-batches") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[EventsStream.Event]
    val query = EventsStream.ewmVarStream(input.toDS(), alpha = 0.5)
      .writeStream.format("memory").queryName("ewm_pts")
      .outputMode(OutputMode.Append()).start()
    def ev(id: Long, m: Int, v: Double) =
      EventsStream.Event(id, ts(f"2024-01-01 00:$m%02d:00"), 3L, "x", v)
    input.addData(ev(1, 1, 10.0), ev(2, 2, 20.0))
    query.processAllAvailable()
    input.addData(ev(3, 3, 10.0))
    query.processAllAvailable()
    val streamed = spark.table("ewm_pts")
      .orderBy("ts_us").select("ewm_mean", "ewm_var")
      .as[(Double, Double)].collect().toSeq
    query.stop()
    val batch = graft.seq.SequentialKernels.withEwmVar(
      Seq((3L, 1, 10.0), (3L, 2, 20.0), (3L, 3, 10.0)).toDF("k", "t", "v"),
      Seq("k"), Seq(col("t")), "v", 0.5)
      .orderBy("t").select("ewm_mean", "ewm_var")
      .as[(Double, Double)].collect().toSeq
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed == Seq((10.0, 0.0), (15.0, 25.0), (12.5, 18.75)))
  }

  test("streaming SCD2 emits the batch operator's closed ranges across micro-batches") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[EventsStream.Event]
    val query = EventsStream.scdStream(input.toDS())
      .writeStream.format("memory").queryName("scd_ranges")
      .outputMode(OutputMode.Append()).start()
    def ev(id: Long, m: Int, v: Double) =
      EventsStream.Event(id, ts(f"2024-01-01 00:$m%02d:00"), 7L, "x", v)
    // runs: 1.0 ×2 | 2.0 ×1 | 1.0 ×2 (last range stays open) —
    // split so a run STRADDLES a micro-batch boundary
    input.addData(ev(1, 1, 1.0), ev(2, 2, 1.0), ev(3, 3, 2.0))
    query.processAllAvailable()
    input.addData(ev(4, 4, 1.0), ev(5, 5, 1.0))
    query.processAllAvailable()
    val streamed = spark.table("scd_ranges")
      .orderBy("from_us").select("value", "from_us", "to_us", "n_obs")
      .as[(Double, Long, Long, Long)].collect().toSeq
    query.stop()

    val rows = Seq(
      (1L, ts("2024-01-01 00:01:00"), 1.0), (2L, ts("2024-01-01 00:02:00"), 1.0),
      (3L, ts("2024-01-01 00:03:00"), 2.0), (4L, ts("2024-01-01 00:04:00"), 1.0),
      (5L, ts("2024-01-01 00:05:00"), 1.0)).toDF("event_id", "t", "value")
      .withColumn("k", lit(7L))
    val batch = graft.operators.Scd.scd2(rows, Seq("k"), Seq(col("t")), Seq("value"))
      .filter(col("valid_to").isNotNull)
      .orderBy("valid_from")
      .select(col("value"), unix_micros(col("valid_from").cast("timestamp")),
        unix_micros(col("valid_to").cast("timestamp")), col("n_obs"))
      .as[(Double, Long, Long, Long)].collect().toSeq
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed.map(_._4) == Seq(2L, 1L)) // closed runs: 1.0×2, 2.0×1
  }

  test("streaming CUSUM matches the batch kernel and carries state across batches") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[EventsStream.Event]
    val query = EventsStream.cusumStream(input.toDS(), target = 10.0,
      slack = 1.0, h = 8.0)
      .writeStream.format("memory").queryName("cusum_pts")
      .outputMode(OutputMode.Append()).start()
    def ev(id: Long, m: Int, v: Double) =
      EventsStream.Event(id, ts(f"2024-01-01 00:$m%02d:00"), 1L, "x", v)
    // deltas vs target 10: +3, +3 | -10, +1 (split across micro-batches)
    input.addData(ev(1, 1, 13.0), ev(2, 2, 13.0))
    query.processAllAvailable()
    input.addData(ev(3, 3, 0.0), ev(4, 4, 11.0))
    query.processAllAvailable()
    val streamed = spark.table("cusum_pts")
      .orderBy("ts_us").select("pos", "neg", "alarm")
      .as[(Double, Double, Boolean)].collect().toSeq
    query.stop()
    // batch kernel on the same centered deltas
    val batch = graft.seq.SequentialKernels.withCusum(
      Seq((1L, 1, 3.0), (1L, 2, 3.0), (1L, 3, -10.0), (1L, 4, 1.0))
        .toDF("k", "t", "d"),
      Seq("k"), Seq(col("t")), "d", slack = 1.0, h = 8.0)
      .orderBy("t").select("cusum_pos", "cusum_neg", "cusum_alarm")
      .as[(Double, Double, Long)].collect().toSeq
    assert(streamed == batch.map { case (p, n, a) => (p, n, a == 1L) })
    assert(streamed(2)._3) // the -10 drop trips the alarm mid-stream
  }

  test("streaming last-touch attribution matches the batch operator's last-touch") {
    implicit val sq = spark.sqlContext
    def ev(id: Long, u: Long, t: String, m: Int) =
      EventsStream.Event(id, ts(f"2024-01-01 00:$m%02d:00"), u, t, 0.0)
    val rows = Seq(
      ev(1, 1, "view", 1), ev(2, 1, "click", 2), ev(3, 1, "purchase", 3),
      ev(4, 2, "purchase", 1),                       // no touch -> null credit
      ev(5, 3, "click", 1), ev(6, 3, "purchase", 2),
      ev(7, 3, "view", 4), ev(8, 3, "purchase", 5))  // second conversion, new touch
    val input = MemoryStream[EventsStream.Event]
    val query = EventsStream.lastTouchStream(input.toDS(), "purchase",
      Set("view", "click"))
      .writeStream.format("memory").queryName("lt_attr")
      .outputMode(OutputMode.Append()).start()
    input.addData(rows: _*)
    query.processAllAvailable()
    val streamed = spark.table("lt_attr")
      .select("conversion_id", "last_touch_id", "last_touch_type")
      .as[(Long, Option[Long], Option[String])].collect().toSet
    query.stop()

    val batchDf = rows.map(e => (e.event_id, e.ts, e.user_id, e.event_type))
      .toDF("event_id", "ts", "user_id", "event_type")
    val batch = graft.operators.Attribution.touchAttribution(batchDf,
      "user_id", "event_type", "ts", "event_id", "purchase",
      Seq("view", "click"), lookbackDays = 10000)
      .select("conversion_id", "last_touch_id", "last_touch_type")
      .as[(Long, Option[Long], Option[String])].collect().toSet
    assert(streamed == batch)
    assert(streamed.contains((8L, Some(7L), Some("view"))))
    assert(streamed.contains((4L, None, None)))
  }

  test("streaming windowed funnel matches batch windowFunnel, state across batches") {
    implicit val sq = spark.sqlContext
    def ev(id: Long, u: Long, t: String, m: Int) =
      EventsStream.Event(id, ts(f"2024-01-01 00:$m%02d:00"), u, t, 0.0)
    val batch1 = Seq(ev(1, 1, "view", 1), ev(2, 1, "click", 3),
      ev(3, 2, "view", 1), ev(4, 3, "click", 1)) // u3 clicks w/o view
    val batch2 = Seq(ev(5, 1, "purchase", 8),    // u1 completes in window
      ev(6, 2, "click", 30))                     // u2 clicks after window
    val input = MemoryStream[EventsStream.Event]
    val query = EventsStream.funnelStream(input.toDS(),
      Seq("view", "click", "purchase"), windowSec = 600L)
      .writeStream.format("memory").queryName("funnel_hits")
      .outputMode(OutputMode.Append()).start()
    input.addData(batch1: _*); query.processAllAvailable()
    input.addData(batch2: _*); query.processAllAvailable()
    val streamed = spark.table("funnel_hits")
      .groupBy("step").agg(count(lit(1)).as("n_users"))
      .orderBy("step").as[(Int, Long)].collect().toSeq
    query.stop()
    val batchCounts = graft.operators.Funnel.windowFunnel(
      (batch1 ++ batch2).map(e => (e.user_id, e.event_type, e.ts))
        .toDF("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", Seq("view", "click", "purchase"), 600L)
      .orderBy("step").select("step", "n_users").as[(Long, Long)].collect().toSeq
    assert(streamed.map { case (s, n) => (s.toLong, n) } == batchCounts)
    assert(batchCounts == Seq((0L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("streaming dedup drops within-watermark duplicates across micro-batches") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val events = input.toDF().toDF("ts", "event_id", "body")

    val query = EventsStream.dedupStream(events, Seq("body"), "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()

    input.addData(
      (ts("2024-01-01 10:00:00"), 1L, "same text"),
      (ts("2024-01-01 10:01:00"), 2L, "same text"),   // dup in same batch
      (ts("2024-01-01 10:02:00"), 3L, "other text"))
    query.processAllAvailable()
    input.addData((ts("2024-01-01 10:30:00"), 4L, "same text")) // dup across batches
    query.processAllAvailable()

    val ids = spark.table("dedup_out").select("event_id").as[Long].collect().toSet
    query.stop()
    assert(ids == Set(1L, 3L), s"survivors: $ids")
  }

  test("late data beyond the watermark is dropped") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val query = EventsStream.windowedCounts(events, "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("late_counts")
      .outputMode(OutputMode.Append()).start()

    input.addData((ts("2024-01-01 10:05:00"), "click", 1.0))
    query.processAllAvailable()
    input.addData((ts("2024-01-01 15:00:00"), "click", 1.0)) // advances watermark
    query.processAllAvailable()
    input.addData((ts("2024-01-01 10:30:00"), "click", 99.0)) // too late
    query.processAllAvailable()

    val clicks10 = spark.table("late_counts")
      .filter(col("window_start").cast("string") === "2024-01-01 10:00:00")
      .agg(sum("n_events")).head().getLong(0)
    query.stop()
    assert(clicks10 == 1L) // the late 10:30 row never lands
  }

  test("file-source stream over the real events parquet matches the batch aggregate") {
    val dir = "/root/testdata/sf0.001"
    // the file streaming source requires a DIRECTORY; stage the real
    // events parquet into one
    val stageDir = java.nio.file.Files.createTempDirectory("graft_events").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.Paths.get(s"$stageDir/events.parquet"))
    val stream = EventsStream.readEventsStream(spark, stageDir)
    val query = EventsStream.windowedCounts(stream, "7 days", "1 day")
      .writeStream.format("memory").queryName("file_counts")
      .outputMode(OutputMode.Append()).start()
    query.processAllAvailable()
    query.stop()
    // append mode only emits CLOSED windows; compare those against batch
    val batch = EventsStream.windowedCountsBatch(
      graft.core.Tables.events(spark, dir), "7 days")
      .select(col("window_start").cast("string"), col("event_type"), col("n_events"))
      .as[(String, String, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val streamed = spark.table("file_counts")
      .select(col("window_start").cast("string"), col("event_type"), col("n_events"))
      .as[(String, String, Long)].collect()
    assert(streamed.nonEmpty)
    streamed.foreach { case (w, t, n) => assert(batch((w, t)) == n, s"window $w $t") }
  }

  test("streaming gap sessions match the batch Sessions.stats on closed sessions") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[EventsStream.Event]
    val query = EventsStream.gapSessions(input.toDS(), gapMinutes = 30, watermark = "10 minutes")
      .writeStream.format("memory").queryName("gap_sessions")
      .outputMode(OutputMode.Append()).start()

    // user 7: two sessions (gap 40m); user 8: one session
    val evts = Seq(
      EventsStream.Event(1, ts("2024-01-01 10:00:00"), 7L, "click", 1.0),
      EventsStream.Event(2, ts("2024-01-01 10:10:00"), 7L, "click", 2.0),
      EventsStream.Event(3, ts("2024-01-01 10:50:00"), 7L, "click", 3.0),
      EventsStream.Event(4, ts("2024-01-01 10:05:00"), 8L, "view", 4.0))
    input.addData(evts: _*)
    query.processAllAvailable()
    // far-future event advances the watermark past lastTs+gap for all
    // users → open sessions close via EventTimeTimeout
    input.addData(EventsStream.Event(99, ts("2024-01-02 00:00:00"), 9L, "flush", 0.0))
    query.processAllAvailable()
    input.addData(EventsStream.Event(100, ts("2024-01-03 00:00:00"), 9L, "flush", 0.0))
    query.processAllAvailable()

    val streamed = spark.table("gap_sessions")
      .filter(col("user_id").isin(7L, 8L))
      .select("user_id", "session_id", "n_events", "dur_sec", "value_sum")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    query.stop()

    val batch = graft.operators.Sessions.stats(
      evts.toDF().select(col("event_id"), col("user_id"), col("ts"), col("value")),
      30, col("value"))
      .select("user_id", "session_id", "n_events", "dur_sec", "value_sum")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
  }

  test("stateful user sessions accumulate per-user totals") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[EventsStream.Event]
    val query = EventsStream.userSessions(input.toDS(), timeoutMs = 0L)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Update()).start()

    input.addData(
      EventsStream.Event(1, ts("2024-01-01 10:00:00"), 7L, "click", 2.0),
      EventsStream.Event(2, ts("2024-01-01 10:01:00"), 7L, "click", 3.0),
      EventsStream.Event(3, ts("2024-01-01 10:02:00"), 8L, "view", 1.0))
    query.processAllAvailable()

    val out = spark.table("sessions").as[EventsStream.SessionUpdate]
      .collect().map(u => u.user_id -> (u.n_events, u.value_sum)).toMap
    query.stop()
    assert(out(7L) == (2L, 5.0))
    assert(out(8L) == (1L, 1.0))
  }

  test("streaming PSI drift monitor matches the batch computation on closed windows") {
    implicit val sq = spark.sqlContext
    val edges = Seq(2.0, 4.0, 6.0)
    val refShares = Seq(0.25, 0.25, 0.25, 0.25)
    val input = MemoryStream[(Timestamp, Double)]
    val events = input.toDF().toDF("ts", "value")
    val query = EventsStream.psiStream(events, col("value"), edges, refShares,
      "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("psi_out")
      .outputMode(OutputMode.Append()).start()
    // drifted window: values pile into the top bin across TWO
    // micro-batches (the histogram state must merge)
    val w1 = Seq(1.0, 7.0, 8.0).map(v => (ts("2024-01-01 10:05:00"), v))
    val w2 = Seq(9.0, 7.5, 3.0).map(v => (ts("2024-01-01 10:40:00"), v))
    input.addData(w1: _*)
    query.processAllAvailable()
    input.addData(w2: _*)
    query.processAllAvailable()
    // advance the watermark so the 10:00 window closes
    input.addData((ts("2024-01-01 15:00:00"), 1.0))
    query.processAllAvailable()
    val got = spark.table("psi_out")
      .select(col("window_start").cast("string"), col("n_events"), col("psi"))
      .as[(String, Long, Double)].collect().toSet
    query.stop()
    // batch twin: psiStream on a batch frame is the same plan with the
    // watermark a no-op — bit-identical single-node arithmetic
    val want = EventsStream.psiStream(
      (w1 ++ w2).toDF("ts", "value"), col("value"), edges, refShares,
      "1 hour", "10 minutes")
      .select(col("window_start").cast("string"), col("n_events"), col("psi"))
      .as[(String, Long, Double)].head()
    assert(got.contains(want), s"$got vs $want")
    assert(want._2 == 6L)
    // 4/6 of the mass in the top quartile bin vs 1/4 reference → drifted
    assert(want._3 > 0.25, s"psi=${want._3}")
  }

  test("ksStream: windowed binned KS merges across micro-batches, batch parity") {
    implicit val sq = spark.sqlContext
    val edges = Seq(2.0, 5.0, 8.0)
    val refCdf = Seq(0.25, 0.5, 0.75) // uniform-quartile reference
    val input = MemoryStream[(Timestamp, Double)]
    val events = input.toDF().toDF("ts", "value")
    val query = EventsStream.ksStream(events, col("value"), edges, refCdf,
      "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("ks_out")
      .outputMode(OutputMode.Append()).start()
    val w1 = Seq(1.0, 7.0, 8.0).map(v => (ts("2024-01-01 10:05:00"), v))
    val w2 = Seq(9.0, 7.5, 3.0).map(v => (ts("2024-01-01 10:40:00"), v))
    input.addData(w1: _*)
    query.processAllAvailable()
    input.addData(w2: _*)
    query.processAllAvailable()
    input.addData((ts("2024-01-01 15:00:00"), 1.0))
    query.processAllAvailable()
    val got = spark.table("ks_out")
      .select(col("window_start").cast("string"), col("n_events"), col("ks"))
      .as[(String, Long, Double)].collect().toSet
    query.stop()
    val want = EventsStream.ksStream(
      (w1 ++ w2).toDF("ts", "value"), col("value"), edges, refCdf,
      "1 hour", "10 minutes")
      .select(col("window_start").cast("string"), col("n_events"), col("ks"))
      .as[(String, Long, Double)].head()
    assert(got.contains(want), s"$got vs $want")
    // bins 1/1/3/1 of 6 → cum (0.1667, 0.3333, 0.8333) vs quartiles →
    // D at the middle edge = |2/6 − 0.5| = 0.1667
    assert(want._2 == 6L && want._3 == 0.1667)
  }
}
