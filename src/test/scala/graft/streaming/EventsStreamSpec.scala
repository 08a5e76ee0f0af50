package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class EventsStreamSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming window agg over MemoryStream matches the batch transform") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val source = MemoryStream[(Timestamp, String, Double)]
    val df = source.toDF().toDF("ts", "event_type", "value")
    val query = EventsStream.runToMemory(df, "win_agg_test")
    try {
      val rows = Seq(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:55:00"), "click", 2.0),
        (ts("2024-01-01 11:10:00"), "view", 5.0),
        (ts("2024-01-01 14:00:00"), "click", 7.0)) // advances watermark past 10-12h
      source.addData(rows: _*)
      query.processAllAvailable()
      // windows whose end <= watermark (12:00) are final: the 10h and 11h windows
      val emitted = spark.table("win_agg_test")
        .select("hour_start", "event_type", "n", "value_sum").collect()
      val expected = EventsStream.windowAggTransform(
        rows.toDF("ts", "event_type", "value"))
        .filter(col("hour_start") < ts("2024-01-01 12:00:00"))
        .collect()
      assert(emitted.toSet == expected.toSet)
    } finally query.stop()
  }

  test("sliding windows: every event in exactly two windows, streaming twin matches batch") {
    import spark.implicits._
    // batch: each 2h/1h-slide window equals the sum of its two tumbling hours
    val slide = EventsStream.slidingWindowAgg(spark, sfDir).cache()
    val tumble = EventsStream.windowAgg(spark, sfDir)
      .select(col("hour_start"), col("event_type"), col("n").as("tn"))
    val twoHours = slide.join(tumble,
        tumble("event_type") === slide("event_type") &&
          (tumble("hour_start") === slide("win_start") ||
            tumble("hour_start") === slide("win_start") + expr("INTERVAL 1 HOUR")),
        "left")
      .groupBy(slide("win_start"), slide("event_type"), col("n"))
      .agg(sum(col("tn")).as("want"))
    assert(twoHours.filter(col("n") =!= col("want")).isEmpty)
    // total row-slots: every event counted exactly twice across windows
    assert(slide.agg(sum("n")).head().getLong(0) ==
      2 * Tables.events(spark, sfDir).count())
    slide.unpersist()
    // streaming twin over a MemoryStream prefix
    implicit val sql = spark.sqlContext
    val source = MemoryStream[(Timestamp, String, Double)]
    val df = source.toDF().toDF("ts", "event_type", "value")
    val query = EventsStream.streamingSlidingAgg(df).writeStream
      .format("memory").queryName("sliding_agg_test")
      .outputMode("append").start()
    try {
      val rows = Seq(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 11:10:00"), "click", 2.0),
        (ts("2024-01-01 15:00:00"), "view", 7.0)) // watermark -> 13:00
      source.addData(rows: _*)
      query.processAllAvailable()
      val emitted = spark.table("sliding_agg_test")
        .select("win_start", "event_type", "n", "value_sum").collect()
      val expected = EventsStream.slidingAggTransform(
        rows.toDF("ts", "event_type", "value"))
        .filter(col("win_start") + expr("INTERVAL 2 HOURS") <= ts("2024-01-01 13:00:00"))
        .collect()
      assert(expected.nonEmpty && emitted.toSet == expected.toSet)
    } finally query.stop()
  }

  test("streaming ingest dedup drops in-watermark redeliveries, batch twin dedups exactly") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val source = MemoryStream[(Long, Timestamp, String)]
    val df = source.toDF().toDF("event_id", "ts", "event_type")
    val query = EventsStream.streamingIngestDedup(df).writeStream
      .format("memory").queryName("ingest_dedup_test")
      .outputMode("append").start()
    try {
      // batch 1: id 1 delivered twice in the same micro-batch
      source.addData((1L, ts("2024-01-01 10:00:00"), "click"),
        (1L, ts("2024-01-01 10:00:00"), "click"),
        (2L, ts("2024-01-01 10:05:00"), "view"))
      query.processAllAvailable()
      // batch 2: id 2 redelivered across micro-batches, still in watermark
      source.addData((2L, ts("2024-01-01 10:05:00"), "view"),
        (3L, ts("2024-01-01 10:10:00"), "click"))
      query.processAllAvailable()
      val ids = spark.table("ingest_dedup_test")
        .select("event_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), s"each id exactly once, got $ids")
    } finally query.stop()
    // batch twin: every key appears exactly once, and the 7-divisible
    // redelivery simulation cannot create extra rows
    val batch = EventsStream.ingestDedup(spark, sfDir).cache()
    assert(batch.groupBy("event_id").count().filter(col("count") > 1).isEmpty)
    assert(batch.count() == Tables.events(spark, sfDir).select("event_id").distinct().count())
  }

  test("dense hourly agg fills gaps with zeros and preserves the sparse totals") {
    val dense = EventsStream.denseHourlyAgg(spark, sfDir).cache()
    val sparse = EventsStream.windowAgg(spark, sfDir).cache()
    // the dense grid strictly contains the sparse rows...
    assert(dense.count() > sparse.count())
    // ...adds only zero rows...
    assert(dense.filter(col("n") === 0).count() == dense.count() - sparse.count())
    // ...and changes no totals
    assert(dense.agg(sum("n")).head.getLong(0) == sparse.agg(sum("n")).head.getLong(0))
    // every (hour, type) cell of the bounding box is present exactly once
    val hours = dense.select("hour_start").distinct().count()
    val types = dense.select("event_type").distinct().count()
    assert(dense.count() == hours * types)
  }

  test("stream-stream attribution join over MemoryStreams matches the batch transform") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val clickSrc = MemoryStream[(Long, Long, Timestamp)]
    val purchSrc = MemoryStream[(Long, Long, Timestamp)]
    val clicks = clickSrc.toDF().toDF("c_id", "c_user", "c_ts")
    val purchases = purchSrc.toDF().toDF("p_id", "p_user", "p_ts")
    val query = EventsStream.streamingClickAttribution(clicks, purchases)
      .writeStream.format("memory").queryName("attribution_test")
      .outputMode("append").start()
    try {
      val clickRows = Seq(
        (10L, 1L, ts("2024-01-01 10:00:00")), // in window of purchase 100
        (11L, 1L, ts("2024-01-01 09:00:00")), // too early — outside 30 min
        (12L, 2L, ts("2024-01-01 10:10:00")), // other user
        (13L, 1L, ts("2024-01-01 10:20:00"))) // in window of purchase 100
      val purchRows = Seq(
        (100L, 1L, ts("2024-01-01 10:25:00")),
        (101L, 3L, ts("2024-01-01 10:30:00"))) // user with no clicks
      clickSrc.addData(clickRows: _*)
      purchSrc.addData(purchRows: _*)
      query.processAllAvailable()
      val emitted = spark.table("attribution_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val expected = EventsStream.clickAttributionTransform(
          clickRows.toDF("c_id", "c_user", "c_ts"),
          purchRows.toDF("p_id", "p_user", "p_ts")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(emitted == expected && expected ==
        Set((100L, 10L, 1L, 25L * 60 * 1000000), (100L, 13L, 1L, 5L * 60 * 1000000)))
    } finally query.stop()
  }

  test("left-outer attribution: unmatched clicks emit only after their window expires") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val clickSrc = MemoryStream[(Long, Long, Timestamp)]
    val purchSrc = MemoryStream[(Long, Long, Timestamp)]
    val clicks = clickSrc.toDF().toDF("c_id", "c_user", "c_ts")
    val purchases = purchSrc.toDF().toDF("p_id", "p_user", "p_ts")
    val query = EventsStream.streamingUnattributedClicks(clicks, purchases)
      .writeStream.format("memory").queryName("unattributed_test")
      .outputMode("append").start()
    try {
      // click 10 will be matched; click 11 will not (other user's purchase)
      clickSrc.addData((10L, 1L, ts("2024-01-01 10:00:00")),
        (11L, 2L, ts("2024-01-01 10:00:00")))
      purchSrc.addData((100L, 1L, ts("2024-01-01 10:10:00")))
      query.processAllAvailable()
      // the window for click 11 ([10:00, 10:30]) is still open — nothing
      // may emit yet, even for the matched click (matches are INNER rows;
      // this feed is the null-extended side only)
      assert(spark.table("unattributed_test").isEmpty)
      // advance both watermarks past 10:30 + 1h delay: late-data horizon
      // 12:00 - 1h = 11:00 > 10:30, so click 11's window provably closed
      clickSrc.addData((12L, 9L, ts("2024-01-01 12:00:00")))
      purchSrc.addData((101L, 9L, ts("2024-01-01 12:00:00")))
      query.processAllAvailable()
      val emitted = spark.table("unattributed_test").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // exactly the unmatched click — once, and never the matched one;
      // clicks 12's window is still open, so it stays buffered
      assert(emitted == Set((11L, 2L)), emitted.toString)
    } finally query.stop()
  }

  test("stream-static enrichment over a MemoryStream matches the batch transform") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val customer = Tables.customer(spark, sfDir)
    val nation = Tables.nation(spark, sfDir)
    val source = MemoryStream[(Long, Long, String)]
    val df = source.toDF().toDF("event_id", "user_id", "event_type")
    val query = EventsStream.streamingEnrich(df, customer, nation)
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode("append").start()
    try {
      val rows = Seq((1L, 0L, "click"), (2L, 5L, "view"), (3L, 999999L, "click"))
      source.addData(rows: _*)
      query.processAllAvailable()
      val emitted = spark.table("enrich_test").collect().toSet
      val expected = EventsStream.enrichTransform(
        rows.toDF("event_id", "user_id", "event_type"), customer, nation)
        .collect().toSet
      assert(emitted == expected)
      // the unknown user is dropped by the inner join, known users enriched
      assert(emitted.map(_.getLong(0)) == Set(1L, 2L))
    } finally query.stop()
  }

  test("batch attribution joins hash-partitioned on user_id, never a nested loop") {
    val df = EventsStream.clickAttribution(spark, sfDir)
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString
    val finalPlan = plan.indexOf("== Initial Plan ==") match {
      case -1 => plan
      case i => plan.substring(0, i)
    }
    assert(!finalPlan.contains("BroadcastNestedLoopJoin"),
      s"interval join must stay an equi-join with residual:\n${finalPlan.take(2000)}")
    assert(finalPlan.contains("Join") && df.count() > 0)
  }

  test("24h moving average: flat-prefix identity and frame-bounded mean") {
    val ma = EventsStream.movingHourlyAvg(spark, sfDir).cache()
    // every row's ma24 is between the frame's min and max by construction;
    // cheap global sanity — the mean of a window can never escape its range
    val perType = ma.groupBy("event_type")
      .agg(min("value_sum").as("lo"), max("value_sum").as("hi"))
    assert(ma.join(perType, "event_type")
      .filter(col("ma24") < col("lo") - 1e-6 || col("ma24") > col("hi") + 1e-6)
      .isEmpty)
    // the first row of each type's series has a 1-row frame: ma24 == value
    import org.apache.spark.sql.expressions.Window
    val first = ma.withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy("hour_start")))
      .filter(col("rn") === 1)
    assert(first.filter(abs(col("ma24") - round(col("value_sum"), 6)) > 1e-9).isEmpty)
    // grid cardinality preserved (one output row per dense-grid cell)
    assert(ma.count() == EventsStream.denseHourlyAgg(spark, sfDir).count())
  }

  test("linear interpolation matches a driver-side walk of the dense grid") {
    val li = EventsStream.linearInterpolate(spark, sfDir).cache()
    val dense = EventsStream.denseHourlyAgg(spark, sfDir).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("hour_start").getTime / 1000,
        r.getAs[String]("event_type"), r.getAs[Long]("n"),
        r.getAs[Double]("value_sum")))
    assert(li.count() == dense.length)
    // driver-side model: per type, observed means, then straight lines
    val want = dense.toSeq.groupBy(_._2).toSeq.flatMap { case (tpe, rows) =>
      val sorted = rows.sortBy(_._1)
      val obs = sorted.filter(_._3 > 0)
        .map(t => t._1 -> BigDecimal(t._4 / t._3)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
      val obsHours = obs.keys.toSeq.sorted
      sorted.map { case (h, _, n, _) =>
        val v: Option[Double] =
          if (n > 0) Some(obs(h))
          else {
            val prev = obsHours.filter(_ < h).lastOption
            val next = obsHours.find(_ > h)
            (prev, next) match {
              case (Some(p), Some(nx)) =>
                val f = (h - p).toDouble / (nx - p)
                Some(BigDecimal(obs(p) + (obs(nx) - obs(p)) * f)
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
              case _ => None
            }
          }
        (h, tpe) -> v
      }
    }.toMap
    li.collect().foreach { r =>
      val k = (r.getAs[java.sql.Timestamp]("hour_start").getTime / 1000,
        r.getAs[String]("event_type"))
      val got = Option(r.getAs[java.lang.Double]("value_interp")).map(_.doubleValue)
      (got, want(k)) match {
        case (Some(g), Some(w)) => assert(math.abs(g - w) < 2e-6, s"$k: $g vs $w")
        case (g, w) => assert(g == w, s"$k: $g vs $w")
      }
    }
    li.unpersist()
  }

  test("native session_window sessions partition each user's stream correctly") {
    val sw = EventsStream.sessionWindowAgg(spark, sfDir).cache()
    val ev = Tables.events(spark, sfDir)
    // every event lands in exactly one session
    assert(sw.agg(sum("n_events")).head().getLong(0) == ev.count())
    // window end is last event + gap, so end - start >= gap always, and
    // consecutive sessions of a user never overlap (end <= next start)
    assert(sw.filter(col("session_end") <= col("session_start")).isEmpty)
    import org.apache.spark.sql.expressions.Window
    val nxt = sw.withColumn("next_start",
      lead(col("session_start"), 1).over(
        Window.partitionBy("user_id").orderBy("session_start")))
    assert(nxt.filter(col("next_start").isNotNull &&
      col("session_end") > col("next_start")).isEmpty,
      "native sessions must be disjoint per user")
    sw.unpersist()
  }

  test("lag-based session boundaries agree with the sessionizer's gap rule") {
    import spark.implicits._
    // each boundary event closes exactly one session (the user's final
    // session stays open and unemitted), so per-user counts must match
    val bounds = EventsStream.sessionBoundaries(spark, sfDir)
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[EventsStream.Event]
    val closed = EventsStream.sessionize(ev)
      .groupByKey(_.user_id).count()
      .collect().map { case (u, n) => u -> n }.toMap
      .filter(_._2 > 0)
    assert(bounds == closed,
      s"${bounds.size} boundary users vs ${closed.size} session users")
  }

  test("batch window agg buckets align with date_trunc(hour)") {
    val wa = EventsStream.windowAgg(spark, sfDir).cache()
    val direct = Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(wa.count() == direct.count())
    assert(wa.agg(sum("n")).head().getLong(0) ==
      Tables.events(spark, sfDir).count())
  }

  test("timeout sessionizer flushes an idle session once the watermark passes it") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val source = MemoryStream[EventsStream.Event]
    val query = EventsStream.sessionizeWithTimeout(
        source.toDS().withWatermark("ts", "10 seconds").as[EventsStream.Event])
      .writeStream
      .format("memory").queryName("sessions_timeout_test")
      .outputMode("append").start()
    try {
      // user 1 goes idle; no later event of their own ever closes the session
      source.addData(
        EventsStream.Event(1L, ts("2024-01-01 10:00:00"), "click"),
        EventsStream.Event(1L, ts("2024-01-01 10:10:00"), "view"))
      query.processAllAvailable()
      assert(spark.table("sessions_timeout_test").isEmpty)
      // another user's much later event advances the watermark far past
      // user 1's (last + gap) timeout timestamp...
      source.addData(EventsStream.Event(2L, ts("2024-01-01 13:00:00"), "click"))
      query.processAllAvailable()
      // ...and timeouts fire against the previous batch's watermark, so one
      // further (empty-for-user-1) batch makes the flush observable
      source.addData(EventsStream.Event(2L, ts("2024-01-01 13:01:00"), "click"))
      query.processAllAvailable()
      val closed = spark.table("sessions_timeout_test")
        .as[EventsStream.Session].collect().filter(_.user_id == 1L)
      assert(closed.length == 1)
      val s = closed.head
      assert(s.n_events == 2
        && s.start == ts("2024-01-01 10:00:00") && s.end == ts("2024-01-01 10:10:00"))
    } finally query.stop()
  }

  test("sessionizer splits on the 30-minute gap and counts events") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val source = MemoryStream[EventsStream.Event]
    val query = EventsStream.sessionize(source.toDS()).writeStream
      .format("memory").queryName("sessions_test")
      .outputMode("append").start()
    try {
      source.addData(
        EventsStream.Event(1L, ts("2024-01-01 10:00:00"), "click"),
        EventsStream.Event(1L, ts("2024-01-01 10:10:00"), "view"),
        // > 30 min later: closes session 1 (2 events), opens session 2
        EventsStream.Event(1L, ts("2024-01-01 11:00:00"), "click"),
        EventsStream.Event(2L, ts("2024-01-01 10:00:00"), "click"))
      query.processAllAvailable()
      val closed = spark.table("sessions_test").as[EventsStream.Session].collect()
      assert(closed.length == 1)
      val s = closed.head
      assert(s.user_id == 1L && s.n_events == 2
        && s.start == ts("2024-01-01 10:00:00") && s.end == ts("2024-01-01 10:10:00"))
    } finally query.stop()
  }

  test("checkpoint recovery: restart resumes exactly-once from the offset log") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft_ckpt_").toString
    val (in, out, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    Files.createDirectories(Paths.get(in))
    val schema = "event_id LONG, event_type STRING, value DOUBLE"
    def startQuery() = spark.readStream.schema(schema).json(in)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    // batch 1 through the first incarnation
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("event_id", "event_type", "value")
      .coalesce(1).write.mode("append").json(in)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // batch 2 lands while no query is running; the RESTARTED query must
    // pick it up from the offset log without re-emitting batch 1
    Seq((3L, "c", 3.0), (4L, "d", 4.0)).toDF("event_id", "event_type", "value")
      .coalesce(1).write.mode("append").json(in)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out).select("event_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    // exactly-once across the restart: every input row once, none twice
    assert(got == Seq(1L, 2L, 3L, 4L), got.mkString(","))
  }

  test("streaming rate limit: first-n per (user, day) across batches, late events dropped") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val source = MemoryStream[EventsStream.UEvent]
    val query = EventsStream.streamingRateLimit(
        source.toDS().withWatermark("ts", "10 seconds"), n = 3)
      .writeStream.format("memory").queryName("rate_limit_test")
      .outputMode("append").start()
    def emitted() = spark.table("rate_limit_test").collect()
      .map(_.getLong(0)).sorted.toSeq
    try {
      // batch 0: user 1 sends 2 (both admitted), user 2 sends 4 (3 kept,
      // the in-batch sort picks them by (ts, event_id) not arrival)
      source.addData(
        EventsStream.UEvent(10L, 1L, ts("2024-01-01 10:00:00")),
        EventsStream.UEvent(11L, 1L, ts("2024-01-01 10:05:00")),
        EventsStream.UEvent(23L, 2L, ts("2024-01-01 10:03:00")),
        EventsStream.UEvent(20L, 2L, ts("2024-01-01 10:00:00")),
        EventsStream.UEvent(22L, 2L, ts("2024-01-01 10:02:00")),
        EventsStream.UEvent(21L, 2L, ts("2024-01-01 10:01:00")))
      query.processAllAvailable()
      assert(emitted() == Seq(10L, 11L, 20L, 21L, 22L))
      // batch 1: user 1's count (2) carries — one more admits, the next
      // drops; a LATE user-1 event (ts before the high-watermark) is
      // dropped even though it would rank ahead of the admitted ones
      source.addData(
        EventsStream.UEvent(12L, 1L, ts("2024-01-01 10:30:00")),
        EventsStream.UEvent(13L, 1L, ts("2024-01-01 10:31:00")),
        EventsStream.UEvent(9L, 1L, ts("2024-01-01 09:59:00"))) // late
      query.processAllAvailable()
      assert(emitted() == Seq(10L, 11L, 12L, 20L, 21L, 22L))
      // next day: a fresh bucket admits user 1 again
      source.addData(EventsStream.UEvent(14L, 1L, ts("2024-01-02 08:00:00")))
      query.processAllAvailable()
      assert(emitted() == Seq(10L, 11L, 12L, 14L, 20L, 21L, 22L))
    } finally query.stop()
  }

  test("streaming rate limit equals the batch rank kernel on an in-order feed") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // the first 300 events of the corpus in (ts, event_id) order, split
    // into 3 in-order micro-batches: arrival order == event order, so the
    // stream's admitted set must equal the batch window-rank filter
    val rows = Tables.events(spark, sfDir)
      .filter(col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"))
      .orderBy("ts", "event_id").limit(300)
      .as[EventsStream.UEvent].collect().toSeq
    val source = MemoryStream[EventsStream.UEvent]
    val query = EventsStream.streamingRateLimit(
        source.toDS().withWatermark("ts", "10 seconds"))
      .writeStream.format("memory").queryName("rate_limit_pair_test")
      .outputMode("append").start()
    try {
      rows.grouped(100).foreach { b =>
        source.addData(b: _*); query.processAllAvailable()
      }
      val stream = spark.table("rate_limit_pair_test").collect()
        .map(_.getLong(0)).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), date_trunc("day", col("ts")))
        .orderBy(col("ts"), col("event_id"))
      val batch = rows.toDF()
        .withColumn("seq", row_number().over(w))
        .filter(col("seq") <= graft.analytics.Behavior.RateLimitN)
        .collect().map(_.getLong(0)).toSet
      assert(stream == batch,
        s"stream-only: ${(stream -- batch).toSeq.sorted.take(5)}; " +
          s"batch-only: ${(batch -- stream).toSeq.sorted.take(5)}")
    } finally query.stop()
  }

  test("streaming forward fill carries state across batches and equals the batch window") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val source = MemoryStream[EventsStream.FEvent]
    val query = EventsStream.streamingForwardFill(source.toDS())
      .writeStream.format("memory").queryName("ffill_test")
      .outputMode("append").start()
    try {
      // batch 0: user 1 views (no obs yet), purchases, views again
      source.addData(
        EventsStream.FEvent(1L, 1L, ts("2024-01-01 10:00:00"), "view", 5.0),
        EventsStream.FEvent(2L, 1L, ts("2024-01-01 10:01:00"), "purchase", 7.25),
        EventsStream.FEvent(3L, 1L, ts("2024-01-01 10:02:00"), "view", 9.0))
      query.processAllAvailable()
      // batch 1: the fill carries the 7.25 across the batch boundary, a
      // second purchase replaces it, a LATE pre-purchase event is dropped
      source.addData(
        EventsStream.FEvent(4L, 1L, ts("2024-01-01 10:10:00"), "click", 1.0),
        EventsStream.FEvent(5L, 1L, ts("2024-01-01 10:11:00"), "purchase", 2.5),
        EventsStream.FEvent(6L, 1L, ts("2024-01-01 10:12:00"), "view", 3.0),
        EventsStream.FEvent(0L, 1L, ts("2024-01-01 09:59:00"), "view", 0.0)) // late
      query.processAllAvailable()
      val got = spark.table("ffill_test").collect()
        .map(r => (r.getLong(0),
          Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Double])))
        .sortBy(_._1).toSeq
      assert(got == Seq(
        (1L, None, None),
        (2L, Some(7.25), Some(7.25)),
        (3L, None, Some(7.25)),
        (4L, None, Some(7.25)),
        (5L, Some(2.5), Some(2.5)),
        (6L, None, Some(2.5))), got.toString)
    } finally query.stop()
  }

  test("streaming forward fill with a TTL drops a user's fill once the watermark passes the horizon") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val source = MemoryStream[EventsStream.FEvent]
    val query = EventsStream.streamingForwardFill(
        source.toDS().withWatermark("ts", "1 minute"),
        fillTtl = Some(java.time.Duration.ofHours(1)))
      .writeStream.format("memory").queryName("ffill_ttl_test")
      .outputMode("append").start()
    try {
      // batch 0: user 1 purchases at 10:00 — fill = 7.25
      source.addData(
        EventsStream.FEvent(1L, 1L, ts("2024-01-01 10:00:00"), "purchase", 7.25),
        EventsStream.FEvent(2L, 1L, ts("2024-01-01 10:01:00"), "view", 0.0))
      query.processAllAvailable()
      // batch 1: another user's event at 13:00 pushes the watermark past
      // 10:00 + 1h, expiring user 1's state
      source.addData(
        EventsStream.FEvent(3L, 2L, ts("2024-01-01 13:00:00"), "view", 0.0))
      query.processAllAvailable()
      // an empty batch lets the timeout fire with the advanced watermark
      source.addData()
      query.processAllAvailable()
      // batch 2: user 1 re-appears after the gap — fills from None again
      source.addData(
        EventsStream.FEvent(4L, 1L, ts("2024-01-01 13:30:00"), "view", 0.0))
      query.processAllAvailable()
      val got = spark.table("ffill_ttl_test").collect()
        .map(r => (r.getLong(0), Option(r.get(4)).map(_.asInstanceOf[Double])))
        .sortBy(_._1).toSeq
      assert(got == Seq(
        (1L, Some(7.25)), (2L, Some(7.25)), (3L, None), (4L, None)),
        got.toString)
    } finally query.stop()
  }

  test("bounded-lateness streaming interpolation equals the batch kernel once the watermark passes a gap's right endpoint") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val source = MemoryStream[EventsStream.FEvent]
    val query = EventsStream.streamingInterpolate(
        source.toDS().withWatermark("ts", "30 minutes"))
      .writeStream.format("memory").queryName("interp_twin_test")
      .outputMode("append").start()
    try {
      // batch 0: two types observed in hour 10; nothing can finalize yet
      source.addData(
        EventsStream.FEvent(1L, 1L, ts("2024-01-01 10:10:00"), "a", 1.75),
        EventsStream.FEvent(2L, 1L, ts("2024-01-01 10:20:00"), "a", 2.25),
        EventsStream.FEvent(3L, 2L, ts("2024-01-01 10:30:00"), "b", 3.5))
      query.processAllAvailable()
      assert(spark.table("interp_twin_test").isEmpty)
      // batch 1: 'a' observed again at 14:05 after a 3-hour gap; the
      // watermark advances to 13:35, then an empty batch fires the
      // hour-10 event-time timeouts for both keys
      source.addData(
        EventsStream.FEvent(4L, 1L, ts("2024-01-01 14:05:00"), "a", 4.0))
      query.processAllAvailable()
      source.addData()
      query.processAllAvailable()
      // batch 2: 16:00 pushes the watermark past 15:00, closing hour 14
      // and releasing the gap fills; the 10:30 replay is behind 'a's
      // finalized frontier — dropped, not folded
      source.addData(
        EventsStream.FEvent(5L, 1L, ts("2024-01-01 16:00:00"), "a", 9.0),
        EventsStream.FEvent(6L, 1L, ts("2024-01-01 10:30:00"), "a", 100.0))
      query.processAllAvailable()
      source.addData()
      query.processAllAvailable()
      val got = spark.table("interp_twin_test")
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2.getTime)).toSeq
      // hours 15/16 stay open beyond the final watermark frontier
      assert(got == Seq(
        ("a", ts("2024-01-01 10:00:00"), 2L, 2.0),
        ("a", ts("2024-01-01 11:00:00"), 0L, 2.5),
        ("a", ts("2024-01-01 12:00:00"), 0L, 3.0),
        ("a", ts("2024-01-01 13:00:00"), 0L, 3.5),
        ("a", ts("2024-01-01 14:00:00"), 1L, 4.0),
        ("b", ts("2024-01-01 10:00:00"), 1L, 3.5)), got.toString)
      // pair discipline: every emitted row equals the batch kernel's row
      // for the same (type, hour) on the on-time feed
      val batchFeed = Seq(
        (ts("2024-01-01 10:10:00"), "a", 1.75),
        (ts("2024-01-01 10:20:00"), "a", 2.25),
        (ts("2024-01-01 10:30:00"), "b", 3.5),
        (ts("2024-01-01 14:05:00"), "a", 4.0),
        (ts("2024-01-01 16:00:00"), "a", 9.0)).toDF("ts", "event_type", "value")
      val batch = EventsStream.linearInterpolateFrom(batchFeed)
        .collect()
        .map(r => ((r.getString(1), r.getTimestamp(0)),
          (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
      got.foreach { case (et, h, n, v) =>
        assert(batch((et, h)) == ((n, Some(v))), s"mismatch at $et $h")
      }
    } finally query.stop()
  }

  test("streaming forward fill equals the batch window kernel on an in-order feed") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val rows = Tables.events(spark, sfDir)
      .filter(col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"))
      .orderBy("ts", "event_id").limit(300)
      .as[EventsStream.FEvent].collect().toSeq
    val source = MemoryStream[EventsStream.FEvent]
    val query = EventsStream.streamingForwardFill(source.toDS())
      .writeStream.format("memory").queryName("ffill_pair_test")
      .outputMode("append").start()
    try {
      rows.grouped(100).foreach { b =>
        source.addData(b: _*); query.processAllAvailable()
      }
      val stream = spark.table("ffill_pair_test").collect()
        .map(r => (r.getLong(0), Option(r.get(4)).map(_.asInstanceOf[Double])))
        .toMap
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val batch = rows.toDF()
        .withColumn("observed",
          when(col("event_type") === "purchase", round(col("value"), 6)))
        .withColumn("filled", last(col("observed"), ignoreNulls = true).over(w))
        .collect()
        .map(r => (r.getLong(0), Option(r.get(6)).map(_.asInstanceOf[Double])))
        .toMap
      assert(stream == batch,
        s"diff: ${(stream.toSet diff batch.toSet).take(5)} | ${(batch.toSet diff stream.toSet).take(5)}")
    } finally query.stop()
  }

  test("streaming heavy hitters: finalized windows match the batch sketch") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val source = MemoryStream[(Timestamp, String, Double)]
    val df = source.toDF().toDF("ts", "event_type", "value")
    val query = EventsStream.streamingHeavyHitters(df, k = 2)
      .writeStream.format("memory").queryName("hh_test")
      .outputMode("append").start()
    try {
      // hour 10: a×3, b×2, c×1 — k=2 keeps the two real heavies; the
      // 14h event advances the watermark (12h) past the 10h window
      val rows = Seq(
        (ts("2024-01-01 10:00:00"), "a", 0.0), (ts("2024-01-01 10:01:00"), "a", 0.0),
        (ts("2024-01-01 10:02:00"), "b", 0.0), (ts("2024-01-01 10:03:00"), "c", 0.0),
        (ts("2024-01-01 10:04:00"), "a", 0.0), (ts("2024-01-01 10:05:00"), "b", 0.0),
        (ts("2024-01-01 14:00:00"), "z", 0.0))
      source.addData(rows: _*)
      query.processAllAvailable()
      val got = spark.table("hh_test")
        .filter(col("hour_start") === ts("2024-01-01 10:00:00"))
        .select("event_type", "min_count").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // batch twin: the same expression over the same rows
      val want = rows.toDF("ts", "event_type", "value")
        .filter(col("ts") < ts("2024-01-01 11:00:00"))
        .agg(graft.functions.MisraGries.of(col("event_type"), 2)).head()
        .getMap[String, Long](0)
      assert(got == want.toMap, s"got $got want $want")
      // Misra-Gries guarantee at k=2 over 6 rows: true count − n/(k+1) ≤ est
      assert(got("a") >= 3 - 2 && got.keySet.contains("a"))
    } finally query.stop()
  }

  test("streaming cusum: closed-form alerts fire exactly at the crossing") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val source = MemoryStream[EventsStream.VEvent]
    // target 10, slack 0.10 → effective target 11; h = 5: three +3
    // deviations cross at the second (s = 3, 6, 9 → alerts at 6, 9)
    val query = EventsStream
      .cusumDetect(source.toDS(), Map("a" -> 10.0), h = 5.0)
      .writeStream.format("memory").queryName("cusum_test")
      .outputMode("append").start()
    try {
      source.addData(
        EventsStream.VEvent(1, "a", ts("2024-01-01 10:00:00"), 11.0),
        EventsStream.VEvent(2, "a", ts("2024-01-01 10:01:00"), 11.0))
      query.processAllAvailable()
      assert(spark.table("cusum_test").isEmpty, "in-control values must not alert")
      // state carries across micro-batches: the drift accumulates
      source.addData(
        EventsStream.VEvent(3, "a", ts("2024-01-01 10:02:00"), 14.0),
        EventsStream.VEvent(4, "a", ts("2024-01-01 10:03:00"), 14.0),
        EventsStream.VEvent(5, "a", ts("2024-01-01 10:04:00"), 14.0))
      query.processAllAvailable()
      val got = spark.table("cusum_test")
        .select("event_id", "cusum").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
      assert(got.map(_._1).toSeq == Seq(4L, 5L), got.mkString(","))
      assert(math.abs(got(0)._2 - 6.0) < 1e-9 && math.abs(got(1)._2 - 9.0) < 1e-9)
    } finally query.stop()
  }

  test("streaming cusum drops late cross-batch events instead of folding them out of order") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val source = MemoryStream[EventsStream.VEvent]
    val query = EventsStream
      .cusumDetect(source.toDS(), Map("a" -> 10.0), h = 5.0)
      .writeStream.format("memory").queryName("cusum_late_test")
      .outputMode("append").start()
    try {
      // batch 1 advances the key's high-watermark to 10:03
      source.addData(
        EventsStream.VEvent(1, "a", ts("2024-01-01 10:02:00"), 14.0),
        EventsStream.VEvent(2, "a", ts("2024-01-01 10:03:00"), 14.0))
      query.processAllAvailable()
      // batch 2: a late event (10:01 < watermark) plus an in-order one.
      // If the late event were folded, its +3 deviation would push the
      // in-order event's cusum from 9.0 to 12.0 — assert it stays 9.0
      // and the late event itself never alerts.
      source.addData(
        EventsStream.VEvent(3, "a", ts("2024-01-01 10:01:00"), 14.0),
        EventsStream.VEvent(4, "a", ts("2024-01-01 10:04:00"), 14.0))
      query.processAllAvailable()
      val got = spark.table("cusum_late_test")
        .select("event_id", "cusum").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
      assert(got.map(_._1).toSeq == Seq(2L, 4L), got.mkString(","))
      assert(math.abs(got(1)._2 - 9.0) < 1e-9,
        s"late event must be dropped, not folded: ${got.toSeq}")
    } finally query.stop()
  }

  test("streaming cusum equals the two-phase batch backtest on the corpus") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // the batch entry's per-type in-control means, derived the same way
    val mu = Tables.events(spark, sfDir).groupBy("event_type")
      .agg((sum(col("value").cast("decimal(18,6)")).cast("double") /
        count(lit(1))).as("mu"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("ts"), col("value"))
      .orderBy("ts", "event_id")
      .as[EventsStream.VEvent].collect()
    // feed in two time-ordered chunks so state must carry across batches;
    // a lower h than the entry's 500 so sf0.001 actually alerts
    val h = 100.0
    val source = MemoryStream[EventsStream.VEvent]
    val query = EventsStream.cusumDetect(source.toDS(), mu, h = h)
      .writeStream.format("memory").queryName("cusum_pair_test")
      .outputMode("append").start()
    try {
      val (a, b) = ev.splitAt(ev.length / 2)
      source.addData(a.toIndexedSeq); query.processAllAvailable()
      source.addData(b.toIndexedSeq); query.processAllAvailable()
      val streamed = spark.table("cusum_pair_test")
        .select("event_type", "event_id", "cusum").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      // batch twin at the same h: rebuild the naive prefix form in scala
      val batch = ev.groupBy(_.event_type).toSeq.flatMap { case (tpe, es) =>
        var p = 0L; var m = Long.MaxValue
        es.sortBy(e => (EventsStream.epochMicros(e.ts), e.event_id)).toSeq.flatMap { e =>
          val d = java.math.BigDecimal.valueOf(e.value - mu(tpe) * 1.10)
            .setScale(6, java.math.RoundingMode.HALF_UP)
            .movePointRight(6).longValueExact()
          p += d; m = math.min(m, p)
          val s = p - math.min(0L, m)
          if (s > 100000000L) Some((tpe, e.event_id, s.toDouble / 1e6)) else None
        }
      }.toSet
      assert(streamed == batch,
        s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
      assert(streamed.nonEmpty, "h=100 must alert on sf0.001")
    } finally query.stop()
  }
}
