package graft.streaming

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class EventsStreamSpec extends SparkSpec {

  test("sliding windows: every event in exactly two windows") {
    // each 2h/1h-slide window equals the sum of its two tumbling hours
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
  }

  test("ingest dedup keeps exactly one row per event_id") {
    // every key appears exactly once, and the 7-divisible redelivery
    // simulation cannot create extra rows
    val batch = EventsStream.ingestDedup(spark, sfDir).cache()
    assert(batch.groupBy("event_id").count().filter(col("count") > 1).isEmpty)
    assert(batch.count() == Tables.events(spark, sfDir).select("event_id").distinct().count())
    batch.unpersist()
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

  test("lag-based session boundaries match a driver-side gap walk") {
    // independent model: per user, walk the (ts, event_id)-ordered events
    // and emit every event more than the 30-minute gap after its predecessor
    val gapUs = EventsStream.SessionGapMs * 1000L
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = ev.groupBy(_._2).values.flatMap { rows =>
      rows.sortBy(r => (r._3, r._1)).sliding(2).collect {
        case Array(prev, cur) if cur._3 - prev._3 > gapUs =>
          (cur._1, cur._2, cur._3 - prev._3)
      }
    }.toSet
    val got = EventsStream.sessionBoundaries(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty && got == want,
      s"${got.size} boundaries vs ${want.size} from the walk")
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
}
