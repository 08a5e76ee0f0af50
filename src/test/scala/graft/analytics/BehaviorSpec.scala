package graft.analytics

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class BehaviorSpec extends SparkSpec {

  test("funnel stages shrink monotonically and match a driver model") {
    val f = Behavior.eventsFunnel(spark, sfDir).orderBy("stage_order").collect()
    assert(f.map(_.getString(1)).toSeq == Seq("view", "click", "purchase"))
    val counts = f.map(_.getLong(2)).toSeq
    assert(counts(0) >= counts(1) && counts(1) >= counts(2))
    assert(counts(2) > 0, "corpus has full-funnel users")
    // driver model over the tiny sf: strict first-touch chaining
    val ev = Tables.events(spark, sfDir)
      .select("user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime))
    val byUser = ev.groupBy(_._1)
    def firstAfter(u: Long, tpe: String, after: Long): Option[Long] = {
      val ts = byUser(u).filter(e => e._2 == tpe && e._3 > after).map(_._3)
      if (ts.isEmpty) None else Some(ts.min)
    }
    val tv = byUser.keys.flatMap(u => firstAfter(u, "view", Long.MinValue).map(u -> _)).toMap
    val tc = tv.flatMap { case (u, t) => firstAfter(u, "click", t).map(u -> _) }
    val tp = tc.flatMap { case (u, t) => firstAfter(u, "purchase", t).map(u -> _) }
    assert(counts == Seq(tv.size.toLong, tc.size.toLong, tp.size.toLong))
  }

  test("session metrics reconcile with the boundary entry and the gap rule") {
    val m = graft.streaming.EventsStream.sessionMetrics(spark, sfDir).cache()
    val ev = Tables.events(spark, sfDir)
    // events partition into sessions; session count = users + boundaries
    assert(m.agg(sum("n_events")).head().getLong(0) == ev.count())
    val users = ev.select("user_id").distinct().count()
    val boundaries = graft.streaming.EventsStream
      .sessionBoundaries(spark, sfDir).count()
    assert(m.count() == users + boundaries)
    // session ids are 1..k contiguous per user; durations non-negative
    assert(m.filter(col("duration_us") < 0 || col("session_id") < 1).isEmpty)
    val perUser = m.groupBy("user_id")
      .agg(count(lit(1)).as("k"), max("session_id").as("mx"))
    assert(perUser.filter(col("k") =!= col("mx")).isEmpty)
    m.unpersist()
  }

  test("interarrival quantiles: ordered, positive, below the session gap for the bulk") {
    val q = Behavior.interarrivalQuantiles(spark, sfDir).cache()
    assert(q.count() > 0)
    assert(q.filter(col("q50") <= 0 || col("q90") < col("q50")).isEmpty)
    q.unpersist()
  }

  test("retention: offset-0 is total, cells bounded by cohort size") {
    val r = Behavior.retentionCohorts(spark, sfDir).cache()
    // every cohort's offset-0 row has full retention (the first event is
    // itself activity in the cohort week)
    val w0 = r.filter(col("week_offset") === 0)
    assert(w0.filter(col("n_active") =!= col("cohort_size")).isEmpty)
    assert(w0.filter(col("retention") =!= 1.0).isEmpty)
    assert(r.filter(col("n_active") > col("cohort_size") ||
      col("week_offset") < 0).isEmpty)
    // cohort sizes partition the user base
    val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(w0.agg(sum("cohort_size")).head().getLong(0) == users)
    r.unpersist()
  }

  test("latest-event argmax equals the window row_number formulation, without a window") {
    import org.apache.spark.sql.expressions.Window
    val got = Behavior.latestEventPerUser(spark, sfDir)
    val e = Tables.events(spark, sfDir)
      .filter(col("ts").isNotNull && col("event_id").isNotNull)
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val naive = e.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .join(e.groupBy("user_id").agg(count(lit(1)).as("n_events")), "user_id")
      .select(col("user_id"), col("ts").as("last_ts"),
        col("event_id").as("last_event_id"), col("event_type").as("last_type"),
        col("value").as("last_value"), col("n_events"))
    assert(got.except(naive).isEmpty && naive.except(got).isEmpty)
    // and the argmax path reduces BEFORE the exchange: a partial max on
    // the map side (the shuffle ships per-(task,user) candidates, not
    // events) and no window anywhere
    got.collect()
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Window ["), plan.take(2000))
    assert(plan.contains("partial_max"), plan.take(2000))
  }

  test("rate limit keeps the first 3 per user-day and pushes the limit below the shuffle") {
    val res = Behavior.rateLimitEvents(spark, sfDir).cache()
    val ev = Tables.events(spark, sfDir).filter(col("ts").isNotNull)
      .select("event_id", "user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
    val want = ev.groupBy { case (_, u, ts) =>
      (u, ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate)
    }.flatMap { case (_, g) =>
      g.sortBy { case (id, _, ts) => (ts.getTime, id) }.take(3).map(_._1).toSeq
    }.toSet
    val got = res.select("event_id").collect().map(_.getLong(0)).toSet
    assert(got == want)
    // the drop path must actually fire on this corpus
    assert(got.size < ev.length, s"cap never fired (${ev.length} rows)")
    // seq is within [1, 3] and dense per cell
    assert(res.filter(col("seq") < 1 || col("seq") > 3).isEmpty)
    // WindowGroupLimit in Partial and Final mode: a hot key's events are
    // pre-truncated map-side, the exchange carries survivors only
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
    assert(plan.contains("Partial") && plan.contains("Final"), plan.take(2000))
    res.unpersist()
  }

  test("cumulative users reconcile with first-seen model and end at total distinct") {
    val got = Behavior.cumulativeUsers(spark, sfDir).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    val ev = Tables.events(spark, sfDir)
      .filter(col("ts").isNotNull)
      .select(col("user_id"), to_date(col("ts")).cast("string")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val firstSeen = ev.groupBy(_._1).map { case (_, rs) => rs.map(_._2).min }
    val model = firstSeen.groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1)
    assert(got.map(g => (g._1, g._2)).toSeq == model)
    // cumulative column is the running sum and ends at total distinct users
    got.foldLeft(0L) { case (acc, (_, nu, cum)) =>
      assert(cum == acc + nu); cum
    }
    assert(got.last._3 == ev.map(_._1).distinct.length.toLong)
  }

  test("event transitions: counts reconcile and probabilities normalize per prev") {
    val t = Behavior.eventTransitions(spark, sfDir).cache()
    val ev = Tables.events(spark, sfDir).filter(col("ts").isNotNull)
    // each user's length-k sequence emits exactly k-1 adjacency pairs
    val users = ev.select("user_id").distinct().count()
    assert(t.agg(sum("n_transitions")).head().getLong(0) == ev.count() - users)
    // P(next | prev) sums to 1 within each prev row-group
    t.groupBy("prev_type").agg(sum("p_next").as("p")).collect()
      .foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-4, r.toString))
    // the lag window is user-partitioned, never global
    val plan = t.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition]"), plan.take(1500))
    t.unpersist()
  }

  test("event co-occurrence: pair supports bounded by marginals, lift against a model") {
    val cooc = Behavior.eventCooccurrence(spark, sfDir).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    val ut = Tables.events(spark, sfDir)
      .select("user_id", "event_type").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byType = ut.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val nUsers = ut.map(_._1).distinct.length.toDouble
    val types = byType.keys.toSeq.sorted
    for {
      i <- types.indices; j <- (i + 1) until types.length
      a = types(i); b = types(j)
      both = (byType(a) & byType(b)).size if both > 0
    } {
      val (nBoth, lift) = cooc((a, b))
      assert(nBoth == both.toLong, s"$a/$b")
      val want = both * nUsers / (byType(a).size * byType(b).size)
      assert(math.abs(lift - want) < 1e-4, s"$a/$b lift $lift vs $want")
    }
  }

  test("forward fill: null before first purchase, equal to own value on purchases") {
    val f = Behavior.forwardFill(spark, sfDir).cache()
    val ev = Tables.events(spark, sfDir).filter(col("ts").isNotNull)
    assert(f.count() == ev.count())
    // purchase rows observe their own (rounded) value
    assert(f.filter(col("event_type") === "purchase" &&
      col("filled") =!= col("observed")).isEmpty)
    // rows strictly before a user's first purchase are unfilled; at-or-after
    // rows are filled
    val firstP = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(min(struct(col("ts"), col("event_id"))).as("fp"))
    val j = f.join(Tables.events(spark, sfDir)
        .select(col("event_id"), col("ts")), "event_id")
      .join(firstP, Seq("user_id"), "left")
    assert(j.filter(col("fp").isNull && col("filled").isNotNull).isEmpty)
    assert(j.filter(col("fp").isNotNull &&
      struct(col("ts"), col("event_id")) < col("fp") &&
      col("filled").isNotNull).isEmpty)
    assert(j.filter(col("fp").isNotNull &&
      struct(col("ts"), col("event_id")) >= col("fp") &&
      col("filled").isNull).isEmpty)
    f.unpersist()
  }

  test("chi-square cells: marginals reconcile and contributions are non-negative") {
    val c = Behavior.chiSquareIndependence(spark, sfDir).cache()
    val total = Tables.events(spark, sfDir).count()
    assert(c.agg(sum("observed")).head().getLong(0) == total)
    // expected counts preserve the grand total (up to cell rounding)
    val expSum = c.agg(sum("expected")).head().getDouble(0)
    assert(math.abs(expSum - total) < 1e-3, s"$expSum vs $total")
    assert(c.filter(col("chi2_cell") < 0 || col("expected") <= 0).isEmpty)
    // both parities present for every type (the contingency is complete)
    assert(c.groupBy("event_type").count().filter(col("count") =!= 2).isEmpty)
    c.unpersist()
  }

  test("user type matrix: one row per user, cells reconcile, zeros not nulls") {
    // plan pin FIRST (before .cache() — the cache manager would rewrite
    // later identical plans to an InMemoryTableScan and hide the scan
    // count): the explicit pivot value list means no distinct-discovery
    // job, so the events table is scanned exactly once
    val fresh = Behavior.userTypeMatrix(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(fresh).size == 1, fresh.take(1500))
    val m = Behavior.userTypeMatrix(spark, sfDir).cache()
    val ev = graft.Tables.events(spark, sfDir)
    assert(m.count() == ev.select("user_id").distinct().count())
    val typeCols = Seq("click", "error", "purchase", "signup", "view")
    // row sums cover the corpus; no null cells
    val total = m.select(typeCols.map(c => sum(col(c))): _*).head()
      .toSeq.map(_.asInstanceOf[Long]).sum
    assert(total == ev.count())
    assert(m.filter(typeCols.map(col(_).isNull).reduce(_ || _)).isEmpty)
    // spot-check one cell against a direct count
    val u = m.first().getAs[Long]("user_id")
    val want = ev.filter(col("user_id") === u && col("event_type") === "click").count()
    assert(m.filter(col("user_id") === u).head().getAs[Long]("click") == want)
    m.unpersist()
  }

  test("user event entropy: bounds, monotype zero, and a driver-side recompute") {
    val ent = Behavior.userEventEntropy(spark, sfDir).cache()
    val nUsers = graft.Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(ent.count() == nUsers)
    // 0 <= H <= log2(n_types); monotype users are exactly 0 (with 6dp slack
    // from the per-term rounding)
    assert(ent.filter(col("entropy_bits") < -1e-6 ||
      col("entropy_bits") > log2(col("n_types")) + 1e-5).isEmpty)
    assert(ent.filter(col("n_types") === 1 && col("entropy_bits") =!= 0.0).isEmpty)
    // exact recompute for the busiest user
    val top = ent.orderBy(col("n_events").desc).first()
    val counts = graft.Tables.events(spark, sfDir)
      .filter(col("user_id") === top.getAs[Long]("user_id"))
      .groupBy("event_type").count().collect().map(_.getLong(1))
    val n = counts.sum.toDouble
    val want = counts.map { c =>
      val p = c / n
      BigDecimal(-p * (math.log(p) / math.log(2.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble
    assert(math.abs(top.getAs[Double]("entropy_bits") - want) < 1e-5,
      s"${top.getAs[Double]("entropy_bits")} vs $want")
    ent.unpersist()
  }

  test("event runs: hand-built islands split correctly; corpus lengths reconcile") {
    import spark.implicits._
    def t(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    // user 1: A A B A → runs A:2, B:1, A:1; user 2: B B B → one run of 3
    val ev = Seq(
      (1L, t(0), 1L, "A"), (1L, t(1), 2L, "A"), (1L, t(2), 3L, "B"),
      (1L, t(3), 4L, "A"),
      (2L, t(0), 5L, "B"), (2L, t(1), 6L, "B"), (2L, t(2), 7L, "B"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val r = Behavior.eventRunsFrom(ev).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    assert(r == Set(("A", 1L, 1L), ("A", 2L, 1L), ("B", 1L, 1L), ("B", 3L, 1L)))
    // corpus: run-length-weighted run counts give back per-type event totals
    val fromRuns = Behavior.eventRuns(spark, sfDir)
      .groupBy("event_type").agg(sum(col("run_len") * col("n_runs")).as("n"))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val totals = Tables.events(spark, sfDir).groupBy("event_type").count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(fromRuns == totals)
  }

  test("event debounce: burst collapses to first, exact 300s gap survives") {
    import spark.implicits._
    def t(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    // user 1 type A: 0s kept, 100s dropped (<300s after previous event),
    // 400s kept (exactly 300s after the previous EVENT at 100s — the >=
    // boundary, and the gap-chain-not-throttle semantics: vs the previous
    // KEPT event at 0s the gap would be 400s either way, but vs previous
    // event it is exactly 300)
    val ev = Seq(
      (1L, "A", t(0), 1L), (1L, "A", t(100), 2L), (1L, "A", t(400), 3L),
      (2L, "B", t(0), 4L))
      .toDF("user_id", "event_type", "ts", "event_id")
    val r = Behavior.eventDebounceFrom(ev).collect()
      .map(x => (x.getString(0), (x.getLong(1), x.getLong(2)))).toMap
    assert(r == Map("A" -> ((3L, 2L)), "B" -> ((1L, 1L))))
    // corpus: kept bounded by totals, share consistent
    val c = Behavior.eventDebounce(spark, sfDir).cache()
    assert(c.filter(col("n_kept") > col("n_events") || col("n_kept") < 1).isEmpty)
    assert(c.filter(abs(col("drop_share") -
      round((col("n_events") - col("n_kept")) / col("n_events").cast("double"), 6))
        > lit(1e-9)).isEmpty)
    c.unpersist()
  }

  test("linear attribution: hand-built credit split and corpus credit conservation") {
    import spark.implicits._
    def t(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    // user 1: clicks at 0s and 10s, purchase at 20s → each click 0.5;
    // click at 20s+8d is AFTER the purchase → no credit; user 2: click
    // 8 days before the purchase → outside the 7-day lookback, no credit
    val day = 86400
    val ev = Seq(
      (1L, 1L, "click", t(0)), (2L, 1L, "click", t(10)),
      (3L, 1L, "purchase", t(20)), (4L, 1L, "click", t(20 + 8 * day)),
      (5L, 2L, "click", t(0)), (6L, 2L, "purchase", t(8 * day)))
      .toDF("event_id", "user_id", "event_type", "ts")
    val tmp = java.nio.file.Files.createTempDirectory("attrib").toString
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val r = Behavior.linearAttribution(spark, tmp).collect()
    assert(r.length == 1)
    assert(r(0).getLong(1) == 2L && math.abs(r(0).getDouble(2) - 1.0) < 1e-9)
    // corpus: total credit equals the number of attributed purchases
    // (each purchase with ≥1 window click distributes exactly 1.0, up to
    // per-click 6dp rounding: n_clicks * 5e-7 worst case per purchase)
    val events = Tables.events(spark, sfDir)
    val purch = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("tp"))
    val clk = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("tc"))
    val attributed = purch.join(clk, Seq("user_id"))
      .filter(col("tc") < col("tp") &&
        col("tc") >= col("tp") - expr("INTERVAL 7 DAYS"))
      .select("p_id").distinct().count()
    val totalCredit = Behavior.linearAttribution(spark, sfDir)
      .agg(sum("credit")).head().getDouble(0)
    assert(math.abs(totalCredit - attributed) < attributed * 1e-4 + 1e-6)
  }

  test("rolling active users: sweep-line equals the naive per-day distinct") {
    val got = Behavior.rollingActiveUsers(spark, sfDir).cache()
    // naive model recomputed in Spark: day spine × trailing-window join
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("aday"))
    val spine = ev.agg(min("aday").as("mn"), max("aday").as("mx"))
      .select(explode(sequence(col("mn"), col("mx"))).as("day"))
    val want = spine.join(ev,
        col("aday").between(date_sub(col("day"), 29), col("day")), "left")
      .groupBy("day").agg(countDistinct(col("user_id")).as("active_users"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // series is positive through the corpus span and bounded by user count
    val users = ev.select("user_id").distinct().count()
    assert(got.filter(col("active_users") < 0 || col("active_users") > users).isEmpty)
    got.unpersist()
  }

  test("conversion lag profile: quantiles ordered and n matches the funnel band") {
    val p = Behavior.conversionLagProfile(spark, sfDir).head()
    val n = p.getAs[Long]("n")
    assert(n > 0)
    val Seq(p10, p50, p90) =
      Seq("p10", "p50", "p90").map(p.getAs[Double])
    assert(p10 >= 0 && p10 <= p50 && p50 <= p90)
    // n = users with a purchase strictly after their first view — the
    // driver model recomputed independently
    val ev = Tables.events(spark, sfDir)
      .select("user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime))
    val byUser = ev.groupBy(_._1)
    val want = byUser.count { case (_, xs) =>
      val views = xs.filter(_._2 == "view")
      views.nonEmpty && xs.exists(e => e._2 == "purchase" && e._3 > views.map(_._3).min)
    }
    assert(n == want)
  }

  test("basket pairs: closed-form counts and lift through the kernel") {
    import spark.implicits._
    // 4 baskets: {1,2} ×2, {1,2,3} ×1, {3} ×1 — pair (1,2) in 3 orders,
    // (1,3) and (2,3) in 1 (below support), part counts 1→3, 2→3, 3→2.
    // Duplicate item in order 10 pins the distinct-basket semantics.
    val items = Seq(
      (10L, 1L), (10L, 2L), (10L, 1L),
      (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 2L), (12L, 3L),
      (13L, 3L)).toDF("orderkey", "partkey")
    val out = Behavior.basketPairsFrom(items).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("part_a") == 1L && r.getAs[Long]("part_b") == 2L)
    assert(r.getAs[Long]("pair_orders") == 3L)
    assert(r.getAs[Long]("orders_a") == 3L && r.getAs[Long]("orders_b") == 3L)
    // lift = 3 * 4 / (3 * 3)
    assert(math.abs(r.getAs[Double]("lift") - 12.0 / 9.0) < 1e-6)
  }

  test("session conversion: flags reconcile against a driver-side session walk") {
    val r = Behavior.sessionConversion(spark, sfDir).head()
    val ev = graft.Tables.events(spark, sfDir)
      .select("user_id", "event_id", "ts", "event_type").collect()
      .map { x =>
        val i = x.getTimestamp(2).toInstant
        (x.getLong(0), x.getLong(1),
          i.getEpochSecond * 1000000L + i.getNano / 1000L, x.getString(3))
      }
    val gapUs = graft.streaming.EventsStream.SessionGapMs * 1000L
    val sessions = ev.groupBy(_._1).values.flatMap { xs =>
      val sorted = xs.sortBy(e => (e._3, e._2))
      val buf = scala.collection.mutable.ListBuffer(scala.collection.mutable.ListBuffer(sorted.head))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          if (b._3 - a._3 > gapUs) buf += scala.collection.mutable.ListBuffer(b)
          else buf.last += b
        case _ =>
      }
      buf.map(_.toSeq)
    }.toSeq
    assert(r.getAs[Long]("n_sessions") == sessions.length)
    val withView = sessions.filter(_.exists(_._4 == "view"))
    assert(r.getAs[Long]("n_with_view") == withView.length)
    val converted = withView.count { s =>
      val fv = s.filter(_._4 == "view").map(_._3).min
      s.exists(e => e._4 == "purchase" && e._3 > fv)
    }
    assert(r.getAs[Long]("n_converted") == converted)
  }

  test("repurchase intervals: gap count reconciles, quantiles ordered") {
    val r = Behavior.repurchaseIntervalProfile(spark, sfDir).head()
    // gaps = orders - customers-with-orders (one lag row lost per customer)
    val o = graft.Tables.orders(spark, sfDir)
    val want = o.count() - o.select("o_custkey").distinct().count()
    assert(r.getAs[Long]("n") == want)
    val qs = Seq("p25", "p50", "p75", "p90").map(r.getAs[Double])
    assert(qs.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    assert(qs.head >= 0.0)
  }

  test("activity heatmap: cells partition the corpus, iso dow convention") {
    val h = Behavior.activityHeatmap(spark, sfDir).collect()
    assert(h.length <= 168)
    assert(h.map(_.getAs[Long]("n_events")).sum ==
      graft.Tables.events(spark, sfDir).count())
    assert(h.forall(r => r.getAs[Int]("dow") >= 1 && r.getAs[Int]("dow") <= 7
      && r.getAs[Int]("hour") >= 0 && r.getAs[Int]("hour") <= 23))
    val shares = h.map(_.getAs[Double]("share"))
    assert(math.abs(shares.sum - 1.0) < h.length * 5e-7 + 1e-9)
  }

  test("funnel step lags: strict chaining, medians replay from first-touches") {
    val got = Behavior.funnelStepLags(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n"), r.getAs[Double]("p50"))).toMap
    val ev = graft.Tables.events(spark, sfDir)
      .select("user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).toInstant))
      .map(e => (e._1, e._2, e._3.getEpochSecond * 1000000L + e._3.getNano / 1000L))
    val byUser = ev.groupBy(_._1)
    def p50(xs: Seq[Double]): Double = {
      val s = xs.sorted; val p = (s.length - 1) * 0.5
      val (lo, hi) = (s(p.toInt), s(math.ceil(p).toInt))
      BigDecimal(lo + (p - math.floor(p)) * (hi - lo))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val vc = byUser.flatMap { case (_, xs) =>
      val tv = xs.filter(_._2 == "view").map(_._3).sorted.headOption
      tv.flatMap(v => xs.filter(e => e._2 == "click" && e._3 > v).map(_._3)
        .sorted.headOption.map(c => (v, c)))
    }.toSeq
    val cp = byUser.flatMap { case (_, xs) =>
      val tv = xs.filter(_._2 == "view").map(_._3).sorted.headOption
      val tc = tv.flatMap(v => xs.filter(e => e._2 == "click" && e._3 > v)
        .map(_._3).sorted.headOption)
      tc.flatMap(c => xs.filter(e => e._2 == "purchase" && e._3 > c).map(_._3)
        .sorted.headOption.map(p => (c, p)))
    }.toSeq
    def lags(ps: Seq[(Long, Long)]) = ps.map { case (a, b) =>
      BigDecimal((b - a).toDouble / 1000000.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got("1_view_to_click")._1 == vc.length)
    assert(got("2_click_to_purchase")._1 == cp.length)
    assert(math.abs(got("1_view_to_click")._2 - p50(lags(vc))) < 1e-4)
    assert(math.abs(got("2_click_to_purchase")._2 - p50(lags(cp))) < 1e-4)
  }

  test("ab test zscore: A/A arms partition users, z recomputes from counts") {
    val r = Behavior.abTestZscore(spark, sfDir).head()
    val (nc, nt) = (r.getAs[Long]("n_control"), r.getAs[Long]("n_treatment"))
    val (cc, ct) = (r.getAs[Long]("conv_control"), r.getAs[Long]("conv_treatment"))
    val users = graft.Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    assert(nc + nt == users && nc > 0 && nt > 0)
    assert(cc <= nc && ct <= nt)
    val p = (cc + ct).toDouble / (nc + nt)
    if (p == 0.0 || p == 1.0) {
      // degenerate pooled rate (sf0.001: every user converts): the
      // explicit guard must surface NULL, not an ANSI abort or a NaN
      assert(r.isNullAt(r.fieldIndex("z_score")))
    } else {
      val se = math.sqrt(p * (1 - p) * (1.0 / nc + 1.0 / nt))
      val z = (ct.toDouble / nt - cc.toDouble / nc) / se
      assert(math.abs(r.getAs[Double]("z_score") - z) < 1e-3)
      // hash A/A split: no real effect — anything past 5 sigma is a bug
      assert(math.abs(z) < 5.0, s"z=$z")
    }
  }

  test("top event paths: prefixes match a driver-side replay, shares bounded") {
    val got = Behavior.topEventPaths(spark, sfDir).collect()
    assert(got.nonEmpty && got.length <= 20)
    assert(got.map(_.getAs[Long]("rank")).toSeq == (1L to got.length))
    // replay: first-5 prefix per user from the raw events, same tiebreak
    val ev = graft.Tables.events(spark, sfDir)
      .select("user_id", "event_type", "ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime,
        r.getLong(3)))
    val want = ev.groupBy(_._1).map { case (_, xs) =>
      xs.sortBy(e => (e._3, e._4)).take(5).map(_._2).mkString(">")
    }.groupBy(identity).view.mapValues(_.size).toMap
    got.foreach { r =>
      assert(want(r.getAs[String]("path")) == r.getAs[Long]("n_users"),
        r.getAs[String]("path"))
    }
    // top-1 really is the modal path
    assert(got.head.getAs[Long]("n_users") == want.values.max)
    // each share is 6dp-rounded (±5e-7), so the sum can sit just above 1
    val shares = got.map(_.getAs[Double]("user_share"))
    assert(shares.sum <= 1.0 + got.length * 5e-7 + 1e-9 && shares.forall(_ > 0))
  }

  test("basket pairs: sf corpus pairs are symmetric-ordered and support-bounded") {
    val p = Behavior.basketPartPairs(spark, sfDir).cache()
    assert(p.filter(col("part_a") >= col("part_b")).isEmpty)
    assert(p.filter(col("pair_orders") < 2).isEmpty)
    // pair support can never exceed either side's order count
    assert(p.filter(col("pair_orders") > col("orders_a") ||
      col("pair_orders") > col("orders_b")).isEmpty)
    p.unpersist()
  }
}
