package graft

import graft.operators.{Indicators, Multimodal, Warehouse}
import graft.streaming.{DocStream, TickStream}
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSuite {

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      complete: Boolean = false): Unit = {
    val ckpt = java.nio.file.Files.createTempDirectory(s"ckpt_$name").toString
    val q = df.writeStream
      .outputMode(if (complete) "complete" else "append")
      .format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
  }

  test("streaming windowed agg matches batch counts (complete mode)") {
    val agg = TickStream.windowedAgg(TickStream.eventsStream(spark, sfDir))
    runToMemory(agg, "stream_agg", complete = true)
    val streamed = spark.table("stream_agg")
    val total = streamed.agg(sum("n")).head.getLong(0)
    assert(total == Tables.events(spark, sfDir).count())
    // bucket/type granularity agrees with the batch dual
    val batchBuckets = Warehouse.windowAgg(spark, sfDir).count()
    assert(streamed.count() == batchBuckets)
  }

  test("stateful streaming indicators match batch analyticsFull") {
    val ind = TickStream.statefulIndicators(spark,
      TickStream.eventsStream(spark, sfDir))
    runToMemory(ind.toDF(), "stream_ind")
    val streamed = spark.table("stream_ind")
      .select(col("user_id"), col("event_id"),
        round(col("ema_12"), 6).as("ema_12"),
        round(col("rsi_14"), 4).as("rsi_14"),
        round(col("sma_20"), 4).as("sma_20"))
    val batch = Indicators.analyticsFull(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ema_12"),
        col("rsi_14"), col("sma_20"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0, "streaming != batch rows")
  }

  test("stateful indicators survive across microbatches (incremental state)") {
    import org.apache.spark.sql.functions.round
    // one file per trigger → per-key indicator state must carry across
    // microbatches to match the batch result
    val streamDir = stageTimeOrderedSplit(3)
    val schema = Tables.events(spark, sfDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir)
    runToMemory(TickStream.statefulIndicators(spark, stream).toDF(), "multi_ind")
    val streamed = spark.table("multi_ind")
      .select(col("user_id"), col("event_id"), round(col("ema_12"), 6).as("ema_12"))
    val batch = Indicators.analyticsFull(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ema_12"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0,
      "incremental streaming state diverged from batch")
  }

  test("priceFfillStream emits exactly the batch grid's watermark-complete days") {
    val schema = Tables.events(spark, sfDir).schema
    // the final watermark is max valid event time minus the delay;
    // every grid day strictly before it must have been emitted, and
    // nothing at or past it may be — swept at a minutes-scale delay
    // (one incomplete trailing day) and a days-scale one (several
    // trailing days withheld, the partial-emission boundary)
    val maxTs = Warehouse.validTicks(spark, sfDir)
      .agg(max("ts")).head.getTimestamp(0).getTime
    val batchGrid = Warehouse.priceFfill(spark, sfDir)
    for ((delay, delayMs, nParts) <- Seq(
        ("10 minutes", 10L * 60000L, 2),
        ("10 minutes", 10L * 60000L, 4),
        ("2 days", 2L * 86400000L, 2))) {
      val maxCompleteDay = Math.floorDiv(maxTs - delayMs, 86400000L) - 1L
      val expected = batchGrid
        .filter(datediff(col("trade_date"), lit("1970-01-01")) <= maxCompleteDay)
      assert(expected.count() < batchGrid.count(),
        s"delay $delay withholds nothing — the boundary is untested")
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stageTimeOrderedSplit(nParts))
      val name = s"ffill_${nParts}_${delayMs}"
      runToMemory(TickStream.priceFfillStream(spark, stream, delay).toDF(),
        name)
      val streamed = spark.table(name)
      assert(streamed.count() == expected.count(),
        s"grid row count diverged at $nParts-way split, delay $delay: " +
          s"${streamed.count()} vs ${expected.count()}")
      assert(streamed.exceptAll(expected).count() == 0 &&
        expected.exceptAll(streamed).count() == 0,
        s"ffill grid diverged from batch at $nParts-way split, delay $delay")
      // exactly-once: no grid day may appear twice
      assert(streamed.groupBy("user_id", "trade_date").count()
        .filter(col("count") > 1).count() == 0,
        "a grid day was emitted more than once")
    }
  }

  test("dailyBarStream bars equal all twenty-one batch daily-series surfaces") {
    val schema = Tables.events(spark, sfDir).schema
    val maxTs = Warehouse.validTicks(spark, sfDir)
      .agg(max("ts")).head.getTimestamp(0).getTime
    // batch expected: validated OHLC joined with the Wilder fold and
    // the OBV walk — the three surfaces one bar row carries
    val batchBars = Warehouse.validDailyOhlc(spark, sfDir)
      .select("user_id", "trade_date", "open_price", "high_price",
        "low_price", "close_price", "n_ticks")
      .join(Warehouse.atrWilder(spark, sfDir)
        .select("user_id", "trade_date", "tr", "atr_wilder"),
        Seq("user_id", "trade_date"))
      .join(Warehouse.obv(spark, sfDir)
        .select("user_id", "trade_date", "volume", "signed_vol", "obv"),
        Seq("user_id", "trade_date"))
      .join(Warehouse.keltner(spark, sfDir)
        .select("user_id", "trade_date", "ema_20", "atr_10",
          "kc_upper", "kc_lower"),
        Seq("user_id", "trade_date"))
      .join(Warehouse.adx(spark, sfDir)
        .select("user_id", "trade_date", "di_plus", "di_minus", "dx", "adx"),
        Seq("user_id", "trade_date"))
      // vwap rows only exist where a positive-volume tick traded —
      // the streamed bar reports None there, hence the LEFT join
      .join(Warehouse.vwap(spark, sfDir)
        .select("user_id", "trade_date", "vwap"),
        Seq("user_id", "trade_date"), "left")
      .join(Warehouse.stochastic(spark, sfDir)
        .select("user_id", "trade_date", "pct_k", "pct_d"),
        Seq("user_id", "trade_date"))
      .join(Warehouse.donchian(spark, sfDir)
        .select("user_id", "trade_date", "dc_upper", "dc_lower",
          "dc_mid", "brk_up", "brk_down"),
        Seq("user_id", "trade_date"))
      .join(Warehouse.psar(spark, sfDir)
        .select("user_id", "trade_date", "psar", "trend_up", "reversal"),
        Seq("user_id", "trade_date"))
      .join(Warehouse.cci(spark, sfDir)
        .select("user_id", "trade_date", "cci"),
        Seq("user_id", "trade_date"))
      .join(Warehouse.momentum(spark, sfDir)
        .select("user_id", "trade_date", "willr"),
        Seq("user_id", "trade_date"))
      .join(Warehouse.rsiWilder(spark, sfDir)
        .select("user_id", "trade_date", "rsi_14"),
        Seq("user_id", "trade_date"))
      .join(Warehouse.signalConfluence(spark, sfDir)
        .select("user_id", "trade_date", "bull_score", "bear_score",
          "net_score"),
        Seq("user_id", "trade_date"))
      .join(graft.operators.Forecast.holtForecast(spark, sfDir)
        .select("user_id", "trade_date", "level", "trend", "fcst_next"),
        Seq("user_id", "trade_date"))
      .join(Warehouse.ewmaVol(spark, sfDir)
        .select("user_id", "trade_date", "ewma_vol"),
        Seq("user_id", "trade_date"))
      .join(Warehouse.moneyFlow(spark, sfDir)
        .select("user_id", "trade_date", "mfi", "ad_line"),
        Seq("user_id", "trade_date"))
      .join(Warehouse.cmo(spark, sfDir)
        .select("user_id", "trade_date", "cmo"),
        Seq("user_id", "trade_date"))
      .join(Warehouse.vortex(spark, sfDir)
        .select("user_id", "trade_date", "vi_plus", "vi_minus"),
        Seq("user_id", "trade_date"))
      // holt-winters: the batch seed PEEKS at sessions 6-10 (b5), so
      // its rows 5-9 carry values no causal stream can know yet; the
      // live leg first fires at bar 10 — mask the peeked rows
      .join(graft.operators.Forecast.holtWinters(spark, sfDir)
        .select(col("user_id"), col("trade_date"),
          col("level").as("hw_level"), col("trend").as("hw_trend"),
          col("season").as("hw_season"), col("fcst_next").as("hw_fcst")),
        Seq("user_id", "trade_date"))
      .withColumn("hw_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy("trade_date")))
      .withColumn("hw_level", when(col("hw_rn") >= 10, col("hw_level")))
      .withColumn("hw_trend", when(col("hw_rn") >= 10, col("hw_trend")))
      .withColumn("hw_season", when(col("hw_rn") >= 10, col("hw_season")))
      .withColumn("hw_fcst", when(col("hw_rn") >= 10, col("hw_fcst")))
      .join(Warehouse.stochRsi(spark, sfDir)
        .select(col("user_id"), col("trade_date"), col("stoch_rsi"),
          col("pct_k").as("srsi_k"), col("pct_d").as("srsi_d")),
        Seq("user_id", "trade_date"))
      .join(Warehouse.coppock(spark, sfDir)
        .select("user_id", "trade_date", "roc_sum", "coppock"),
        Seq("user_id", "trade_date"))
      .select("user_id", "trade_date", "open_price", "high_price",
        "low_price", "close_price", "n_ticks", "volume", "tr",
        "atr_wilder", "signed_vol", "obv", "ema_20", "atr_10",
        "kc_upper", "kc_lower", "di_plus", "di_minus", "dx", "adx",
        "vwap", "pct_k", "pct_d", "dc_upper", "dc_lower", "dc_mid",
        "brk_up", "brk_down", "psar", "trend_up", "reversal",
        "cci", "willr", "rsi_14", "bull_score", "bear_score",
        "net_score", "level", "trend", "fcst_next", "ewma_vol",
        "mfi", "ad_line", "cmo", "vi_plus", "vi_minus",
        "hw_level", "hw_trend", "hw_season", "hw_fcst",
        "stoch_rsi", "srsi_k", "srsi_d", "roc_sum", "coppock")
    for ((delay, delayMs, nParts) <- Seq(
        ("10 minutes", 10L * 60000L, 2),
        ("10 minutes", 10L * 60000L, 4),
        ("2 days", 2L * 86400000L, 2))) {
      val maxCompleteDay = Math.floorDiv(maxTs - delayMs, 86400000L) - 1L
      val expected = batchBars
        .filter(datediff(col("trade_date"), lit("1970-01-01")) <= maxCompleteDay)
      assert(expected.count() < batchBars.count(),
        s"delay $delay withholds nothing — the boundary is untested")
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stageTimeOrderedSplit(nParts))
      val name = s"bars_${nParts}_${delayMs}"
      runToMemory(TickStream.dailyBarStream(spark, stream, delay).toDF(), name)
      val streamed = spark.table(name)
      assert(streamed.count() == expected.count(),
        s"bar count diverged at $nParts-way split, delay $delay: " +
          s"${streamed.count()} vs ${expected.count()}")
      assert(streamed.exceptAll(expected).count() == 0 &&
        expected.exceptAll(streamed).count() == 0,
        s"bars diverged from batch at $nParts-way split, delay $delay")
      assert(streamed.groupBy("user_id", "trade_date").count()
        .filter(col("count") > 1).count() == 0,
        "a bar was emitted more than once")
    }
  }

  test("dailyBarStream is identical on the RocksDB state store") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val schema = Tables.events(spark, sfDir).schema
      val delayMs = 10L * 60000L
      val maxTs = Warehouse.validTicks(spark, sfDir)
        .agg(max("ts")).head.getTimestamp(0).getTime
      val maxCompleteDay = Math.floorDiv(maxTs - delayMs, 86400000L) - 1L
      val expected = Warehouse.validDailyOhlc(spark, sfDir)
        .select("user_id", "trade_date", "close_price")
        .filter(datediff(col("trade_date"), lit("1970-01-01")) <= maxCompleteDay)
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stageTimeOrderedSplit(3))
      runToMemory(TickStream.dailyBarStream(spark, stream).toDF(), "rocks_bars")
      val streamed = spark.table("rocks_bars")
        .select("user_id", "trade_date", "close_price")
      assert(streamed.count() == expected.count())
      assert(streamed.exceptAll(expected).count() == 0 &&
        expected.exceptAll(streamed).count() == 0,
        "RocksDB-backed bars diverged from batch")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("priceFfillStream is identical on the RocksDB state store") {
    // same grid, disk-backed state — the per-symbol pending-day state
    // must survive the provider swap untouched
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val schema = Tables.events(spark, sfDir).schema
      val delayMs = 10L * 60000L
      val maxTs = Warehouse.validTicks(spark, sfDir)
        .agg(max("ts")).head.getTimestamp(0).getTime
      val maxCompleteDay = Math.floorDiv(maxTs - delayMs, 86400000L) - 1L
      val expected = Warehouse.priceFfill(spark, sfDir)
        .filter(datediff(col("trade_date"), lit("1970-01-01")) <= maxCompleteDay)
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stageTimeOrderedSplit(3))
      runToMemory(TickStream.priceFfillStream(spark, stream).toDF(),
        "rocks_ffill")
      val streamed = spark.table("rocks_ffill")
      assert(streamed.count() == expected.count())
      assert(streamed.exceptAll(expected).count() == 0 &&
        expected.exceptAll(streamed).count() == 0,
        "RocksDB-backed ffill grid diverged from batch")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("sessionizer state survives every 2..5-way microbatch split") {
    val schema = Tables.events(spark, sfDir).schema
    val batch = Warehouse.sessionize(spark, sfDir)
    val lastIds = batch.groupBy("user_id").agg(max("session_id").as("session_id"))
    for (nParts <- 2 to 5) {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stageTimeOrderedSplit(nParts))
      runToMemory(TickStream.sessionizeStream(spark, stream).toDF(),
        s"sess_$nParts")
      val streamed = spark.table(s"sess_$nParts")
      val closed = batch.join(lastIds, Seq("user_id", "session_id"), "left_anti")
        .select(streamed.columns.map(col): _*)
      assert(streamed.count() == closed.count(),
        s"session counts diverged at $nParts-way split")
      assert(streamed.exceptAll(closed).count() == 0 &&
        closed.exceptAll(streamed).count() == 0,
        s"sessionizer state broke across $nParts microbatches")
    }
  }

  test("out-of-order microbatches are dropped, never corrupt sessions") {
    import spark.implicits._
    // two single-row files delivered NEWEST-first (mtime order):
    // without the late-data guard the old tick would fold into state
    // backwards and emit a session that runs end-before-start
    val streamDir = java.nio.file.Files.createTempDirectory("late_flat")
    def tick(eid: Long, sec: Long) =
      Seq((eid, new java.sql.Timestamp(sec * 1000L), 1L, "view", 10.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val t1 = streamDir.resolve("a.parquet").toString
    val t2 = streamDir.resolve("b.parquet").toString
    tick(1L, 100000L).coalesce(1).write.parquet(t1) // NEW tick, arrives first
    tick(2L, 10L).coalesce(1).write.parquet(t2)     // OLD tick, arrives late
    def onlyParquet(d: String, m: Long): Unit =
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => require(f.setLastModified(m), s"mtime set failed: $f"))
    onlyParquet(t1, 1700000000000L)
    onlyParquet(t2, 1700000060000L)
    val schema = spark.read.parquet(t1).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir.toString + "/*")
    val ss = TickStream.sessionizeStream(spark, stream)
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_late").toString
    val q = ss.toDF().writeStream.outputMode("append")
      .format("memory").queryName("late_sess")
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable(); q.stop()
    // the late tick must NOT have closed a backwards session; the one
    // open session stays in state, so nothing is emitted at all
    val rows = spark.table("late_sess").collect()
    assert(rows.forall(r => !r.getAs[java.sql.Timestamp]("session_end")
      .before(r.getAs[java.sql.Timestamp]("session_start"))),
      "session must never run backwards")
    assert(rows.isEmpty, s"late tick should be dropped, got ${rows.toSeq}")
  }

  test("streaming alerts equal batch q_alerts rows exactly") {
    val alerts = TickStream.alertsStream(spark,
      TickStream.eventsStream(spark, sfDir))
    runToMemory(alerts, "stream_alerts")
    val streamed = spark.table("stream_alerts")
    val batch = Indicators.alerts(spark, sfDir)
      .select(streamed.columns.map(col): _*)
    assert(streamed.count() == batch.count(), "alert row counts differ")
    assert(streamed.exceptAll(batch).count() == 0, "streamed-only alerts")
    assert(batch.exceptAll(streamed).count() == 0, "batch-only alerts")
  }

  test("streamed volatility matches batch analyticsFull volatility") {
    val ind = TickStream.statefulIndicators(spark,
      TickStream.eventsStream(spark, sfDir))
    runToMemory(ind.toDF(), "stream_vol")
    val streamed = spark.table("stream_vol")
      .select(col("user_id"), col("event_id"),
        round(col("volatility"), 4).as("volatility"))
    val batch = Indicators.analyticsFull(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("volatility"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0,
      "streaming volatility != batch volatility")
  }

  test("streaming dedup keeps exactly one row per (user_id, ts)") {
    val dd = TickStream.dedupStream(TickStream.eventsStream(spark, sfDir))
    runToMemory(dd, "stream_dedup")
    val streamed = spark.table("stream_dedup")
    val batchKeys = Warehouse.dedupTicks(spark, sfDir)
      .select("user_id", "ts")
    assert(streamed.count() == batchKeys.count(), "dedup cardinality differs")
    assert(streamed.select("user_id", "ts").exceptAll(batchKeys).count() == 0,
      "streamed dedup key set differs from batch")
  }

  test("streaming sessionize equals batch sessions minus each user's open one") {
    val ss = TickStream.sessionizeStream(spark,
      TickStream.eventsStream(spark, sfDir))
    runToMemory(ss.toDF(), "stream_sess")
    val streamed = spark.table("stream_sess")
    val batch = Warehouse.sessionize(spark, sfDir)
    // the final session per user is still open in state → not emitted
    val lastIds = batch.groupBy("user_id")
      .agg(max("session_id").as("session_id"))
    val closed = batch.join(lastIds, Seq("user_id", "session_id"), "left_anti")
      .select(streamed.columns.map(col): _*)
    assert(streamed.count() == closed.count(), "closed-session counts differ")
    assert(streamed.exceptAll(closed).count() == 0, "streamed-only sessions")
    assert(closed.exceptAll(streamed).count() == 0, "batch-only sessions")
  }

  test("indicator ring equals a full-history fold; late and re-delivered ticks emit nothing") {
    import spark.implicits._
    // 100 ticks of one symbol in five microbatches (the ring wraps),
    // then a tick older than the high-water mark, the next tick, an
    // exact re-delivery of that tick, and the tick after it — one
    // file per trigger, delivered in mtime order
    val price = (1 to 102).map(i => 100.0 + 10.0 * math.sin(i * 0.7) + (i % 7) * 0.13)
    def tick(i: Int) = (i.toLong, new java.sql.Timestamp(i * 60000L), 7L, price(i - 1))
    val late = (1000L, new java.sql.Timestamp(50 * 60000L), 7L, 999.0)
    val deliveries = (0 until 5).map(b => (1 to 20).map(j => tick(b * 20 + j))) ++
      Seq(Seq(late), Seq(tick(101)), Seq(tick(101)), Seq(tick(102)))
    val streamDir = java.nio.file.Files.createTempDirectory("ring_ticks")
    for ((rows, k) <- deliveries.zipWithIndex) {
      val path = streamDir.resolve(f"b$k%02d.parquet").toString
      rows.toDF("event_id", "ts", "user_id", "value").coalesce(1).write.parquet(path)
      new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => require(f.setLastModified(1700000000000L + k * 60000L)))
    }
    val schema = spark.read.parquet(streamDir.resolve("b00.parquet").toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir.toString + "/*")
    runToMemory(TickStream.statefulIndicators(spark, stream).toDF(), "ring_ind")
    val rows = spark.table("ring_ind").as[TickStream.IndicatorRow].collect()
    assert(rows.map(_.event_id).sorted.toSeq == (1L to 102L),
      "the late tick or the re-delivery emitted a row")
    // the fold over the whole price history, in updateIndicators' order
    val (k12, k26) = (2.0 / 13.0, 2.0 / 27.0)
    var (e12, e26, rN, rMean, rM2) = (0.0, 0.0, 0L, 0.0, 0.0)
    val expected = (1 to 102).map { n =>
      val v = price(n - 1)
      e12 = if (n == 1) v else v * k12 + e12 * (1.0 - k12)
      e26 = if (n == 1) v else v * k26 + e26 * (1.0 - k26)
      if (n > 1) {
        val ret = (v - price(n - 2)) / price(n - 2)
        rN += 1
        val d = ret - rMean
        rMean += d / rN
        rM2 += d * (ret - rMean)
      }
      val rsi = if (n >= 15) {
        var (g, l) = (0.0, 0.0)
        for (i <- n - 14 until n) {
          val d = price(i) - price(i - 1)
          g += math.max(d, 0.0)
          l += math.max(-d, 0.0)
        }
        val (gm, lm) = (g / 14.0, l / 14.0)
        Some(if (lm == 0.0) 100.0 else 100.0 - 100.0 / (1.0 + gm / lm))
      } else None
      val sma = if (n >= 20) {
        var sum = 0.0
        for (i <- n - 20 until n) sum += price(i)
        Some(sum / 20.0)
      } else None
      val vol = if (n >= 21) Some(math.sqrt(rM2 / rN) * math.sqrt(252.0)) else None
      n.toLong -> Seq(rsi, sma, if (n >= 12) Some(e12) else None,
        if (n >= 26) Some(e26) else None, vol)
    }.toMap
    def bits(xs: Seq[Option[Double]]) =
      xs.map(_.map(java.lang.Double.doubleToRawLongBits))
    for (r <- rows) {
      val got = Seq(r.rsi_14, r.sma_20, r.ema_12, r.ema_26, r.volatility)
      assert(bits(got) == bits(expected(r.event_id)),
        s"tick ${r.event_id}: streamed $got, full-history fold ${expected(r.event_id)}")
    }
  }

  private type RawTick = (Long, java.sql.Timestamp, Long, Double)

  /** A MemoryStream of (event_id, ts, user_id, value) ticks, and the
    * tick frame over it. */
  private def tickStream() = {
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[RawTick](
      implicitly[org.apache.spark.sql.Encoder[RawTick]], spark.sqlContext)
    (mem, mem.toDF().toDF("event_id", "ts", "user_id", "value"))
  }

  private def startToMemory(df: org.apache.spark.sql.DataFrame, name: String) =
    df.writeStream.outputMode("append").format("memory").queryName(name)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory(s"ckpt_$name").toString)
      .start()

  test("a tick re-delivered inside one microbatch counts once, wherever the batch boundary falls") {
    def tick(i: Int): RawTick =
      (i.toLong, new java.sql.Timestamp(i * 60000L), 7L, 100.0 + i * 0.5 + (i % 3))
    val ticks = (1 to 30).map(tick)
    // 3 h after the last tick: closes the session and shows the state
    val probe = Seq((99L, new java.sql.Timestamp(30 * 60000L + 3 * 3600000L), 7L, 50.0))
    var runs = 0
    def run(deliveries: Seq[RawTick]*): (Seq[String], Seq[String]) = {
      runs += 1
      val (mem, df) = tickStream()
      val qi = startToMemory(TickStream.statefulIndicators(spark, df).toDF(), s"redeliver_ind$runs")
      val qs = startToMemory(TickStream.sessionizeStream(spark, df).toDF(), s"redeliver_sess$runs")
      try (deliveries :+ probe).foreach { d =>
        mem.addData(d)
        qi.processAllAvailable()
        qs.processAllAvailable()
      } finally { qi.stop(); qs.stop() }
      def rows(t: String) = spark.table(t).collect().map(_.toString).sorted.toSeq
      (rows(s"redeliver_ind$runs"), rows(s"redeliver_sess$runs"))
    }
    val clean = run(ticks)
    assert(clean._2.size == 1, s"the probe should close one session: ${clean._2}")
    // tick 12 twice in one microbatch, then split across two
    assert(run(ticks.take(12) ++ ticks.drop(11)) == clean,
      "a re-delivery inside one microbatch was counted")
    assert(run(ticks.take(12), ticks.drop(11)) == clean,
      "a re-delivery across microbatches was counted")
  }

  test("the indicator state decoder compiles once, not once per microbatch") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import spark.implicits._
    // every stateful operator whose state holds a collection. The
    // day-close operators get ticks 1 s apart, all inside their 10 min
    // watermark delay, so their watermark stays 0: it is a literal in
    // their late-row predicate, and a moving one compiles a predicate
    // per microbatch whatever the state encoding
    def ticks(b: Int, stepMs: Long): Seq[RawTick] = (1 to 6).map(j =>
      (b * 6L + j, new java.sql.Timestamp((b * 6L + j) * stepMs), j % 3L, 100.0 + b + j * 0.25))
    def compiled(q: org.apache.spark.sql.streaming.StreamingQuery)(
        feed: Int => Unit): Seq[Long] =
      try (0 until 10).map { b =>
        feed(b)
        q.processAllAvailable()
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      } finally q.stop()
    type Op = org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame
    val tickOps: Seq[(String, Long, Op)] = Seq(
      ("indicators", 60000L, df => TickStream.statefulIndicators(spark, df).toDF()),
      ("ffill", 1000L, df => TickStream.priceFfillStream(spark, df).toDF()),
      ("bars", 1000L, df => TickStream.dailyBarStream(spark, df).toDF()))
    val counts = tickOps.map { case (name, stepMs, op) =>
      val (mem, df) = tickStream()
      val events = df.withColumn("event_type", lit("trade"))
        .withColumn("props", lit(null).cast("string"))
      name -> compiled(startToMemory(op(events), s"compile_$name"))(
        b => mem.addData(ticks(b, stepMs)))
    } :+ {
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Long, Long, String)](
          implicitly[org.apache.spark.sql.Encoder[(String, Long, Long, String)]], spark.sqlContext)
      val docs = mem.toDF().toDF("source", "doc_id", "n_chars", "text")
      "pref_pairs" -> compiled(DocStream.prefPairsStream(spark, docs).toDF()
        .writeStream.outputMode("update").format("memory").queryName("compile_pref")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ckpt_compile_pref").toString)
        .start())(b => mem.addData((1 to 6).map(j =>
          (s"src${j % 2}", b * 6L + j, 20L + j, s"doc $b $j says something plain"))))
    }
    counts.foreach { case (name, c) =>
      assert(c.drop(2).distinct.size == 1,
        s"$name: compilations so far, after each microbatch: $c")
    }
  }

  test("stateful indicators are identical on the RocksDB state store") {
    // the 100 TB streaming backend: state spills to disk instead of
    // living on the JVM heap; results must not change
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ind = TickStream.statefulIndicators(spark,
        TickStream.eventsStream(spark, sfDir))
      runToMemory(ind.toDF(), "rocks_ind")
      val streamed = spark.table("rocks_ind")
        .select(col("user_id"), col("event_id"),
          round(col("ema_12"), 6).as("ema_12"),
          round(col("volatility"), 4).as("volatility"))
      val batch = Indicators.analyticsFull(spark, sfDir)
        .select(col("user_id"), col("event_id"), col("ema_12"), col("volatility"))
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0,
        "RocksDB-backed streaming diverged from batch")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("statefulIndicators rejects invalid ticks like the batch path") {
    import spark.implicits._
    val mixed = Seq(
      (1L, 1L, new java.sql.Timestamp(1000L), 10.0),
      (2L, 1L, new java.sql.Timestamp(2000L), -5.0), // invalid: negative
      (3L, 1L, new java.sql.Timestamp(3000L), 11.0))
      .toDF("event_id", "user_id", "ts", "value")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val out = TickStream.statefulIndicators(spark, mixed).collect()
    assert(out.length == 2, "invalid tick must not enter indicator state")
    assert(out.forall(_.value > 0))
  }

  test("parseTicks drops malformed and invalid messages") {
    import spark.implicits._
    val good = """{"ticker_symbol":"AAPL","current_price":123.4,"volume":10,"trade_datetime":"2024-01-01T00:00:00Z","timestamp":"2024-01-01T00:00:00Z"}"""
    val badPrice = """{"ticker_symbol":"MSFT","current_price":-5.0,"volume":10}"""
    val badVolume = """{"ticker_symbol":"TSLA","current_price":5.0,"volume":-1}"""
    val malformed = """{not json"""
    val parsed = TickStream.parseTicks(
      Seq(good, badPrice, badVolume, malformed).toDF("value"))
    val rows = parsed.collect()
    assert(rows.length == 1 && rows.head.getAs[String]("ticker_symbol") == "AAPL")
  }

  test("parseTicks consumes the exact Kafka wire shape, streamed and batch") {
    // frames shaped EXACTLY like readStream.format("kafka")'s output
    // (kafkaWireSchema: binary key/value + topic/partition/offset/
    // timestamp metadata) — the connector jar isn't in this sandbox,
    // so this pins the whole parse+validate leg against the wire
    // contract; the production swap is the one source line the
    // schema's scaladoc quotes
    val good = """{"ticker_symbol":"AAPL","current_price":123.4,"volume":10,"trade_datetime":"2024-01-01T00:00:00Z","timestamp":"2024-01-01T00:00:00Z"}"""
    val badPrice = """{"ticker_symbol":"MSFT","current_price":-5.0,"volume":10}"""
    val malformed = """{not json"""
    def wireRow(payload: String, off: Long) = org.apache.spark.sql.Row(
      "k".getBytes("UTF-8"), payload.getBytes("UTF-8"), "ticks",
      0, off, new java.sql.Timestamp(1700000000000L + off), 0)
    val rows = java.util.Arrays.asList(
      wireRow(good, 0L), wireRow(badPrice, 1L), wireRow(malformed, 2L))
    val wire = spark.createDataFrame(rows, TickStream.kafkaWireSchema)
    // batch leg
    val parsed = TickStream.parseTicks(wire).collect()
    assert(parsed.length == 1
      && parsed.head.getAs[String]("ticker_symbol") == "AAPL"
      && parsed.head.getAs[Double]("current_price") == 123.4)
    // streamed leg: the same wire frame through a checkpointed query
    // (binary columns round-trip parquet, mtime-ordered like every
    // file-source spec here)
    val srcDir = java.nio.file.Files.createTempDirectory("kwire_src").toString
    wire.coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream.schema(TickStream.kafkaWireSchema)
      .parquet(srcDir)
    val sinkDir = java.nio.file.Files.createTempDirectory("kwire_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("kwire_ckpt").toString
    val q = TickStream.parseTicks(stream)
      .select("ticker_symbol", "current_price", "volume")
      .writeStream.outputMode("append").format("parquet")
      .option("path", sinkDir).option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(sinkDir).collect()
    assert(streamed.length == 1
      && streamed.head.getAs[String]("ticker_symbol") == "AAPL",
      "streamed wire parse must match the batch leg")
  }

  test("modalDedup reconciles with a planted duplicate payload") {
    import spark.implicits._
    import graft.operators.Multimodal
    val got = Multimodal.modalDedup(spark, sfDir).collect()
    assert(got.length == 3)
    val total = Tables.documents(spark, sfDir).count()
    assert(got.map(_.getAs[Long]("n_payloads")).sum == total)
    got.foreach { r =>
      assert(r.getAs[Long]("n_dupes") ==
        r.getAs[Long]("n_payloads") - r.getAs[Long]("n_distinct"))
      assert(r.getAs[Long]("bytes_dupe") <= r.getAs[Long]("bytes_total"))
    }
    // crafted corpus: same payload under doc_ids 0 and 3 (both
    // 'image'), so the image row must report exactly one dupe and
    // its byte mass
    val crafted = Seq((0L, "same payload"), (3L, "same payload"),
      (6L, "unique"), (1L, "audio one"), (2L, "video one"))
      .toDF("doc_id", "text")
    val img = craftedDedup(crafted)("image")
    assert(img == (3L, 2L, 1L, 12L * 2 + 6, 12L), s"got $img")
  }

  test("modalScorecard: exact accounting + cross-frame certainties per modality") {
    import spark.implicits._
    import graft.operators.Multimodal
    val rows = Multimodal.modalScorecard(spark, sfDir).collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[Long]("n_items")).sum ==
      Tables.documents(spark, sfDir).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_exact_dup") ==
        r.getAs[Long]("n_items") - r.getAs[Long]("n_distinct"))
      assert(r.getAs[Long]("exact_dup_ppm") ==
        r.getAs[Long]("n_exact_dup") * 1000000L / r.getAs[Long]("n_items"))
      assert(r.getAs[Boolean]("near_covers_exact_ok"), s"$r")
      assert(r.getAs[Boolean]("canonical_totality_ok"), s"$r")
      assert(r.getAs[Boolean]("pairs_in_clusters_ok"), s"$r")
    }
    // crafted: docs 0/3/6 are 'image'; 0 and 3 share a payload (one
    // exact dup), 6 is disjoint — accounting must read 3/2/1 and the
    // certainties must hold on the planted twin
    val crafted = Seq((0L, "twin payload body"), (3L, "twin payload body"),
      (6L, Seq.tabulate(80)(i => s"z${i * 7}q").mkString(" ")),
      (1L, "audio one"), (2L, "video one")).toDF("doc_id", "text")
    val img = Multimodal.modalScorecardDocs(crafted).collect()
      .find(_.getString(0) == "image").get
    assert(img.getAs[Long]("n_items") == 3 && img.getAs[Long]("n_distinct") == 2
      && img.getAs[Long]("n_exact_dup") == 1, s"$img")
    assert(img.getAs[Boolean]("near_covers_exact_ok")
      && img.getAs[Boolean]("canonical_totality_ok")
      && img.getAs[Boolean]("pairs_in_clusters_ok"))
  }

  test("modalDedupNear sees a perturbed payload exact md5 cannot") {
    import spark.implicits._
    import graft.operators.Multimodal
    val base = Seq.tabulate(200)(i => s"w$i").mkString(" ")
    val perturbed = base.replace(" w100 ", " w100x ") // tiny byte edit
    assert(perturbed != base)
    val disjoint = Seq.tabulate(200)(i => s"z${i * 7}q").mkString(" ")
    // docs 0 and 3 are both 'image' (doc_id % 3 == 0); doc 1 is
    // 'audio' with a payload IDENTICAL to doc 0's
    val docs = Seq((0L, base), (3L, perturbed), (6L, disjoint),
      (1L, base)).toDF("doc_id", "text")
    val got = Multimodal.modalDedupNearDocs(docs).collect()
    // the re-encode survives: (0, 3) pairs inside 'image' at a small
    // hamming — while their md5 fingerprints differ (the exact tier
    // is blind to this pair, which is the family's reason to exist)
    val pair = got.find(r => r.getAs[Long]("doc_a") == 0L
      && r.getAs[Long]("doc_b") == 3L)
    assert(pair.isDefined, s"perturbed pair not flagged: ${got.toSeq}")
    assert(pair.get.getString(0) == "image")
    assert(pair.get.getAs[Int]("hamming") <= Multimodal.ModalHammingMax)
    assert(Multimodal.modalDedupDocs(docs)
      .filter($"modality" === "image").head.getAs[Long]("n_dupes") == 0L,
      "exact tier must NOT see the perturbed pair")
    // blocking is per modality: the identical payload under 'audio'
    // (doc 1) never pairs across modality with doc 0
    got.foreach { r =>
      def m(id: Long) = Seq("image", "audio", "video")((id % 3).toInt)
      assert(m(r.getAs[Long]("doc_a")) == r.getString(0)
        && m(r.getAs[Long]("doc_b")) == r.getString(0),
        s"cross-modality pair leaked: $r")
    }
    assert(!got.exists(r => r.getAs[Long]("doc_a") == 0L
      && r.getAs[Long]("doc_b") == 1L))
    // the disjoint payload stays unflagged (hamming far above the cap)
    assert(!got.exists(r => r.getAs[Long]("doc_a") == 6L
      || r.getAs[Long]("doc_b") == 6L))
  }

  test("modalDedupNear gate: identical payloads are flagged with certainty") {
    import spark.implicits._
    import graft.operators.Multimodal
    // planted exact dup inside 'image' (0, 3) + a video dup (2, 5)
    val docs = Seq((0L, "same payload body here"),
      (3L, "same payload body here"), (6L, "different entirely"),
      (2L, "vid bytes"), (5L, "vid bytes"), (1L, "audio solo"))
      .toDF("doc_id", "text")
    val gate = Multimodal.modalDedupNearGateDocs(spark, docs).collect()
    assert(gate.map(_.getString(0)).toSeq == Seq("audio", "image", "video"))
    val byMod = gate.map(r => r.getString(0) ->
      (r.getAs[Long]("n_exact_dup_pairs"),
        r.getAs[Boolean]("all_exact_dups_flagged"),
        r.getAs[Boolean]("exact_dups_hamming_zero"))).toMap
    assert(byMod("image") == ((1L, true, true)))
    assert(byMod("video") == ((1L, true, true)))
    assert(byMod("audio") == ((0L, true, true))) // vacuous, zero mass
    // and the driver corpus keeps every certainty property green
    val sf = Multimodal.modalDedupNearGate(spark, sfDir).collect()
    assert(sf.length == 3)
    sf.foreach { r =>
      assert(r.getAs[Boolean]("all_exact_dups_flagged")
        && r.getAs[Boolean]("exact_dups_hamming_zero"))
    }
  }

  test("streaming modal near-dup gate: standing certainty, modality isolation") {
    import spark.implicits._
    import graft.operators.Multimodal
    val docs = Tables.documents(spark, sfDir)
    val standing = docs.filter($"doc_id" % 5 =!= 0)
    val bloom = Multimodal.modalChunkBloom(standing)
    val out = DocStream.modalNearDupDocsStream(
      DocStream.docsStream(spark, sfDir), bloom)
    runToMemory(out, "modal_gate")
    val streamed = spark.table("modal_gate")
    assert(streamed.count() == docs.count(), "stateless: one row per doc")
    // no false negatives: every standing doc's own keys are in the
    // bloom, so re-streaming it must flag
    assert(streamed.filter($"doc_id" % 5 =!= 0 && !$"candidate_near_dup")
      .count() == 0, "a standing payload failed to flag")
    // fresh docs are not all flagged (the gate discriminates)
    assert(streamed.filter($"doc_id" % 5 === 0 && !$"candidate_near_dup")
      .count() > 0, "every fresh doc flagged — gate is vacuous")
    // crafted certainty: identical payload + same modality flags;
    // the SAME bytes under another modality do not collide (the
    // modality-prefixed keys), nor does a disjoint payload
    val st2 = Seq((3L, "standing payload body of words")).toDF("doc_id", "text")
    val b2 = Multimodal.modalChunkBloom(st2) // doc 3 → image
    val probed = DocStream.modalNearDupDocsStream(
      Seq((0L, "standing payload body of words"), // image, identical
        (1L, "standing payload body of words"), // audio, identical bytes
        (6L, "entirely different content here")) // image, disjoint
        .toDF("doc_id", "text"), b2)
      .select("doc_id", "candidate_near_dup").as[(Long, Boolean)]
      .collect().toMap
    assert(probed(0L), "identical payload in-modality must flag (certainty)")
    assert(!probed(1L), "identical bytes under another modality must not collide")
    assert(!probed(6L), "disjoint payload flagged — check the key derivation")
  }

  test("modalNearClusters resolves transitive chains and keeps the largest payload") {
    import spark.implicits._
    import graft.operators.Multimodal
    // A~B and B~C are near pairs (single-word edits); A and C differ
    // by two words but must land in ONE cluster via transitivity.
    // All of A/B/C are 'image' (ids ≡ 0 mod 3); D is an unrelated
    // image; E is an audio doc with A's exact payload (cross-modality
    // — must stay its own cluster).
    val base = Seq.tabulate(150)(i => s"tok$i").mkString(" ")
    val b = base.replace(" tok40 ", " tok40x ")
    val c = b.replace(" tok90 ", " tok90y ")
    val d = Seq.tabulate(150)(i => s"other${i * 3}z").mkString(" ")
    val docs = Seq((0L, base), (3L, b), (6L, c), (9L, d), (1L, base))
      .toDF("doc_id", "text")
    val pairs = Multimodal.modalDedupNearDocs(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)) && pairs.contains((3L, 6L)),
      s"chain pairs missing: $pairs")
    val got = Multimodal.modalNearClustersDocs(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getString(0), r.getAs[Long]("cluster_id"),
          r.getAs[Long]("canonical_id"), r.getAs[Boolean]("is_canonical")))
      .toMap
    assert(got.size == 5, "one row per document (totality)")
    // transitive collapse: 0, 3, 6 share one cluster...
    assert(got(0L)._2 == got(3L)._2 && got(3L)._2 == got(6L)._2)
    // ...whose canonical is the LARGEST payload (the perturbed docs
    // grew by one char each: c > b > base), ties impossible here
    assert(got(0L)._3 == 6L && got(6L)._4 && !got(0L)._4 && !got(3L)._4)
    // the unrelated image and the cross-modality twin stay singletons
    assert(got(9L)._2 == 9L && got(9L)._4)
    assert(got(1L)._1 == "audio" && got(1L)._2 == 1L && got(1L)._4)
  }

  test("modal incremental fold equals from-scratch on a cross-split merge") {
    import spark.implicits._
    import graft.operators.Multimodal
    // two standing image clusters {0,3} and {6,9} (within-cluster
    // near pairs), plus an ARRIVING doc 12 near BOTH 3 and 9 — the
    // fold must merge the two standing clusters through the bridge
    val base = Seq.tabulate(160)(i => s"mm$i").mkString(" ")
    val v1 = base.replace(" mm30 ", " mm30a ")
    val far = base.replace(" mm30 ", " mm30a ")
      .replace(" mm80 ", " mm80b ").replace(" mm120 ", " mm120c ")
    val bridge = far.replace(" mm80b ", " mm80 ") // between v1 and far
    val other = Seq.tabulate(160)(i => s"zz${i * 5}w").mkString(" ")
    val docs = Seq((0L, base), (3L, v1), (6L, far), (9L, bridge),
      (12L, v1), (15L, other)).toDF("doc_id", "text")
    val full = Multimodal.modalNearClustersDocs(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    // the planted shape is real: one merged cluster over 0,3,6,9,12
    assert(Set(0L, 3L, 6L, 9L, 12L).map(full) == Set(0L),
      s"planted merge did not form: $full")
    assert(full(15L) == 15L)
    // fold with doc 12 (the bridge's twin) arriving AFTER the split:
    // standing halves {0,3,6,9} resolve first, 12 merges them... the
    // split at 10 keeps 12 and 15 arriving
    val incr = Multimodal.modalNearClustersIncrementalDocs(docs, split = 10L)
      .collect().map(_.toSeq).toSet
    val scratch = Multimodal.modalNearClustersDocs(docs)
      .collect().map(_.toSeq).toSet
    assert(incr == scratch, "fold diverged from the from-scratch resolution")
    // and the gate reads the equality on the driver corpus
    val gate = Multimodal.modalIncrGate(spark, sfDir).collect().head
    assert(gate.getAs[Long]("n_docs") ==
      Tables.documents(spark, sfDir).count())
    assert(gate.getAs[Long]("n_incr_minus_full") == 0L
      && gate.getAs[Long]("n_full_minus_incr") == 0L
      && gate.getAs[Boolean]("incr_equals_batch"))
  }

  test("modalNearClusters gate: totality, masses, dup-pairs-clustered certainty") {
    import spark.implicits._
    import graft.operators.Multimodal
    // two identical image payloads + one identical video pair + a solo
    val docs = Seq((0L, "payload alpha"), (3L, "payload alpha"),
      (2L, "vid beta"), (5L, "vid beta"), (8L, "vid solo"),
      (1L, "audio solo")).toDF("doc_id", "text")
    val gate = Multimodal.modalNearClustersGateDocs(spark, docs).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_dup_groups"), r.getAs[Long]("n_dup_docs"),
        r.getAs[Boolean]("dup_pairs_clustered"))).toMap
    assert(gate("image") == ((2L, 1L, 2L, true)))
    assert(gate("video") == ((3L, 1L, 2L, true)))
    assert(gate("audio") == ((1L, 0L, 0L, true)))
    // driver corpus: every certainty property green, totality holds
    val sf = Multimodal.modalNearClustersGate(spark, sfDir).collect()
    assert(sf.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sfDir).count())
    sf.foreach(r => assert(r.getAs[Boolean]("dup_pairs_clustered")))
  }

  private def craftedDedup(docs: org.apache.spark.sql.DataFrame)
      : Map[String, (Long, Long, Long, Long, Long)] = {
    import graft.operators.Multimodal
    Multimodal.modalDedupDocs(docs).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_payloads"),
        r.getAs[Long]("n_distinct"), r.getAs[Long]("n_dupes"),
        r.getAs[Long]("bytes_total"), r.getAs[Long]("bytes_dupe"))).toMap
  }

  test("multimodal metadata is deterministic and complete") {
    val df = Multimodal.multimodalMeta(spark, sfDir)
    assert(df.count() == Tables.documents(spark, sfDir).count())
    assert(df.filter(!col("modality").isin("image", "audio", "video")).count() == 0)
    assert(df.filter("n_bytes <= 0 OR width < 64 OR height < 64 OR n_frames < 1").count() == 0)
  }

  test("frameSample fits every frame into the 224 box, aspect preserved") {
    val df = Multimodal.frameSample(spark, sfDir)
    assert(df.count() > 0)
    assert(df.filter("out_w > 224 OR out_h > 224").count() == 0)
    assert(df.filter("out_w <> 224 AND out_h <> 224").count() == 0,
      "longest side must hit the box")
    assert(df.filter("frame_idx % 4 <> 0 OR frame_idx < 0").count() == 0)
    // sampled count per doc = ceil(n_frames / 4)
    val bad = df.groupBy("doc_id").count()
      .join(Multimodal.multimodalMeta(spark, sfDir), "doc_id")
      .filter(col("count") =!= ceil(col("n_frames") / 4.0).cast("long"))
    assert(bad.count() == 0)
  }

  test("streaming doc dedup matches the batch fingerprint-distinct set") {
    val out = DocStream.dedupDocsStream(DocStream.docsStream(spark, sfDir))
    runToMemory(out, "doc_dedup")
    val streamed = spark.table("doc_dedup").collect()
    val batchFps = graft.operators.TextOps.fingerprint(spark, sfDir)
      .select("fingerprint").distinct().collect().map(_.getString(0)).toSet
    // one survivor per distinct fingerprint, drawn from the same keys
    assert(streamed.length == batchFps.size)
    val streamedFps = streamed.map(_.getAs[String]("fingerprint"))
    assert(streamedFps.toSet == batchFps)
    assert(streamedFps.length == streamedFps.distinct.length, "dup survived")
    // survivors keep their text so downstream stages can compose
    assert(streamed.forall(_.getAs[String]("text") != null))
  }

  test("doc dedup state carries across microbatches") {
    // the synthetic corpus has NO exact duplicates, so plant verbatim
    // copies of the first 6 docs under shifted ids; 1000000 ≡ 1
    // (mod 3), so a round-robin id%3 split puts every copy in a
    // DIFFERENT file than its original. With one file per trigger the
    // copy arrives in a later microbatch — exactly-one-survivor then
    // proves the dedup state persists across batches.
    val docs = Tables.documents(spark, sfDir)
    val copies = docs.filter(col("doc_id") < 6)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    val all = docs.unionByName(copies)
    val staged = java.nio.file.Files.createTempDirectory("docsplit").toString
    (0 to 2).foreach { p =>
      all.filter(col("doc_id") % 3 === p).coalesce(1)
        .write.parquet(s"$staged/f$p.parquet")
    }
    val streamDir = java.nio.file.Files.createTempDirectory("docflat")
    new java.io.File(staged).listFiles().filter(_.isDirectory).sortBy(_.getName)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (f, i) =>
        val dst = streamDir.resolve(f"part$i%02d.parquet")
        java.nio.file.Files.copy(f.toPath, dst)
        require(dst.toFile.setLastModified(1700000000000L + i * 60000L))
      }
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
    runToMemory(DocStream.dedupDocsStream(stream), "doc_dedup_split")
    val survivors = spark.table("doc_dedup_split")
      .select("fingerprint").collect().map(_.getString(0))
    assert(survivors.length == survivors.distinct.length,
      "a cross-batch duplicate survived twice — state not carried")
    val batchFps = graft.operators.TextOps.fingerprint(spark, sfDir)
      .select("fingerprint").distinct().collect().map(_.getString(0)).toSet
    assert(survivors.toSet == batchFps,
      "survivor set must equal the original distinct-fingerprint set")
    assert(survivors.length == batchFps.size)
  }

  test("streaming line dedup verdicts equal batch, state carries across batches") {
    // the synthetic corpus has NO duplicate lines (every doc is one
    // distinct line), so plant verbatim copies of the first 6 docs
    // under shifted ids and stage them so ALL copies arrive in a LATER
    // microbatch than every original: the stream's first arrival is
    // then the batch dual's min (doc_id, pos) and the verdict maps
    // must agree EXACTLY — which simultaneously proves the line-key
    // state persists across microbatches (the copies' drops depend on
    // state written two batches earlier).
    val docs = Tables.documents(spark, sfDir)
    val copies = docs.filter(col("doc_id") < 6)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    val all = docs.unionByName(copies)
    val staged = java.nio.file.Files.createTempDirectory("linesplit").toString
    Seq(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      copies
    ).zipWithIndex.foreach { case (part, p) =>
      part.coalesce(1).write.parquet(s"$staged/f$p.parquet")
    }
    val streamDir = java.nio.file.Files.createTempDirectory("lineflat")
    new java.io.File(staged).listFiles().filter(_.isDirectory).sortBy(_.getName)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (f, i) =>
        val dst = streamDir.resolve(f"part$i%02d.parquet")
        java.nio.file.Files.copy(f.toPath, dst)
        require(dst.toFile.setLastModified(1700000000000L + i * 60000L))
      }
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
    runToMemory(DocStream.lineDedupDocsStream(spark, stream).toDF, "line_dedup_stream")
    val streamed = spark.table("line_dedup_stream").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("pos")) ->
        (r.getAs[String]("line"), r.getAs[Boolean]("kept"))).toMap
    val batch = graft.operators.Curation.lineMarkedDocs(all).collect()
    assert(streamed.size == batch.length, "row universe must match")
    batch.foreach { r =>
      val k = (r.getAs[Long]("doc_id"), r.getAs[Int]("pos"))
      val (line, kept) = streamed(k)
      assert(line == r.getAs[String]("line"))
      assert(kept == (r.getAs[Int]("rn") == 1), s"verdict diverged at $k")
    }
    // exactly one survivor per distinct line, none of them a copy
    val keptRows = streamed.collect { case ((id, _), (line, true)) => (id, line) }
    assert(keptRows.size == keptRows.map(_._2).toSet.size)
    assert(keptRows.forall(_._1 < 1000000L), "a late copy beat its original")
  }

  test("streaming line dedup is identical on the RocksDB state store") {
    // the line-key store is the stateful operator whose cardinality
    // actually explodes at corpus scale (one entry per distinct line)
    // — prove it on the disk-spilling backend
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = DocStream.lineDedupDocsStream(spark,
        DocStream.docsStream(spark, sfDir))
      runToMemory(out.toDF, "line_dedup_rocks")
      val streamed = spark.table("line_dedup_rocks").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("pos"),
          r.getAs[String]("line"), r.getAs[Boolean]("kept"))).toSet
      val batch = graft.operators.Curation
        .lineMarkedDocs(Tables.documents(spark, sfDir)).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("pos"),
          r.getAs[String]("line"), r.getAs[Int]("rn") == 1)).toSet
      assert(streamed == batch, "RocksDB-backed line dedup diverged")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming ANN serve equals the batch search over all probes") {
    import graft.operators.Similarity
    val corpus = Similarity.vecs(spark, sfDir).toDF("vec_id", "v", "norm")
    val idx = Similarity.pqIndex(spark, sfDir)
    idx.encoded.cache().count(): Unit
    // probe stream: the 5 probe vectors split across 2 microbatches
    val emb = Tables.embeddings(spark, sfDir)
    val staged = java.nio.file.Files.createTempDirectory("annserve").toString
    Seq(emb.filter(col("vec_id") < 3),
      emb.filter(col("vec_id") >= 3 && col("vec_id") < 5))
      .zipWithIndex.foreach { case (p, i) =>
        p.coalesce(1).write.parquet(s"$staged/f$i.parquet")
      }
    val streamDir = java.nio.file.Files.createTempDirectory("annserveflat")
    new java.io.File(staged).listFiles().filter(_.isDirectory).sortBy(_.getName)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (f, i) =>
        val dst = streamDir.resolve(f"part$i%02d.parquet")
        java.nio.file.Files.copy(f.toPath, dst)
        require(dst.toFile.setLastModified(1700000000000L + i * 60000L))
      }
    val probeStream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    val ckpt = java.nio.file.Files.createTempDirectory("annserve_ckpt").toString
    val q = DocStream.annServeStream(probeStream, idx, corpus) { (df, _) =>
      buf.synchronized { buf ++= df.collect().map(_.toString): Unit }
    }.option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    // per-probe independence: the union over microbatches must equal
    // ONE batch search over all five probes, row for row (the same
    // explicit-probe entry — external probe ids never self-exclude)
    val batchProbes = corpus.filter(col("vec_id") < 5)
      .toDF("probe_id", "p_v", "p_norm")
    val batchRows = Similarity.annPqSearchProbes(idx, batchProbes, corpus, 32)
      .collect()
    val batch = batchRows.map(_.toString)
    assert(buf.sorted.toSeq == batch.sorted.toSeq,
      s"streamed ${buf.length} rows vs batch ${batch.length}")
    // with corpus-row probes, each probe's own vector tops its list at
    // cosine 1 — the serve contract never drops an id-colliding match
    batchRows.filter(_.getAs[Int]("rank") == 1).foreach { r =>
      assert(r.getAs[Long]("neighbor_id") == r.getAs[Long]("probe_id"))
      assert(r.getAs[Double]("cosine") == 1.0)
    }
    idx.encoded.unpersist(): Unit
  }

  test("streaming graph-ANN serve equals the batch graph search") {
    import graft.operators.Similarity
    val idx = Similarity.hnswIndex(spark, sfDir, layered = false)
    idx.nodes.cache().count(): Unit
    val emb = Tables.embeddings(spark, sfDir)
    val staged = java.nio.file.Files.createTempDirectory("gserve").toString
    Seq(emb.filter(col("vec_id") < 2),
      emb.filter(col("vec_id") >= 2 && col("vec_id") < 5))
      .zipWithIndex.foreach { case (p, i) =>
        p.coalesce(1).write.parquet(s"$staged/f$i.parquet")
      }
    val streamDir = java.nio.file.Files.createTempDirectory("gserveflat")
    new java.io.File(staged).listFiles().filter(_.isDirectory).sortBy(_.getName)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (f, i) =>
        val dst = streamDir.resolve(f"part$i%02d.parquet")
        java.nio.file.Files.copy(f.toPath, dst)
        require(dst.toFile.setLastModified(1700000000000L + i * 60000L))
      }
    val probeStream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    val ckpt = java.nio.file.Files.createTempDirectory("gserve_ckpt").toString
    val q = DocStream.annHnswServeStream(probeStream,
        () => Similarity.HnswSegmented(idx, Nil)) { (df, _) =>
      buf.synchronized { buf ++= df.collect().map(_.toString): Unit }
    }.option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    val corpus = Similarity.vecs(spark, sfDir).toDF("vec_id", "v", "norm")
    val batchProbes = corpus.filter(col("vec_id") < 5)
      .toDF("probe_id", "p_v", "p_norm")
    val batch = Similarity.annHnswSearchProbes(idx, batchProbes)
      .collect().map(_.toString)
    assert(buf.sorted.toSeq == batch.sorted.toSeq,
      s"streamed ${buf.length} rows vs batch ${batch.length}")
    idx.nodes.unpersist(): Unit
  }

  test("bloom-gated doc dedup stream: standing dups never pass, fresh flow") {
    import graft.operators.{Dedup, TextOps}
    val docs = Tables.documents(spark, sfDir)
      .withColumn("fingerprint", TextOps.fingerprintCol(col("text")))
    val standingIds = docs.filter(col("doc_id") < 400)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bloom = Dedup.fingerprintBloom(docs.filter(col("doc_id") < 400))
    val out = DocStream.dedupDocsStreamGated(
      DocStream.docsStream(spark, sfDir), bloom)
    runToMemory(out, "doc_dedup_gated")
    val survivors = spark.table("doc_dedup_gated")
      .select("doc_id").collect().map(_.getLong(0))
    // no false negatives: nothing from the standing corpus survives
    assert(survivors.forall(id => !standingIds.contains(id)),
      "a standing duplicate passed the gate")
    // fresh docs flow modulo ~fpp false positives (1%; allow slack)
    val nFresh = docs.filter(col("doc_id") >= 400).count()
    assert(survivors.length >= nFresh * 0.95,
      s"only ${survivors.length}/$nFresh fresh docs survived")
    assert(survivors.distinct.length == survivors.length)
  }

  test("streaming tokenizer encodes equal the batch queries on the standing model") {
    import graft.operators.{Bpe, Unigram}
    val docs = Tables.documents(spark, sfDir)
    val merges = Bpe.trainOnDocs(docs)
    val outB = Bpe.encodeDocsWith(DocStream.docsStream(spark, sfDir), merges)
    runToMemory(outB, "doc_bpe_stream")
    val batchB = Bpe.tokenizeDocs(spark, sfDir)
    val streamedB = spark.table("doc_bpe_stream")
    assert(streamedB.count() == batchB.count() && streamedB.count() > 0)
    assert(batchB.exceptAll(streamedB).count() == 0)
    assert(streamedB.exceptAll(batchB).count() == 0)
    val model = Unigram.fitModelDocs(docs)
    val outU = Unigram.encodeDocsWith(DocStream.docsStream(spark, sfDir), model)
    runToMemory(outU, "doc_unigram_stream")
    val batchU = Unigram.tokenizeDocs(spark, sfDir)
    val streamedU = spark.table("doc_unigram_stream")
    assert(streamedU.count() == batchU.count())
    assert(batchU.exceptAll(streamedU).count() == 0)
    assert(streamedU.exceptAll(batchU).count() == 0)
  }

  test("streaming compression verdicts equal the batch ratio query") {
    val out = graft.operators.Curation.compressRatioDocs(DocStream.docsStream(spark, sfDir))
    runToMemory(out, "doc_compress")
    val streamed = spark.table("doc_compress")
    val batch = graft.operators.Curation.compressRatio(spark, sfDir)
    assert(streamed.count() == batch.count() && streamed.count() > 0)
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("streaming gopher verdicts equal the batch quality filter") {
    val out = graft.operators.Curation.gopherNarrowDocs(DocStream.docsStream(spark, sfDir))
    runToMemory(out, "doc_quality")
    val streamed = spark.table("doc_quality")
    val batch = graft.operators.Curation.gopherFilters(spark, sfDir)
    assert(streamed.count() == batch.count())
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("streaming curriculum scores equal the batch difficulty") {
    val (vocab, total) = graft.operators.Curation.curriculumVocab(spark, sfDir)
    val out = DocStream.curriculumScoreStream(
      DocStream.docsStream(spark, sfDir), vocab, total)
    runToMemory(out, "doc_curriculum")
    val streamed = spark.table("doc_curriculum")
    // the stream passes zero-token docs through (NULL difficulty);
    // the batch query drops them — compare the scored population
    val scored = streamed.filter(col("n_tokens") > 0)
    val batch = graft.operators.Curation.curriculum(spark, sfDir)
      .select("doc_id", "n_tokens", "difficulty")
    assert(scored.count() == batch.count(), "scored mass")
    assert(batch.exceptAll(scored).count() == 0, "batch minus stream")
    assert(scored.exceptAll(batch).count() == 0, "stream minus batch")
    // no row swallowed: every arriving doc emits exactly one score row
    assert(streamed.count() == Tables.documents(spark, sfDir).count())
    // OOV fallback: an unseen word scores at the count-1 ceiling
    import spark.implicits._
    val oov = DocStream.curriculumScoreStream(
      Seq((999L, "zzzunseen zzzunseen")).toDF("doc_id", "text"),
      vocab, total).collect().head
    val ceil = BigDecimal(math.log(total.toDouble))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    assert(oov.getLong(1) == 2L, "oov token count")
    assert(oov.getDouble(2) ==
      BigDecimal((ceil * 2 / 2).toDouble)
        .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble,
      "oov ceiling surprisal")
  }

  test("streaming boilerplate scores equal the batch template pass") {
    val templates = graft.operators.Curation.boilerplateTemplates(spark, sfDir)
    assert(templates.nonEmpty, "standing template set is empty")
    val out = DocStream.boilerplateDocsStream(
      DocStream.docsStream(spark, sfDir), templates)
    runToMemory(out, "doc_boiler")
    val streamed = spark.table("doc_boiler")
    val batch = graft.operators.Curation.boilerplate(spark, sfDir)
    assert(streamed.count() == batch.count(), "row mass")
    assert(batch.exceptAll(streamed).count() == 0, "batch minus stream")
    assert(streamed.exceptAll(batch).count() == 0, "stream minus batch")
    // an unseen source scores zero template grams, never crashes
    import spark.implicits._
    val fresh = DocStream.boilerplateDocsStream(
      Seq((999L, "a b a b", "src_new")).toDF("doc_id", "text", "source"),
      templates).collect().head
    assert(fresh.getLong(2) == 2L && fresh.getLong(3) == 0L,
      "unseen source: distinct grams counted, zero template hits")
  }

  test("streaming full-quality chain equals the batch gopher chain") {
    val out = graft.operators.Curation.gopherChainDocs(DocStream.docsStream(spark, sfDir))
    runToMemory(out, "doc_quality_chain")
    val streamed = spark.table("doc_quality_chain")
    val batch = graft.operators.Curation.gopherChain(spark, sfDir)
    assert(streamed.count() == batch.count())
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("streaming anomaly gate equals the batch report under its model") {
    val model = graft.operators.Warehouse
      .anomalyModelOf(Tables.events(spark, sfDir))
      .localCheckpoint(true) // a served model is a standing artifact,
                             // not a live lineage into the stream
    val out = TickStream.anomalyTicksStream(
      TickStream.eventsStream(spark, sfDir), model)
    runToMemory(out, "tick_anomaly")
    val streamed = spark.table("tick_anomaly")
    val batch = graft.operators.Warehouse.anomalyTicks(spark, sfDir)
    assert(batch.count() > 0)
    assert(streamed.count() == batch.count())
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("streaming C4 cleaning verdicts equal the batch query") {
    val out = graft.operators.Curation.c4FiltersDocs(DocStream.docsStream(spark, sfDir))
    runToMemory(out, "doc_c4")
    val streamed = spark.table("doc_c4")
    val batch = graft.operators.Curation.c4Filters(spark, sfDir)
    assert(streamed.count() == batch.count())
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("streaming PII scrub equals the batch redaction") {
    val out = graft.operators.Curation.redactDocs(DocStream.docsStream(spark, sfDir))
    runToMemory(out, "doc_redact")
    val streamed = spark.table("doc_redact")
    val batch = graft.operators.Curation.redactPiiDocs(spark, sfDir)
    assert(streamed.count() == batch.count())
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("streaming FIM rewrites equal the batch transform") {
    val out = graft.operators.Curation.fimDocs(DocStream.docsStream(spark, sfDir))
    runToMemory(out, "doc_fim")
    val streamed = spark.table("doc_fim")
    val batch = graft.operators.Curation.fim(spark, sfDir)
    assert(streamed.count() == batch.count())
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("streaming UL2 pairs equal the batch mixture-of-denoisers") {
    val out = graft.operators.Curation.ul2MixDocs(DocStream.docsStream(spark, sfDir))
    runToMemory(out, "doc_ul2")
    val streamed = spark.table("doc_ul2")
    val batch = graft.operators.Curation.ul2Mix(spark, sfDir)
    assert(streamed.count() == batch.count())
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("streaming mixed-language verdicts equal the batch gate") {
    val out = graft.operators.TextOps.langMixDocs(DocStream.docsStream(spark, sfDir))
    runToMemory(out, "doc_langmix")
    val streamed = spark.table("doc_langmix")
    val batch = graft.operators.TextOps.langMix(spark, sfDir)
    assert(streamed.count() == batch.count())
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("streamed hashed importance scores are bit-identical to batch") {
    val batchDocs = Tables.documents(spark, sfDir)
    val model = graft.operators.Curation.hashedImportanceModel(batchDocs)
    val out = graft.operators.Curation.hashedImportanceScore(
      DocStream.docsStream(spark, sfDir), model)
    runToMemory(out, "doc_importance")
    val streamed = spark.table("doc_importance")
    val batch = graft.operators.Curation.hashedImportanceScore(batchDocs, model)
    assert(streamed.count() == batch.count())
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("streamed classifier scores are bit-identical to batch") {
    import graft.operators.Classifier
    val batchDocs = Tables.documents(spark, sfDir)
    val (model, _) = Classifier.fit(Classifier.featurize(
      batchDocs.filter(pmod(xxhash64(col("doc_id")), lit(5L)) =!= 0L)))
    val out = Classifier.classifierScore(
      DocStream.docsStream(spark, sfDir), model)
    runToMemory(out, "doc_classifier")
    val streamed = spark.table("doc_classifier")
    val batch = Classifier.classifierScore(batchDocs, model)
    assert(streamed.count() == batch.count())
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("classifier maintenance refits at the arrival bar, stays quiet below it") {
    import graft.operators.Classifier
    val docs = Tables.documents(spark, sfDir)
    val total = docs.count()
    def run(bar: Long): Seq[Array[Double]] = {
      val published = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      val ckpt = java.nio.file.Files.createTempDirectory("cmnt_ckpt").toString
      val q = DocStream.classifierMaintainStream(
        DocStream.docsStream(spark, sfDir),
        new Array[Double](Classifier.defaultBuckets + 1),
        () => docs, minNewDocs = bar) { (m, _) =>
        published.synchronized { published += m: Unit }
      }.option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
      published.toSeq
    }
    assert(run(total + 1).isEmpty,
      "a bar above total arrivals must never trigger a refit")
    val pubs = run(total)
    assert(pubs.length == 1, s"expected one refit, got ${pubs.length}")
    val direct = Classifier.fit(Classifier.featurize(docs))._1
    val nDiff = pubs.head.zip(direct).count { case (a, b) => a != b }
    val maxDiff = pubs.head.zip(direct)
      .map { case (a, b) => math.abs(a - b) }.max
    assert(pubs.head.sameElements(direct),
      s"streamed refit diverged from the direct full-history fit: " +
        s"$nDiff/${direct.length} slots differ, max |delta| = $maxDiff")
  }

  test("streamed mixture acceptance equals the batch sample exactly") {
    val rates = graft.operators.Curation.mixtureRates(spark, sfDir)
    val out = graft.operators.Curation.mixtureAcceptDocs(DocStream.docsStream(spark, sfDir), rates)
    runToMemory(out, "doc_mixture")
    val streamed = spark.table("doc_mixture")
      .select("doc_id", "source", "accept_ppm").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.operators.Curation.mixtureSample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch, "streamed accepted set diverged from batch")
    assert(streamed.nonEmpty)
  }

  test("featureExtract emits a normalized embedding per document") {
    val df = Multimodal.featureExtract(spark, sfDir)
    val rows = df.collect()
    assert(rows.length == Tables.documents(spark, sfDir).count())
    rows.foreach { r =>
      val emb = (1 to 8).map(r.getDouble)
      assert(math.abs(emb.sum - 1.0) < 1e-9, "histogram must sum to 1")
    }
    // batched run equals row-at-a-time run (batch shape is transparent)
    val single = Multimodal.featureExtract(spark, sfDir, batchSize = 1).collect()
    assert(rows.map(_.toString).sameElements(single.map(_.toString)))
  }

  test("segmented hnsw serve follows appends published mid-query") {
    import graft.operators.Similarity
    val mainIdx = Similarity.hnswIndex(spark, sfDir)
    mainIdx.nodes.cache().count(): Unit
    var seg = Similarity.HnswSegmented(mainIdx, Nil)
    val emb = Tables.embeddings(spark, sfDir)
    // probes arrive in two microbatches; between them the maintainer
    // publishes a segment holding twins of the SECOND batch's probes
    val staged = java.nio.file.Files.createTempDirectory("hsegserve").toString
    Seq(emb.filter(col("vec_id") < 2),
      emb.filter(col("vec_id") >= 2 && col("vec_id") < 5))
      .zipWithIndex.foreach { case (p, i) =>
        p.coalesce(1).write.parquet(s"$staged/f$i.parquet")
      }
    val streamDir = java.nio.file.Files.createTempDirectory("hsegserveflat")
    new java.io.File(staged).listFiles().filter(_.isDirectory).sortBy(_.getName)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (f, i) =>
        val dst = streamDir.resolve(f"part$i%02d.parquet")
        java.nio.file.Files.copy(f.toPath, dst)
        require(dst.toFile.setLastModified(1700000000000L + i * 60000L))
      }
    val probeStream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Array[org.apache.spark.sql.Row]]
    val ckpt = java.nio.file.Files.createTempDirectory("hsegserve_ckpt").toString
    val q = DocStream.annHnswServeStream(probeStream, () => seg) {
      (df, _) =>
        perBatch.synchronized {
          perBatch += df.collect()
          if (perBatch.length == 1)
            seg = Similarity.hnswAppendSegment(seg,
              emb.filter(col("vec_id") >= 2 && col("vec_id") < 5)
                .select((col("vec_id") + 6000000L).as("vec_id"),
                  col("embedding").cast("array<double>").as("v")))
          (): Unit
        }
    }.option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    assert(perBatch.length == 2, s"expected 2 microbatches, got ${perBatch.length}")
    // batch 1 served BEFORE the segment existed: no twin can appear
    assert(!perBatch(0).exists(_.getAs[Long]("neighbor_id") >= 6000000L),
      "segment results leaked into the pre-append batch")
    // batch 2 serves across main + the published segment: each probe
    // finds its twin at cosine 1 (top-2 — the probe's own corpus
    // vector ties at cosine 1 and wins the id tie-break)
    val byProbe = perBatch(1).groupBy(_.getAs[Long]("probe_id"))
    (2L until 5L).foreach { p =>
      val top2 = byProbe(p).sortBy(_.getAs[Int]("rank")).take(2)
      assert(top2.exists(r => r.getAs[Long]("neighbor_id") == p + 6000000L
          && math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-6),
        s"probe $p: published segment twin missing from ${top2.toSeq}")
    }
    mainIdx.nodes.unpersist(): Unit
  }

  test("streaming hnsw serve equals the batch layered search") {
    import graft.operators.Similarity
    val idx = Similarity.hnswIndex(spark, sfDir)
    idx.nodes.cache().count(): Unit
    val emb = Tables.embeddings(spark, sfDir)
    val staged = java.nio.file.Files.createTempDirectory("hserve").toString
    Seq(emb.filter(col("vec_id") < 2),
      emb.filter(col("vec_id") >= 2 && col("vec_id") < 5))
      .zipWithIndex.foreach { case (p, i) =>
        p.coalesce(1).write.parquet(s"$staged/f$i.parquet")
      }
    val streamDir = java.nio.file.Files.createTempDirectory("hserveflat")
    new java.io.File(staged).listFiles().filter(_.isDirectory).sortBy(_.getName)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      .zipWithIndex.foreach { case (f, i) =>
        val dst = streamDir.resolve(f"part$i%02d.parquet")
        java.nio.file.Files.copy(f.toPath, dst)
        require(dst.toFile.setLastModified(1700000000000L + i * 60000L))
      }
    val probeStream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    val ckpt = java.nio.file.Files.createTempDirectory("hserve_ckpt").toString
    val q = DocStream.annHnswServeStream(probeStream,
        () => Similarity.HnswSegmented(idx, Nil)) { (df, _) =>
      buf.synchronized { buf ++= df.collect().map(_.toString): Unit }
    }.option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    val corpus = Similarity.vecs(spark, sfDir).toDF("vec_id", "v", "norm")
    val batchProbes = corpus.filter(col("vec_id") < 5)
      .toDF("probe_id", "p_v", "p_norm")
    val batch = Similarity.annHnswSearchProbes(idx, batchProbes)
      .collect().map(_.toString)
    assert(buf.sorted.toSeq == batch.sorted.toSeq,
      s"streamed ${buf.length} rows vs batch ${batch.length}")
    idx.nodes.unpersist(): Unit
  }

  test("rolling near-dup stream follows an epoch rotation mid-query") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sfDir)
    val sigs = docs
      .select(col("doc_id"), Dedup.sigCol(col("text")).as("sig"))
      .filter(col("sig").isNotNull)
    // window 1: the standing corpus is ONE epoch at a time — slice A
    // (docs 0-199) now, slice B (docs 200-399) after the rotation
    var gate = Dedup.emptyRollingGate(windowEpochs = 1, capacity = 400L)
    gate = Dedup.rollingGateAppend(gate,
      sigs.filter(col("doc_id") < 200), 1L)
    // probes: the same A∪B docs arrive in two microbatches (identical
    // content, distinct files) — the rotation between them is the
    // only thing that can change the flags
    val probeDocs = docs.filter(col("doc_id") < 400)
      .select("doc_id", "text", "source", "lang")
    val srcDir = java.nio.file.Files.createTempDirectory("ndr_src").toString
    probeDocs.coalesce(1).write.mode("append").parquet(srcDir)
    probeDocs.coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream.schema(probeDocs.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Boolean]]
    val ckpt = java.nio.file.Files.createTempDirectory("ndr_ckpt").toString
    val q = DocStream.nearDupDocsStreamRolling(stream, () => gate) { (df, _) =>
      perBatch.synchronized {
        perBatch += df.select("doc_id", "candidate_near_dup").collect()
          .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
        // rotate AFTER the first batch: epoch 2 replaces epoch 1
        if (perBatch.length == 1)
          gate = Dedup.rollingGateAppend(gate,
            sigs.filter(col("doc_id") >= 200 && col("doc_id") < 400), 2L)
        (): Unit
      }
    }.option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    assert(perBatch.length == 2, s"expected 2 microbatches, got ${perBatch.length}")
    val sigIds = sigs.select("doc_id").collect().map(_.getLong(0)).toSet
    // batch 1 probed epoch A: every A doc self-collides and must flag
    sigIds.filter(_ < 200L).foreach(id =>
      assert(perBatch(0)(id), s"epoch-A doc $id missed pre-rotation"))
    // batch 2 probed epoch B only: every B doc flags, and A docs that
    // genuinely near-dup nothing in B decay to the compound fpp
    sigIds.filter(id => id >= 200L && id < 400L).foreach(id =>
      assert(perBatch(1)(id), s"epoch-B doc $id missed post-rotation"))
    val aFlagsAfter = sigIds.filter(_ < 200L).count(perBatch(1))
    val aFlagsBefore = sigIds.filter(_ < 200L).count(perBatch(0))
    assert(aFlagsAfter < aFlagsBefore,
      s"rotation had no effect: $aFlagsBefore -> $aFlagsAfter A-docs flagged")
  }

  test("rolling exact-dedup stream follows an epoch rotation mid-query") {
    import graft.operators.{Dedup, TextOps}
    val docs = Tables.documents(spark, sfDir)
    val fps = docs
      .select(col("doc_id"), TextOps.fingerprintCol(col("text")).as("fingerprint"))
      .filter(col("fingerprint").isNotNull)
    def slice(lo: Long, hi: Long) =
      fps.filter(col("doc_id") >= lo && col("doc_id") < hi)
    var gate = Dedup.emptyRollingExactGate(windowEpochs = 1, capacity = 400L)
    gate = Dedup.rollingExactGateAppend(gate, slice(0, 200), 1L)
    val probeDocs = docs.filter(col("doc_id") < 400)
      .select("doc_id", "text", "source", "lang")
    val srcDir = java.nio.file.Files.createTempDirectory("der_src").toString
    probeDocs.coalesce(1).write.mode("append").parquet(srcDir)
    probeDocs.coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream.schema(probeDocs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Boolean]]
    val ckpt = java.nio.file.Files.createTempDirectory("der_ckpt").toString
    val q = DocStream.dedupDocsStreamRolling(stream, () => gate) { (df, _) =>
      perBatch.synchronized {
        perBatch += df.select("doc_id", "candidate_dup").collect()
          .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
        if (perBatch.length == 1)
          gate = Dedup.rollingExactGateAppend(gate, slice(200, 400), 2L)
        (): Unit
      }
    }.option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    assert(perBatch.length == 2, s"expected 2 microbatches, got ${perBatch.length}")
    val fpIds = fps.select("doc_id").collect().map(_.getLong(0)).toSet
    fpIds.filter(_ < 200L).foreach(id =>
      assert(perBatch(0)(id), s"epoch-1 fingerprint $id missed pre-rotation"))
    fpIds.filter(id => id >= 200L && id < 400L).foreach(id =>
      assert(perBatch(1)(id), s"epoch-2 fingerprint $id missed post-rotation"))
    val before = fpIds.filter(_ < 200L).count(perBatch(0))
    val after = fpIds.filter(_ < 200L).count(perBatch(1))
    assert(after < before,
      s"rotation had no effect on exact flags: $before -> $after")
  }

  test("gate maintenance RESUMED from a saved gate equals the continuous run") {
    // the durability leg for the gate tier, mirroring the cluster-state
    // restart spec: maintain over days 1-2, persist the published gate
    // via saveRollingGate, reload it as `initial` for a fresh stream
    // that sees only day 3, and the final gate must match the unbroken
    // 3-day run — same retained epochs, same probe verdicts. This
    // exercises what the load must get right: the epoch high-water
    // mark re-derives from the loaded epochs (day 3 seals 19001, not a
    // re-seal of 19000), and the reloaded filters' bit layouts merge
    // with freshly built ones (the fixed-capacity contract).
    import graft.operators.Dedup
    val dayMs = 86400000L
    val sigs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), Dedup.sigCol(col("text")).as("sig"))
      .filter(col("sig").isNotNull)
    def sliceOf(e: Long) = {
      val d = e - 19000L
      sigs.filter(col("doc_id") >= d * 100 && col("doc_id") < (d + 1) * 100)
    }
    val dayExpr = (lit(19000L) + floor(col("doc_id") / 100)).cast("long")
    val staged = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 300)
      .select(col("doc_id"), col("text"),
        ((dayExpr * lit(86400L)) + lit(3600L)).cast("timestamp").as("ts"))
    def stageDays(days: Range, tag: String): String = {
      val srcDir = java.nio.file.Files.createTempDirectory(s"grs_$tag")
      days.foreach { d =>
        val f = java.nio.file.Files.createTempDirectory(s"grs_${tag}_f$d")
          .resolve("w").toString
        staged.filter(col("doc_id") >= d * 100 && col("doc_id") < (d + 1) * 100)
          .coalesce(1).write.parquet(f)
        new java.io.File(f).listFiles().filter(_.getName.endsWith(".parquet"))
          .zipWithIndex.foreach { case (p, i) =>
            val dst = srcDir.resolve(f"part$d%02d$i%02d.parquet")
            java.nio.file.Files.copy(p.toPath, dst)
            require(dst.toFile.setLastModified(1700000000000L + d * 60000L + i))
          }
      }
      srcDir.toString
    }
    def run(days: Range, init: Dedup.RollingBandGate,
        tag: String): Option[Dedup.RollingBandGate] = {
      val stream = spark.readStream.schema(staged.schema)
        .option("maxFilesPerTrigger", "1").parquet(stageDays(days, tag))
      val published = scala.collection.mutable.ArrayBuffer
        .empty[Dedup.RollingBandGate]
      val ckpt = java.nio.file.Files.createTempDirectory(s"grs_${tag}_ck").toString
      val q = DocStream.rollingGateMaintainStream(stream, init,
        dayMs, "ts", sliceOf) { (g, _) =>
        published.synchronized { published += g: Unit }
      }.option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
      published.lastOption
    }
    def flags(g: Dedup.RollingBandGate): Map[Long, Boolean] = {
      val hit = Dedup.bandKeyHitSharded(spark, g.serving)
      sigs.filter(col("doc_id") < 300).withColumn("f", hit(col("sig")))
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("f")).toMap
    }
    val empty = Dedup.emptyRollingGate(windowEpochs = 2, capacity = 400L)
    val cont = run(0 until 3, empty, "cont").get
    val mid = run(0 until 2, empty, "mid").get
    assert(mid.epochs.map(_._1) == Vector(19000L), "days 1-2 seal day 1 only")
    val gatePath = java.nio.file.Files.createTempDirectory("grs_state")
      .toString + "/gate"
    Dedup.saveRollingGate(spark, mid, gatePath)
    val resumed = run(2 until 3, Dedup.loadRollingGate(spark, gatePath),
      "res").get
    assert(resumed.epochs.map(_._1) == cont.epochs.map(_._1),
      s"resumed retained ${resumed.epochs.map(_._1)}, " +
        s"continuous ${cont.epochs.map(_._1)}")
    assert(flags(resumed) == flags(cont),
      "gate resumed from disk probes differently than the continuous run")
  }

  test("rolling gate maintenance seals epochs off the stream's own clock") {
    import graft.operators.Dedup
    val sigs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), Dedup.sigCol(col("text")).as("sig"))
      .filter(col("sig").isNotNull)
    val dayMs = 86400000L
    // three ingest "days": docs 0-99 on epoch day 19000, 100-199 on
    // 19001, 200-299 on 19002 — one file per day, arriving in order
    val dayExpr = (lit(19000L) + floor(col("doc_id") / 100)).cast("long")
    val staged = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 300)
      .select(col("doc_id"), col("text"),
        ((dayExpr * lit(86400L)) + lit(3600L)).cast("timestamp").as("ts"))
    val srcDir = java.nio.file.Files.createTempDirectory("rgm_src")
    (0 until 3).foreach { d =>
      val f = java.nio.file.Files.createTempDirectory(s"rgm_f$d")
        .resolve("w").toString
      staged.filter(col("doc_id") >= d * 100 && col("doc_id") < (d + 1) * 100)
        .coalesce(1).write.parquet(f)
      new java.io.File(f).listFiles().filter(_.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (p, i) =>
          val dst = srcDir.resolve(f"part$d%02d$i%02d.parquet")
          java.nio.file.Files.copy(p.toPath, dst)
          require(dst.toFile.setLastModified(1700000000000L + d * 60000L + i))
        }
    }
    val stream = spark.readStream.schema(staged.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    def sliceOf(e: Long) = {
      val d = e - 19000L
      sigs.filter(col("doc_id") >= d * 100 && col("doc_id") < (d + 1) * 100)
    }
    val published = scala.collection.mutable.ArrayBuffer.empty[(Long, Dedup.RollingBandGate)]
    val ckpt = java.nio.file.Files.createTempDirectory("rgm_ckpt").toString
    val q = DocStream.rollingGateMaintainStream(stream,
      Dedup.emptyRollingGate(windowEpochs = 1, capacity = 400L),
      dayMs, "ts", sliceOf) { (g, e) =>
      published.synchronized { published += e -> g: Unit }
    }.option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    // day 19000 seals when the clock enters 19001; 19001 when it
    // enters 19002; 19002 never seals — the stream never left it, so
    // probes must never flag against the half-built epoch
    assert(published.map(_._1).toSeq == Seq(19000L, 19001L),
      s"sealed epochs were ${published.map(_._1)}")
    assert(published.head._2.epochs.map(_._1) == Vector(19000L))
    val finalGate = published.last._2
    assert(finalGate.epochs.map(_._1) == Vector(19001L),
      "window-1 rotation must have evicted day 19000")
    val hit = Dedup.bandKeyHitSharded(spark, finalGate.serving)
    val flags = sigs.filter(col("doc_id") < 300)
      .withColumn("f", hit(col("sig"))).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("f")).toMap
    flags.keys.filter(id => id >= 100L && id < 200L).foreach(id =>
      assert(flags(id), s"doc $id of the retained epoch missed"))
    val dayFlagRate = (lo: Long, hi: Long) => {
      val ids = flags.keys.filter(id => id >= lo && id < hi).toSeq
      ids.count(flags).toDouble / math.max(ids.size, 1)
    }
    assert(dayFlagRate(0L, 100L) < 0.5,
      "evicted epoch 19000 still flags wholesale")
    assert(dayFlagRate(200L, 300L) < 0.5,
      "unsealed epoch 19002 flags — a half-built epoch leaked into serving")
  }

  test("generic maintain loop: state threads through quiet batches, emissions publish in order") {
    val streamDir = stageTimeOrderedSplit(3)
    val schema = Tables.events(spark, sfDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir)
    val published = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("gml_ckpt").toString
    // state = (rows folded so far, batches seen); batch 1 publishes
    // nothing, batch 2 publishes twice, batch 3 once — the three
    // cadences the concrete loops use (quiet trigger, per-epoch
    // multi-publish, once-per-batch)
    val q = TickStream.maintainStream(stream, (0L, 0)) {
      case ((rows, batches), batch, _) =>
        val next = (rows + batch.count(), batches + 1)
        val out = next._2 match {
          case 1 => Nil
          case 2 => Seq(s"a:${next._1}", s"b:${next._1}")
          case _ => Seq(s"c:${next._1}")
        }
        (next, out)
    } { (p, bid) => published.synchronized { published += p -> bid: Unit } }
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    assert(published.map(_._2).toSeq == Seq(1L, 1L, 2L),
      s"publication batch ids were ${published.map(_._2)} — batch 0 " +
        "must stay quiet, batch 1 must publish both emissions")
    assert(published.map(_._1.head).toSeq == Seq('a', 'b', 'c'),
      "same-batch emissions must publish in emission order")
    // both batch-1 emissions carry the same already-swapped state,
    // and the final emission saw every row including batch 0's —
    // the quiet batch still folded
    assert(published(0)._1.drop(2) == published(1)._1.drop(2))
    assert(published.last._1 == s"c:${Tables.events(spark, sfDir).count()}")
  }

  test("near-dup gate stream flags identically to batch, stateless") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sfDir)
    val standing = docs.filter(col("doc_id") < 400)
      .select(col("doc_id"), Dedup.sigCol(col("text")).as("sig"))
    val bloom = Dedup.bandBloom(standing)
    val batchDocs = docs.filter(col("doc_id") >= 350)
      .select("doc_id", "text", "source", "lang")
    val srcDir = java.nio.file.Files.createTempDirectory("ndg_src").toString
    batchDocs.filter(col("doc_id") < 450).coalesce(1)
      .write.mode("append").parquet(srcDir)
    batchDocs.filter(col("doc_id") >= 450).coalesce(1)
      .write.mode("append").parquet(srcDir)
    val stream = spark.readStream.schema(batchDocs.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val sinkDir = java.nio.file.Files.createTempDirectory("ndg_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ndg_ckpt").toString
    val q = DocStream.nearDupDocsStream(stream, bloom)
      .select("doc_id", "candidate_near_dup")
      .writeStream.outputMode("append").format("parquet")
      .option("path", sinkDir).option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(sinkDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("candidate_near_dup"))
      .sorted.toSeq
    val batch = DocStream.nearDupDocsStream(batchDocs, bloom)
      .select("doc_id", "candidate_near_dup").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("candidate_near_dup"))
      .sorted.toSeq
    assert(streamed == batch, "streamed flags diverge from batch")
    assert(streamed.count(_._2) > 0, "overlap docs must flag")
  }

  test("hnsw maintenance stream appends each microbatch into the standing index") {
    import graft.operators.Similarity
    val idx0 = Similarity.hnswIndex(spark, sfDir)
    idx0.nodes.cache().count(): Unit
    val n0 = idx0.nodes.count()
    val emb = Tables.embeddings(spark, sfDir)
    // ingest: twins of the 5 probe vectors at fresh ids, arriving as
    // two microbatches
    val twins = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 3000000L).as("vec_id"), col("embedding"))
    val srcDir = java.nio.file.Files.createTempDirectory("hmnt_src").toString
    twins.filter(col("vec_id") < 3000003L).coalesce(1)
      .write.mode("append").parquet(srcDir)
    twins.filter(col("vec_id") >= 3000003L).coalesce(1)
      .write.mode("append").parquet(srcDir)
    val stream = spark.readStream.schema(twins.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    var live: Similarity.HnswIndex = idx0
    val ckpt = java.nio.file.Files.createTempDirectory("hmnt_ckpt").toString
    // a bar of one segment: every microbatch appends straight into main
    val q = DocStream.hnswSegmentMaintainStream(stream,
      Similarity.HnswSegmented(idx0, Nil), maxSegments = 1) { (t, bid) =>
      assert(t.segments.isEmpty, s"batch $bid opened a segment")
      live = t.main
      seen += t.main.nodes.count()
    }.option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    // the index grew batch by batch, exactly once per arrival
    assert(seen.toSeq == Seq(n0 + 3, n0 + 5), s"growth was $seen")
    assert(live.nodes.select("vec_id").distinct().count() == n0 + 5)
    // serve from the maintained hierarchy: every planted twin is its
    // probe's rank-1 neighbor at cosine 1
    val corpus = Similarity.vecs(spark, sfDir).toDF("vec_id", "v", "norm")
    val res = Similarity.annHnswSearch(live, corpus).collect()
    val byProbe = res.groupBy(_.getAs[Long]("probe_id"))
    (0L until 5L).foreach { p =>
      val top = byProbe(p).minBy(_.getAs[Int]("rank"))
      assert(top.getAs[Long]("neighbor_id") == p + 3000000L,
        s"probe $p: expected its streamed twin first, got $top")
      assert(math.abs(top.getAs[Double]("cosine") - 1.0) < 1e-6)
    }
    idx0.nodes.unpersist(): Unit
  }

  test("components maintenance stream folds pair batches into standing labels") {
    import graft.operators.Dedup
    import spark.implicits._
    // standing artifact: clusters {1,2,3} and {10,11}, singleton 21
    val standing = Dedup.connectedComponents(
      Seq(1L, 2L, 3L, 10L, 11L, 21L).toDF("id"),
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst"))
      .localCheckpoint(eager = true)
    // batch 1: only-new cluster (30,31) + new min 0 joining cluster 1;
    // batch 2: the CROSS-BATCH merge the incremental tier exists for —
    // one edge joins the two standing clusters
    val b1 = Seq((30L, 31L), (0L, 1L)).toDF("src", "dst")
    val b2 = Seq((3L, 10L)).toDF("src", "dst")
    val srcDir = java.nio.file.Files.createTempDirectory("cmnt_src").toString
    b1.coalesce(1).write.mode("append").parquet(srcDir)
    b2.coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    var live = standing
    var generations = 0
    val ckpt = java.nio.file.Files.createTempDirectory("cmnt_ckpt").toString
    val q = DocStream.componentsMaintainStream(stream, standing) { (labels, _) =>
      live = labels
      generations += 1
    }.option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    assert(generations == 2, s"one publication per microbatch, got $generations")
    val got = live.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = Dedup.connectedComponents(
        Seq(0L, 1L, 2L, 3L, 10L, 11L, 21L, 30L, 31L).toDF("id"),
        Seq((1L, 2L), (2L, 3L), (10L, 11L), (30L, 31L), (0L, 1L), (3L, 10L))
          .toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == scratch, "streamed fold diverges from from-scratch labels")
    assert(got(11L) == 0L, "cross-batch merge must relabel to the new min")
    assert(got(21L) == 21L, "untouched singleton must keep its label")
  }

  test("canonical maintenance stream folds labels AND representatives per batch") {
    import graft.operators.Dedup
    import spark.implicits._
    // standing: clusters {1,2,3} and {10,11}, singleton 21; id 10 has
    // the dominant score so the batch-2 merge must move the merged
    // cluster's representative
    val standing = Dedup.connectedComponents(
      Seq(1L, 2L, 3L, 10L, 11L, 21L).toDF("id"),
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst"))
      .localCheckpoint(eager = true)
    val allIds = Seq(0L, 1L, 2L, 3L, 10L, 11L, 21L, 30L, 31L)
    val scores = allIds.map(i => (i, if (i == 10L) 999.0 else i.toDouble))
      .toDF("doc_id", "score").localCheckpoint(eager = true)
    val emptyCanon = Seq.empty[(Long, Long, Long, Boolean)]
      .toDF("doc_id", "cluster_id", "canonical_id", "is_canonical")
    val canon0 = Dedup.updateCanonical(emptyCanon, standing,
      standing.select(col("label").as("cluster_id")).distinct(), scores)
      .localCheckpoint(eager = true)
    val b1 = Seq((30L, 31L), (0L, 1L)).toDF("src", "dst")
    val b2 = Seq((3L, 10L)).toDF("src", "dst")
    val srcDir = java.nio.file.Files.createTempDirectory("canmnt_src").toString
    b1.coalesce(1).write.mode("append").parquet(srcDir)
    b2.coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    var live: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
      (standing, canon0)
    val ckpt = java.nio.file.Files.createTempDirectory("canmnt_ckpt").toString
    val q = DocStream.canonicalMaintainStream(stream, standing, canon0, scores) {
      (pair, _) => live = pair
    }.option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    val (labels, canon) = live
    // from-scratch dual over the union graph
    val scratchLabels = Dedup.connectedComponents(
      allIds.toDF("id"),
      Seq((1L, 2L), (2L, 3L), (10L, 11L), (30L, 31L), (0L, 1L), (3L, 10L))
        .toDF("src", "dst"))
    val scratchCanon = Dedup.updateCanonical(emptyCanon, scratchLabels,
      scratchLabels.select(col("label").as("cluster_id")).distinct(), scores)
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    assert(rows(canon) == rows(scratchCanon),
      "streamed canonical fold diverges from from-scratch")
    val byDoc = rows(canon).map(t => t._1 -> t).toMap
    assert(byDoc(0L)._3 == 10L && byDoc(10L)._4,
      "merged cluster must elect the dominant absorbed member")
    assert(byDoc(21L) == ((21L, 21L, 21L, true)), "untouched singleton carried")
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      scratchLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("canonical maintenance stream RESUMED from saved cluster state equals the continuous run") {
    // The durability leg of the maintainStream contract for the
    // cluster-state tier: fold batches 1-2, persist the published
    // (labels, canonical) pair via saveClusterState, reload it as
    // `initial` for a FRESH stream that folds batch 3, and assert the
    // result is bit-equal to the unbroken 3-batch run — restart from
    // the last durable generation loses nothing. Mirrors the registry
    // tier's aged-restart spec; batch 3 deliberately merges ACROSS
    // the save point (it joins a pre-save cluster to the post-save
    // singleton AND brings a brand-new vertex) so a stale or lossy
    // reload cannot pass.
    import graft.operators.Dedup
    import spark.implicits._
    val standing = Dedup.connectedComponents(
      Seq(1L, 2L, 3L, 10L, 11L, 21L).toDF("id"),
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst"))
      .localCheckpoint(eager = true)
    val allIds = Seq(0L, 1L, 2L, 3L, 10L, 11L, 21L, 30L, 31L, 40L)
    val scores = allIds.map(i => (i, if (i == 10L) 999.0 else i.toDouble))
      .toDF("doc_id", "score").localCheckpoint(eager = true)
    val emptyCanon = Seq.empty[(Long, Long, Long, Boolean)]
      .toDF("doc_id", "cluster_id", "canonical_id", "is_canonical")
    val canon0 = Dedup.updateCanonical(emptyCanon, standing,
      standing.select(col("label").as("cluster_id")).distinct(), scores)
      .localCheckpoint(eager = true)
    val b1 = Seq((30L, 31L), (0L, 1L)).toDF("src", "dst")
    val b2 = Seq((3L, 10L)).toDF("src", "dst")
    val b3 = Seq((21L, 31L), (40L, 21L)).toDF("src", "dst")
    def foldThrough(batches: Seq[org.apache.spark.sql.DataFrame],
        init: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame),
        tag: String) = {
      val srcDir = java.nio.file.Files.createTempDirectory(s"res_${tag}_src").toString
      batches.foreach { b =>
        b.coalesce(1).write.mode("append").parquet(srcDir)
        Thread.sleep(5) // distinct mtimes → deterministic batch order
      }
      val stream = spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      var live = init
      val ckpt = java.nio.file.Files.createTempDirectory(s"res_${tag}_ckpt").toString
      val q = DocStream.canonicalMaintainStream(stream, init._1, init._2, scores) {
        (pair, _) => live = pair
      }.option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
      live
    }
    // continuous: all three batches through one stream
    val (contLabels, contCanon) =
      foldThrough(Seq(b1, b2, b3), (standing, canon0), "cont")
    // interrupted: fold 1-2, SAVE the published generation, reload,
    // resume with batch 3 only
    val midPair = foldThrough(Seq(b1, b2), (standing, canon0), "mid")
    val csPath = java.nio.file.Files.createTempDirectory("res_state").toString
    Dedup.saveClusterState(midPair._1, midPair._2, csPath)
    val (loadedLabels, loadedCanon) = Dedup.loadClusterState(spark, csPath)
    val (resLabels, resCanon) = foldThrough(Seq(b3),
      (loadedLabels.localCheckpoint(eager = true),
       loadedCanon.localCheckpoint(eager = true)), "res")
    def labelRows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    def canonRows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    assert(labelRows(resLabels) == labelRows(contLabels),
      "resumed labels diverge from the continuous run")
    assert(canonRows(resCanon) == canonRows(contCanon),
      "resumed canonical diverges from the continuous run")
    // and the batch-3 merge actually crossed the save point: pre-save
    // cluster {30,31} + pre-save singleton 21 + new arrival 40 fold
    // into one cluster (label 21 = min id) whose champion by score is
    // 40 — resolvable only through the LOADED state
    val byDoc = canonRows(resCanon).map(t => t._1 -> t).toMap
    assert(byDoc(21L)._2 == 21L && byDoc(21L)._3 == 40L,
      "pre-save singleton must fold into the merged cluster on resume")
    assert(byDoc(40L)._2 == 21L && byDoc(40L)._3 == 40L,
      "post-save arrival must resolve through the loaded state")
    assert(byDoc(0L)._3 == 10L && byDoc(10L)._4,
      "untouched pre-save cluster must carry verbatim through resume")
  }

  test("registry-served forecast stream scores ticks without refitting") {
    import graft.operators.Forecast
    // standing state: fit ONCE, derive the serve surface once — the
    // stream only probes it
    val registry = Forecast.modelRegistry(spark, sfDir)
    val served = Forecast.registryServeSurface(registry).cache()
    served.count(): Unit
    val modeled = served.select("user_id").collect().map(_.getLong(0)).toSet
    assert(modeled.nonEmpty, "no trainable symbols at this SF")
    // live traffic: real ticks plus a reject and an unmodeled symbol —
    // neither may produce a scoring row
    import spark.implicits._
    val crafted = Seq(
      (900001L, "2024-06-01 10:00:00", Option(modeled.head), "click",
        Option(-5.0)),                                   // invalid price
      (900002L, "2024-06-01 10:01:00", Option(999999L), "click",
        Option(50.0)))                                   // no model
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", to_timestamp(col("ts")))
    val events = Tables.events(spark, sfDir)
      .select(crafted.columns.map(col): _*).unionByName(crafted)
    val srcDir = java.nio.file.Files.createTempDirectory("fsv_src").toString
    events.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(srcDir)
    events.filter(col("event_id") % 2 =!= 0).coalesce(1)
      .write.mode("append").parquet(srcDir)
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    val ckpt = java.nio.file.Files.createTempDirectory("fsv_ckpt").toString
    val q = TickStream.forecastServeStream(stream, served) { (df, _) =>
      buf.synchronized { buf ++= df.collect().map(_.toString): Unit }
    }.option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    // stateless scoring: the union over microbatches equals the batch
    // dual over all staged events, row for row
    val batch = TickStream.scoreTicksAgainstRegistry(events, served).collect()
    assert(buf.sorted.toSeq == batch.map(_.toString).sorted.toSeq,
      s"streamed ${buf.length} rows vs batch ${batch.length}")
    // neither the reject nor the unmodeled symbol scored
    assert(!batch.exists(_.getAs[Long]("event_id") >= 900001L))
    // every modeled symbol's valid tick scored exactly once, with the
    // model's own next-price forecast from the predictions surface
    val validCount = graft.operators.Warehouse.validTicksOf(events)
      .filter(col("user_id").isin(modeled.toSeq: _*)).count()
    assert(batch.length.toLong == validCount)
    val predictions = Forecast.predictionsFrom(spark, sfDir, registry)
      .filter(col("model_type") === "ARIMA").collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("predicted_price"))
      .toMap
    batch.foreach { r =>
      assert(predictions(r.getAs[Long]("user_id"))
        == r.getAs[Double]("predicted_price"))
    }
    served.unpersist(): Unit
  }

  // one maintenance loop under both build policies, and the tier keeps
  // main's policy through appends and compactions
  private def segmentMaintenanceChecks(layered: Boolean): Unit = {
    import graft.operators.Similarity
    val clue = if (layered) "layered" else "single-layer"
    val idx0 = Similarity.hnswIndex(spark, sfDir, layered = layered)
    idx0.nodes.cache().count(): Unit
    val n0 = idx0.nodes.count()
    val emb = Tables.embeddings(spark, sfDir)
    val twins = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 4000000L).as("vec_id"), col("embedding"))
    val srcDir = java.nio.file.Files.createTempDirectory("hseg_src").toString
    // three microbatches: 2 + 2 + 1 twins
    twins.filter(col("vec_id") < 4000002L).coalesce(1)
      .write.mode("append").parquet(srcDir)
    twins.filter(col("vec_id") >= 4000002L && col("vec_id") < 4000004L)
      .coalesce(1).write.mode("append").parquet(srcDir)
    twins.filter(col("vec_id") >= 4000004L).coalesce(1)
      .write.mode("append").parquet(srcDir)
    val stream = spark.readStream.schema(twins.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val traj = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    var live = Similarity.HnswSegmented(idx0, Nil)
    val ckpt = java.nio.file.Files.createTempDirectory("hseg_ckpt").toString
    val q = DocStream.hnswSegmentMaintainStream(stream, live,
      maxSegments = 2) { (s, _) =>
      live = s
      traj += s.segments.length -> s.main.nodes.count(): Unit
    }.option("checkpointLocation", ckpt).start()
    try { q.processAllAvailable() } finally { q.stop() }
    // batch 1 opens a segment (main untouched); batch 2 hits the bar
    // and compacts both into main; batch 3 opens a fresh segment
    assert(traj.toSeq == Seq(1 -> n0, 0 -> (n0 + 4), 1 -> (n0 + 4)),
      s"$clue: segment/main trajectory was $traj")
    assert((live.main +: live.segments).forall(_.layered == layered), clue)
    // serve across main + the open segment: every streamed twin is
    // its probe's rank-1 neighbor, wherever it currently lives
    val probes = Similarity.vecs(spark, sfDir)
      .toDF("vec_id", "v", "norm").filter(col("vec_id") < 5)
      .toDF("probe_id", "p_v", "p_norm")
    val res = Similarity.annHnswSearchSegmented(live, probes,
      excludeSelf = true).collect()
    val byProbe = res.groupBy(_.getAs[Long]("probe_id"))
    (0L until 5L).foreach { p =>
      val top = byProbe(p).minBy(_.getAs[Int]("rank"))
      assert(top.getAs[Long]("neighbor_id") == p + 4000000L,
        s"$clue probe $p: expected its streamed twin first, got $top")
      assert(math.abs(top.getAs[Double]("cosine") - 1.0) < 1e-6)
    }
    idx0.nodes.unpersist(): Unit
  }

  test("segmented hnsw maintenance: segments per batch, compaction at the bar") {
    segmentMaintenanceChecks(layered = true)
  }

  test("flat-NSW segment maintenance mirrors the HNSW tier's economics") {
    segmentMaintenanceChecks(layered = false)
  }

  test("segment maintenance resumed from a saved tier equals the continuous run") {
    // the durability leg of the LSM tier: fold batch 1, SAVE the tier
    // with its open segment, reload as `initial`, fold batches 2-3 —
    // batch 2 crosses the compaction bar, so the RELOADED segment must
    // participate in the one-rewrite fold exactly like the in-memory
    // one. Serve surface and main contents must equal the unbroken
    // 3-batch run (compaction inserts in id order, so parity is exact).
    import graft.operators.Similarity
    val idx0 = Similarity.hnswIndex(spark, sfDir)
    idx0.nodes.cache().count(): Unit
    val emb = Tables.embeddings(spark, sfDir)
    val twins = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 4000000L).as("vec_id"), col("embedding"))
    def stage(dir: String, parts: Seq[(Long, Long)]): Unit =
      parts.foreach { case (lo, hi) =>
        twins.filter(col("vec_id") >= 4000000L + lo
          && col("vec_id") < 4000000L + hi).coalesce(1)
          .write.mode("append").parquet(dir): Unit
      }
    def fold(srcDir: String, initial: Similarity.HnswSegmented)
        : Similarity.HnswSegmented = {
      val stream = spark.readStream.schema(twins.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      var live = initial
      val ckpt = java.nio.file.Files.createTempDirectory("hsr_ckpt").toString
      val q = DocStream.hnswSegmentMaintainStream(stream, live,
        maxSegments = 2) { (s, _) => live = s }
        .option("checkpointLocation", ckpt).start()
      try { q.processAllAvailable() } finally { q.stop() }
      live
    }
    // continuous: all three batches through one stream
    val srcAll = java.nio.file.Files.createTempDirectory("hsr_all").toString
    stage(srcAll, Seq((0L, 2L), (2L, 4L), (4L, 5L)))
    val cont = fold(srcAll, Similarity.HnswSegmented(idx0, Nil))
    // resumed: batch 1 → save → load → batches 2-3
    val srcA = java.nio.file.Files.createTempDirectory("hsr_a").toString
    stage(srcA, Seq((0L, 2L)))
    val afterB1 = fold(srcA, Similarity.HnswSegmented(idx0, Nil))
    assert(afterB1.segments.length == 1, "batch 1 should open one segment")
    val savePath = java.nio.file.Files.createTempDirectory("hsr_save")
      .toString + "/tier"
    Similarity.saveHnswSegmented(afterB1, savePath)
    val loaded = Similarity.loadHnswSegmented(spark, savePath)
    val srcB = java.nio.file.Files.createTempDirectory("hsr_b").toString
    stage(srcB, Seq((2L, 4L), (4L, 5L)))
    val resumed = fold(srcB, loaded)
    // same tier shape (batch 2 compacted, batch 3 reopened a segment),
    // same main contents, same serve surface
    assert(resumed.segments.length == cont.segments.length
      && resumed.segments.length == 1)
    assert(resumed.main.nodes.collect().map(_.toSeq).toSet ==
      cont.main.nodes.collect().map(_.toSeq).toSet,
      "resumed compaction diverges from the continuous tier")
    val probes = Similarity.vecs(spark, sfDir)
      .toDF("vec_id", "v", "norm").filter(col("vec_id") < 5)
      .toDF("probe_id", "p_v", "p_norm")
    def serve(t: Similarity.HnswSegmented) =
      Similarity.annHnswSearchSegmented(t, probes, excludeSelf = true)
        .collect().map(_.toSeq).toSeq
    assert(serve(resumed) == serve(cont),
      "resumed tier serves differently than the continuous run")
    idx0.nodes.unpersist(): Unit
  }

  test("registry maintenance stream refreshes on the arrival trigger, full registries swap") {
    import graft.operators.{Forecast, Warehouse}
    val schema = Tables.events(spark, sfDir).schema
    val valid = Warehouse.validTicks(spark, sfDir)
    // an AGED standing registry: fit on the first ~60% of history by
    // event time — the live stream must trigger a refresh that brings
    // every symbol back to a full-history fit
    val cut = valid.agg(expr("percentile(cast(ts AS double), 0.6)"))
      .head.getDouble(0)
    val initial = Forecast.modelRegistryTicks(
      valid.filter(col("ts").cast("double") <= cut)).localCheckpoint(true)
    assert(initial.count() > 0, "aged registry empty — cut too early")
    def run(minNewObs: Long): Seq[(Long, Seq[String])] = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stageTimeOrderedSplit(3))
      val updates = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[String])]
      val ckpt = java.nio.file.Files.createTempDirectory("regm_ckpt").toString
      val q = TickStream.registryMaintainStream(stream, initial,
        () => Tables.events(spark, sfDir), minNewObs = minNewObs) { (reg, id) =>
        updates.synchronized {
          updates += id -> reg.collect().map(_.toString).toSeq: Unit
        }
      }.option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
      updates.toSeq
    }
    val updates = run(minNewObs = 10L)
    assert(updates.nonEmpty, "arrival trigger never fired")
    // the published registry is COMPLETE (publish-then-swap, never a
    // partial refit) and its final state equals a from-scratch fit on
    // full history — every symbol had ≥ minNewObs new ticks, so all
    // went stale and refit
    val fresh = Forecast.modelRegistry(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(updates.last._2.sorted == fresh,
      "refreshed registry diverged from the full-history fit")
    // a bar the traffic never reaches: no refresh, serve keeps the
    // standing registry untouched
    assert(run(minNewObs = Long.MaxValue / 2).isEmpty,
      "refresh fired below the arrival bar")
  }

  test("streaming dead-letter ledger lands every reject exactly once") {
    import spark.implicits._
    val dirty = Seq(
      (1L, "2024-01-01 10:00:00", Option(7L), "click", Option(101.5)),
      (2L, "2024-01-01 10:01:00", Option.empty[Long], "click", Option(5.0)),
      (3L, "2024-01-01 10:02:00", Option(7L), "click", Option.empty[Double]),
      (4L, "2024-01-01 10:03:00", Option(7L), "click", Option(Double.NaN)),
      (5L, "2024-01-01 10:04:00", Option(8L), "click", Option(0.0)),
      (6L, "2024-01-01 10:05:00", Option(8L), "click", Option(-3.2)))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", to_timestamp(col("ts")))
    // two source files → two microbatches (maxFilesPerTrigger=1): the
    // sink must hold each reject ONCE across batch boundaries
    val srcDir = java.nio.file.Files.createTempDirectory("dl_src").toString
    dirty.filter(col("event_id") <= 3).coalesce(1).write.mode("append").parquet(srcDir)
    dirty.filter(col("event_id") > 3).coalesce(1).write.mode("append").parquet(srcDir)
    val sinkDir = java.nio.file.Files.createTempDirectory("dl_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dl_ckpt").toString
    val stream = spark.readStream.schema(dirty.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = graft.operators.ErrorLedger.ingestionErrorsOf(stream).writeStream
      .outputMode("append").format("parquet")
      .option("path", sinkDir).option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    val landed = spark.read.parquet(sinkDir).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("error_type")))
    // exactly once: one ledger row per reject, none for the valid tick
    assert(landed.length == landed.distinct.length, "duplicate ledger rows")
    assert(landed.toMap == Map(2L -> "missing_company", 3L -> "null_price",
      4L -> "nan_price", 5L -> "nonpositive_price", 6L -> "nonpositive_price"))
    // and the streamed ledger row-for-row equals the batch ledger
    val batch = graft.operators.ErrorLedger.ingestionErrorsOf(dirty)
      .collect().map(_.toString).sorted.toSeq
    val streamed = spark.read.parquet(sinkDir)
      .select(graft.operators.ErrorLedger.ingestionErrorsOf(dirty).columns.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch)
  }
}
