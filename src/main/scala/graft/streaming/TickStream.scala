package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** The tick path of the streaming engine: producer → Kafka JSON tick
  * messages → [[parseTicks]] → [[statefulIndicators]] →
  * [[alertsStream]], the consumer's one pass per message
  * (producer/producer.py:100-127, analytics_consumer.py:97-268), plus
  * the tick streams built on the same state machines. Documents and
  * vectors are [[DocStream]]'s. A stateless operator is its batch
  * function applied to the stream: the dead-letter leg is
  * [[graft.operators.ErrorLedger.ingestionErrorsOf]] over [[eventsStream]].
  *
  * In production this reads `spark.readStream.format("kafka")` with
  * the same message schema and writes via foreachBatch to JDBC; here
  * the file source stands in for Kafka (same unbounded-table
  * semantics) so the pipeline is testable hermetically. Watermarks
  * bound all state; per-key indicator state is O(window) via
  * flatMapGroupsWithState — the scale knobs a 1000-executor streaming
  * job needs.
  */
object TickStream extends Serializable {

  /** JSON tick-message schema exactly as the producer emits it
    * (producer.py:100-127).
    */
  val tickMessageSchema: StructType = StructType(Seq(
    StructField("company_id", StringType),
    StructField("ticker_symbol", StringType),
    StructField("company_name", StringType),
    StructField("industry", StringType),
    StructField("sector", StringType),
    StructField("exchange", StringType),
    StructField("currency", StringType),
    StructField("timestamp", TimestampType),
    StructField("trade_datetime", TimestampType),
    StructField("current_price", DoubleType),
    StructField("open_price", DoubleType),
    StructField("high_price", DoubleType),
    StructField("low_price", DoubleType),
    StructField("volume", LongType),
    StructField("adjusted_close", DoubleType),
    StructField("market_cap", DoubleType),
    StructField("pe_ratio", DoubleType)))

  /** The Kafka source's EXACT output schema (the columns
    * `readStream.format("kafka")` emits) — the wire contract
    * [[parseTicks]] consumes: only `value` is read, cast from binary.
    * This sandbox has no broker and no spark-sql-kafka connector jar,
    * so the source construction itself cannot run here; what IS
    * proven (StreamingSpec) is the whole parse+validate leg over
    * frames of exactly this shape, streamed and batch — so the
    * production swap is ONE source line:
    * `spark.readStream.format("kafka")
    *   .option("kafka.bootstrap.servers", brokers)
    *   .option("subscribe", topic).load()` piped into [[parseTicks]],
    * with the consumer's group/offset handling owned by the
    * checkpointed query exactly as the file source's is.
    */
  val kafkaWireSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** Parse + validate a stream of JSON tick messages (the consumer's
    * input contract): malformed JSON → dropped; null/≤0 prices and
    * negative volume rejected as in producer.py:255-288. Consumes any
    * frame carrying a string-castable `value` column — the file
    * stand-in AND the Kafka wire shape ([[kafkaWireSchema]], where
    * `value` arrives as the message's UTF-8 bytes) parse through this
    * one definition.
    */
  def parseTicks(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value").cast("string"), tickMessageSchema).as("m"))
      .select("m.*")
      .filter(col("ticker_symbol").isNotNull &&
        col("current_price").isNotNull && col("current_price") > 0 &&
        !isnan(col("current_price")) &&
        (col("volume").isNull || col("volume") >= 0))

  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** The file stream source needs a directory; stage a symlink dir
    * around a single-file table (bus stand-in only — production uses
    * readStream.format("kafka")). Memoized per source file and
    * registered for JVM-exit cleanup so repeated calls don't leak.
    */
  private[streaming] def stageFile(dir: String, fileName: String): java.nio.file.Path =
    stagedDirs.computeIfAbsent(s"$dir/$fileName", { _ =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_stream")
      // deleteOnExit runs in REVERSE registration order: register the
      // dir first so the link inside it is gone by the time the
      // (must-be-empty) dir delete runs
      tmp.toFile.deleteOnExit()
      val link = tmp.resolve(fileName)
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(s"$dir/$fileName"))
      link.toFile.deleteOnExit()
      tmp
    })

  /** Streaming source over the events tick table (file source standing
    * in for Kafka; same schema and event-time normalization as
    * Tables.events).
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.eventsOf(spark, dir)(batch =>
      spark.readStream.schema(batch.schema)
        .parquet(stageFile(dir, "events.parquet").toString))

  /** Streaming PRICE-ANOMALY gate — train offline, serve online, the
    * tick-side sibling of
    * [[graft.operators.Curation.hashedImportanceScore]]: the
    * symbol-sized robust (median, MAD) model
    * ([[graft.operators.Warehouse.anomalyModelOf]], trained on the
    * standing corpus) joins the live stream as a stream-static
    * BROADCAST; flagging is the same |modified z| > 3.5 projection
    * the batch report applies — one shared serve path
    * ([[graft.operators.Warehouse.anomalyServe]]), so streamed
    * verdicts equal the batch query exactly (spec-asserted). Zero
    * state, composes into any stream stage; a production deployment
    * refreshes the model through the [[maintainStream]] family like
    * the classifier weights.
    */
  def anomalyTicksStream(ticks: DataFrame, model: DataFrame): DataFrame =
    graft.operators.Warehouse.anomalyServe(
      graft.operators.Warehouse.validTicksOf(ticks), model)

  /** The GENERIC publish-then-swap maintenance loop — the one
    * skeleton every driver-held standing-artifact stream shares
    * ([[DocStream.hnswSegmentMaintainStream]], [[registryMaintainStream]]
    * and [[DocStream.rollingGateMaintainStream]]
    * are all thin `step` functions over it): each microbatch folds
    * into the maintenance state `S` and emits zero or more published
    * artifacts `P` — a Mealy machine over microbatches. The loop
    * owns the swap discipline so no flavor re-implements it:
    * foreachBatch runs serially, so the fold variable needs no
    * synchronization; the state swap happens BEFORE any publication,
    * so a published artifact is never ahead of the state that
    * produced it; an empty emission means the serve side keeps
    * probing the previous artifact untouched (the refresh-in-flight
    * guarantee). `step` keeps its own trigger state inside `S`
    * (arrival counters, epoch high-water marks) — the flavor decides
    * WHAT publishes, the stream decides WHEN it runs — and owns
    * `localCheckpoint`ing any lazy plan it emits, so a publication
    * hands the serve side an artifact whose cost is already paid
    * (see [[DocStream.hnswSegmentMaintainStream]] for why that matters).
    *
    * FAILURE CONTRACT: the fold state is driver-held and
    * session-scoped — it does NOT survive a restart, and `onPublish`
    * must not throw (a publish failure fails the query with the
    * post-swap state already folded, so that emission is not
    * re-delivered). Durability is the CALLER'S leg of the loop:
    * persist each published artifact (every flavor's artifact has a
    * save/load — indexes, registries, classifier models) and restart
    * with `initial` = the last durably published artifact, exactly
    * like the specs construct their initial gates and registries.
    * Trigger state (counters, high-water marks) restarts empty,
    * which can DELAY the next publication but never corrupt one —
    * every refit reads full history, every rotation re-derives its
    * epoch from the lake.
    */
  def maintainStream[S, P](stream: DataFrame, initial: S)(
      step: (S, DataFrame, Long) => (S, Seq[P]))(
      onPublish: (P, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    var standing = initial
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val (next, published) = step(standing, batch, batchId)
      standing = next
      published.foreach(onPublish(_, batchId))
    }
  }

  /** Registry-SERVED streaming forecasts — the live leg of the
    * reference's predictions flow (analytics_consumer.py:366-377
    * scores each arriving tick against its symbol's CACHED fitted
    * model, never refitting in the hot path; ml_models table,
    * enhanced_schema.sql:159-182): each microbatch validates its
    * ticks with the SAME predicate as batch ingest, then
    * broadcast-joins the standing registry's serve surface on
    * user_id — one output row per arriving valid tick of a modeled
    * symbol, carrying the model's next-price forecast and AIC
    * confidence next to the observed price. Zero streaming state and
    * zero fitting: the registry is fitted once
    * ([[graft.operators.Forecast.modelRegistry]] or loaded from
    * disk), its serve surface derived once
    * ([[graft.operators.Forecast.registryServeSurface]] — cache it)
    * and only PROBED here, so scoring cost per batch is one broadcast
    * hash join against a registry-sized (per-symbol, never
    * tick-sized) table — the shape that holds when the tick stream is
    * 1000× and models refresh on their own slower cadence.
    */
  def forecastServeStream(ticks: DataFrame, serveSurface: DataFrame)(
      writeBatch: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ticks.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      writeBatch(scoreTicksAgainstRegistry(batch, serveSurface), batchId)
    }

  /** Streaming REGISTRY MAINTENANCE — the refresh cadence of
    * [[graft.operators.Forecast.refreshModelRegistryTicks]] driven by the
    * live tick stream (the ingest-side dual of [[forecastServeStream]],
    * closing the fit/serve loop the same way
    * [[DocStream.hnswSegmentMaintainStream]] closes the index one): each
    * microbatch counts its VALID arrivals
    * per symbol — a symbol-sized aggregate; the stream itself is
    * never buffered here, production batches land in the lake
    * (`history`) through their own sink — and once any symbol's
    * accumulated arrivals reach `minNewObs`, the standing registry
    * refreshes from `history`: [[graft.operators.Forecast.staleModels]]
    * decides EXACTLY which symbols refit (the counters are only the
    * trigger, so clearing them on refresh can delay the next check
    * but never mis-fit), fresh rows carry verbatim, and the result is
    * `localCheckpoint`ed (fits run once, not per downstream probe)
    * and published through `onUpdate` — publish-then-swap: the serve
    * stream keeps probing the PREVIOUS registry until the new one
    * lands, so a refresh in flight never leaves forecasts unserved.
    *
    * `refresh` is the model family's refit leg — ARIMA
    * ([[graft.operators.Forecast.refreshModelRegistryTicks]], the
    * default) and linreg
    * ([[graft.operators.Forecast.refreshLinregRegistryTicks]]) share
    * the trigger, staleness policy, and swap discipline; only the fit
    * differs.
    */
  def registryMaintainStream(ticks: DataFrame, initial: DataFrame,
      history: () => DataFrame, minNewObs: Long = 10, maxLagDays: Int = 7,
      refresh: (DataFrame, DataFrame, Long, Int) => DataFrame =
        graft.operators.Forecast.refreshModelRegistryTicks(_, _, _, _))(
      onUpdate: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    // maintenance state = (standing registry, per-symbol arrival
    // counters — the trigger, carried across quiet batches)
    maintainStream(ticks, (initial, Map.empty[Long, Long])) {
      case ((registry, counted), batch, _) =>
        val arrivals = graft.operators.Warehouse.validTicksOf(batch)
          .groupBy("user_id").agg(count(lit(1)).as("n"))
          .collect().foldLeft(counted) { (m, r) =>
            m.updated(r.getLong(0), m.getOrElse(r.getLong(0), 0L) + r.getLong(1))
          }
        if (arrivals.valuesIterator.exists(_ >= minNewObs)) {
          val refreshed = refresh(
            registry,
            graft.operators.Warehouse.validTicksOf(history()),
            minNewObs, maxLagDays).localCheckpoint(true)
          ((refreshed, Map.empty[Long, Long]), Seq(refreshed))
        } else ((registry, arrivals), Nil)
    } { case (registry, batchId) => onUpdate(registry, batchId) }

  /** The one scoring projection [[forecastServeStream]] runs per
    * microbatch — exposed so the spec's batch dual IS the same code.
    */
  def scoreTicksAgainstRegistry(ticks: DataFrame,
      serveSurface: DataFrame): DataFrame =
    graft.operators.Warehouse.validTicksOf(ticks)
      .join(broadcast(serveSurface), Seq("user_id"))
      .select(col("user_id"), col("event_id"), col("ts"),
        col("value").as("price"), col("predicted_price"),
        col("confidence_score"), col("model_type"))

  /** One not-yet-emitted observed day of a symbol: the day's close is
    * the value at the max (ts, event_id) seen so far — the same
    * last-tick-of-day definition the batch OHLC uses.
    */
  case class FfillPendingDay(day: Int, ts_micros: Long, event_id: Long,
      close: Double)

  /** Per-symbol state of [[priceFfillStream]], kryo-encoded like
    * [[BarState]]: the product encoder decodes `pending` through
    * `MapObjects`, whose lambda variable is fresh in each microbatch,
    * so it compiled new state decoders every batch. A checkpoint
    * written with the product encoding cannot resume on this build:
    * restart with a fresh checkpoint (the [[IndicatorState]] contract).
    */
  case class FfillState(lastDay: Int, lastClose: Double,
      hasEmitted: Boolean, pending: List[FfillPendingDay])

  case class FfillRow(user_id: Long, trade_date: java.time.LocalDate,
      close_price: Double, is_observed: Boolean)

  private val DayMs = 86400000L

  /** Streaming dual of [[graft.operators.Warehouse.priceFfill]] — the
    * forward-filled daily close grid emitted as the WATERMARK
    * completes each calendar day (UTC days, like the batch dual under
    * the repo-wide UTC session): per symbol, state holds the carried
    * close plus the last observed (ts, event_id, value) of each
    * not-yet-complete day; once the event-time watermark passes a
    * day's end (no tick for it can arrive anymore), every grid day up
    * through it — observed days with their own close, gap days with
    * the carried close and `is_observed = false` — is emitted exactly
    * once, in order. An event-time TIMEOUT at the earliest pending
    * day's end keeps emission moving when a symbol goes quiet (its
    * completed days still emit as OTHER symbols' ticks advance the
    * watermark) — the same EventTimeTimeout-not-ProcessingTime choice
    * as [[DocStream.lineDedupDocsStream]], so an idle stream never
    * churns empty batches. Gap days between two pending observed days
    * ride along and are emitted with the run that completes them,
    * which yields the identical row set.
    *
    * State is O(pending days) per symbol — bounded by the watermark
    * delay in days plus one, independent of tick volume; emitted days
    * leave state immediately. Ticks are validated with the SAME
    * predicate as batch ingest, so streamed and batch grids agree row
    * for row on completed days (spec-asserted across microbatch
    * splits).
    */
  def priceFfillStream(spark: SparkSession, ticks: DataFrame,
      watermarkDelay: String = "10 minutes"): Dataset[FfillRow] = {
    import spark.implicits._
    def update(userId: Long, rows: Iterator[Tick],
        state: GroupState[FfillState]): Iterator[FfillRow] = {
      var st = state.getOption.getOrElse(
        FfillState(Int.MinValue, 0.0, hasEmitted = false, Nil))
      var pending = st.pending
      if (!state.hasTimedOut) rows.foreach { t =>
        val m = tsMicros(t.ts)
        val day = Math.floorDiv(m, DayMs * 1000L).toInt
        // a day at or before the emitted frontier is closed — its row
        // is already out (the watermark filtered later arrivals; this
        // guard keeps exactly-once emission even if one slips through)
        if (!(st.hasEmitted && day <= st.lastDay)) {
          val cur = pending.find(_.day == day)
          if (cur.forall(p => m > p.ts_micros
              || (m == p.ts_micros && t.event_id > p.event_id)))
            pending = FfillPendingDay(day, m, t.event_id, t.value) ::
              pending.filterNot(_.day == day)
        }
      }
      // a day is complete once the watermark reaches its end
      val wm = state.getCurrentWatermarkMs()
      val out = Seq.newBuilder[FfillRow]
      if (pending.nonEmpty) {
        val maxComplete = Math.floorDiv(wm, DayMs) - 1L
        // the grid never runs past the last OBSERVED day (the batch
        // grid ends at max trade_date); gap days up to a later
        // pending day emit with the run that completes them
        val end = math.min(maxComplete, pending.map(_.day).max.toLong).toInt
        val start =
          if (st.hasEmitted) st.lastDay + 1 else pending.map(_.day).min
        if (end >= start) {
          val byDay = pending.map(p => p.day -> p).toMap
          var carried = st.lastClose
          (start to end).foreach { d =>
            val obs = byDay.get(d)
            obs.foreach(p => carried = p.close)
            out += FfillRow(userId, java.time.LocalDate.ofEpochDay(d.toLong),
              carried, obs.nonEmpty)
          }
          pending = pending.filter(_.day > end)
          st = FfillState(end, carried, hasEmitted = true, pending)
        } else st = st.copy(pending = pending)
      } else st = st.copy(pending = pending)
      state.update(st)
      if (pending.nonEmpty) {
        // wake when the earliest still-pending day completes; after
        // the emission above every remaining day ends past the
        // watermark, so this timestamp is always legal
        val wake = (pending.map(_.day).min.toLong + 1L) * DayMs
        if (wake > wm) state.setTimeoutTimestamp(wake)
      }
      out.result().iterator
    }
    graft.operators.Warehouse.validTicksOf(ticks)
      .withWatermark("ts", watermarkDelay)
      .select("user_id", "event_id", "ts", "value").as[Tick]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)(
        org.apache.spark.sql.Encoders.kryo[FfillState],
        implicitly[org.apache.spark.sql.Encoder[FfillRow]])
  }

  /** A tick carrying its parsed volume payload — the bar engine's
    * input row.
    */
  case class BarTick(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
      value: Double, vol: Long)

  /** One not-yet-complete trading day of a symbol: the OHLCV
    * aggregate under construction — open/close each pinned by their
    * (ts, event_id) extreme, exactly the batch kernel's min_by/max_by
    * rule.
    */
  case class PendingBar(day: Int, openM: Long, openE: Long, open: Double,
      closeM: Long, closeE: Long, close: Double, hi: Double, lo: Double,
      nTicks: Long, volume: Long, pvNum: Long, pvVol: Long)

  /** Carry state across completed bars — every live indicator the
    * daily-series batch tier computes, as O(1) recurrences plus the
    * bounded seed accumulators: previous close/high/low (TR, OBV and
    * directional movement), the ATR-14 and ATR-10 Wilder machines,
    * the EMA-20 state, the three directional-movement Wilder machines
    * + the second-level ADX machine, and the running OBV. `pending`
    * is O(watermark-delay days) like [[FfillState]].
    *
    * NOTE: adding state fields changes the flatMapGroupsWithState
    * encoder schema — restart streaming jobs with a fresh checkpoint
    * across upgrades (the [[IndicatorState]] contract).
    */
  case class BarState(lastDay: Int, hasEmitted: Boolean,
      hasPrev: Boolean, prevClose: Double,
      prevHi: Double, prevLo: Double,
      trCount: Long, seedSum: Double, wilder: Double,
      seedSum10: Double, wilder10: Double,
      ema20: Double,
      dmCnt: Long, sumP: Double, sdp: Double, sumM: Double, sdm: Double,
      sumT: Double, strv: Double,
      dxCnt: Long, dxSum: Double, adxV: Double,
      obv: Long,
      // rings are PRIMITIVE ARRAYS, not Lists: the state round-trips
      // through kryo on every per-key get/put, and Array[Double]
      // serializes as a compact primitive block (no per-element boxing
      // or class tags) — the hi/lo ring is two parallel arrays for the
      // same reason (a tuple ring would box every element)
      his: Array[Double], los: Array[Double], ks: Array[Double],
      // parabolic SAR machine: direction (0 = unseeded, ±1), raw
      // sar/EP/AF — the batch q_psar fold's 4-field state verbatim
      psDir: Int, psSar: Double, psEp: Double, psAf: Double,
      // CCI's 20-session typical-price ring and the Wilder RSI
      // machine (gain/loss seed sums + smoothed values; the delta
      // count is trCount − 1, no extra counter)
      tps: Array[Double],
      gSum: Double, gW: Double, lSum: Double, lW: Double,
      // the screener's 20-session close ring (SMA/Bollinger votes)
      cls: Array[Double],
      // Holt level/trend and the RiskMetrics EWMA variance
      hl: Double, hb: Double, ev: Double,
      // Holt-Winters (5-period) level/trend + the ROTATING next-use
      // seasonal 5-tuple (empty until the bar-10 seed replay) — the
      // batch q_holt_winters fold's state verbatim
      hwL: Double, hwB: Double, hwU: Array[Double],
      // stochastic-RSI rings: last-7 RSI, last-3 stoch, last-3 %K —
      // NaN marks a null ROW so the rings mirror the batch ROWS
      // frames (count-of-live gating), the ks-ring idiom
      rsis: Array[Double], srs: Array[Double], sks: Array[Double],
      // money-flow machine: previous typical-price micros, the last
      // 14 SIGNED daily money flows (positive = up-day flow,
      // negative = down-day; 0 = flat/first), and the running A/D
      // numerator — LONG micros, exact like the batch DECIMAL(38,0)
      // within the envelope price_micros × bar_volume < 2⁶³ (a $10⁶
      // price is 10¹² micros, leaving 9·10⁶× volume headroom per bar
      // and ~10⁴ years of A/D accumulation); beyond it, promote back
      // to BigDecimal — values ≤ 2⁵³ convert to the emitted doubles
      // identically either way
      mfPrev: Long, mfFlows: Array[Long], adM: Long,
      pending: List[PendingBar])

  case class BarRow(user_id: Long, trade_date: java.time.LocalDate,
      open_price: Double, high_price: Double, low_price: Double,
      close_price: Double, n_ticks: Long, volume: Long, tr: Double,
      atr_wilder: Option[Double], signed_vol: Long, obv: Long,
      ema_20: Option[Double], atr_10: Option[Double],
      kc_upper: Option[Double], kc_lower: Option[Double],
      di_plus: Option[Double], di_minus: Option[Double],
      dx: Option[Double], adx: Option[Double],
      vwap: Option[Double], pct_k: Option[Double], pct_d: Option[Double],
      dc_upper: Option[Double], dc_lower: Option[Double],
      dc_mid: Option[Double],
      brk_up: Option[Boolean], brk_down: Option[Boolean],
      psar: Option[Double], trend_up: Option[Boolean],
      reversal: Option[Boolean],
      cci: Option[Double], willr: Option[Double], rsi_14: Option[Double],
      bull_score: Int, bear_score: Int, net_score: Int,
      level: Option[Double], trend: Option[Double],
      fcst_next: Option[Double], ewma_vol: Option[Double],
      mfi: Option[Double], ad_line: Double,
      cmo: Option[Double], vi_plus: Option[Double], vi_minus: Option[Double],
      hw_level: Option[Double], hw_trend: Option[Double],
      hw_season: Option[Double], hw_fcst: Option[Double],
      stoch_rsi: Option[Double], srsi_k: Option[Double],
      srsi_d: Option[Double],
      roc_sum: Option[Double], coppock: Option[Double])

  // [[FastRound]] ≡ the BigDecimal forms bit-for-bit (tie-guarded
  // fallback); the daily-bar fold makes ~40 display rounds per
  // emitted bar, which jstack sampling measured as the dominant cost
  private def r4s(x: Double): Double = FastRound.scale(x, 10000.0, 4)
  private def r6s(x: Double): Double = FastRound.scale(x, 1000000.0, 6)

  /** The batch fold tier's display round — round(x·10⁶)/10⁶, the
    * scaled-double algorithm both engines agree on at every boundary
    * (see Warehouse.atrWilder's scaladoc); the bar stream must round
    * the Wilder value the same way or a boundary bar diverges.
    */
  private def r6scaled(x: Double): Double =
    FastRound.int0(x * 1000000.0) / 1000000.0

  /** Streaming DAILY-BAR CLOSE engine — the live leg of the whole
    * daily-series tier: per symbol, ticks aggregate into the current
    * UTC day's OHLCV bar in state; when the event-time watermark
    * passes a day's end the bar EMITS exactly once and folds into the
    * carry — true range against the previous close, the Wilder ATR
    * recurrence (seed = mean of the first 14 TRs, then
    * (13·prev + tr)/14 — the identical float-op order as the batch
    * [[graft.operators.Warehouse.atrWilder]] fold, so values are
    * BIT-identical), and the signed-volume OBV running total. This is
    * the bar-close semantics a live market pipeline needs: indicators
    * update once per completed session, never on a half-built bar.
    *
    * Completed bars equal the batch surfaces row for row
    * (validated OHLC ⋈ atrWilder ⋈ OBV — spec-asserted across
    * microbatch splits and watermark delays). Same emission
    * machinery as [[priceFfillStream]]: watermark-complete days only,
    * EventTimeTimeout wake at the earliest pending day's end so a
    * quiet symbol still closes its bars, late ticks at or before the
    * emitted frontier drop like the watermark contract says.
    *
    * State is O(pending days + constants) per symbol — independent
    * of tick volume; a 1000-executor deployment shards by symbol
    * through the same hash partitioning as every stateful operator
    * here.
    */
  def dailyBarStream(spark: SparkSession, ticks: DataFrame,
      watermarkDelay: String = "10 minutes"): Dataset[BarRow] = {
    import spark.implicits._
    def update(userId: Long, rows: Iterator[BarTick],
        state: GroupState[BarState]): Iterator[BarRow] = {
      val emptyD = Array.empty[Double]
      var st = state.getOption.getOrElse(BarState(Int.MinValue,
        hasEmitted = false, hasPrev = false, 0.0, 0.0, 0.0,
        0L, 0.0, 0.0, 0.0, 0.0, 0.0,
        0L, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
        0L, 0.0, 0.0, 0L, emptyD, emptyD, emptyD, 0, 0.0, 0.0, 0.0,
        emptyD, 0.0, 0.0, 0.0, 0.0, emptyD, 0.0, 0.0, 0.0,
        0.0, 0.0, emptyD, emptyD, emptyD, emptyD,
        0L, Array.empty[Long], 0L, Nil))
      var pending = st.pending
      if (!state.hasTimedOut) rows.foreach { t =>
        val m = tsMicros(t.ts)
        val day = Math.floorDiv(m, DayMs * 1000L).toInt
        if (!(st.hasEmitted && day <= st.lastDay)) {
          // VWAP leg: integer price-micros x volume, positive-volume
          // ticks only — the batch q_vwap accounting, exact in Long
          val micros = FastRound.long0(t.value * 1000000.0)
          val pvN = if (t.vol > 0) micros * t.vol else 0L
          val pvV = if (t.vol > 0) t.vol else 0L
          pending = (pending.find(_.day == day) match {
            case None =>
              PendingBar(day, m, t.event_id, t.value, m, t.event_id,
                t.value, t.value, t.value, 1L, t.vol, pvN, pvV)
            case Some(p) =>
              val opens = m < p.openM || (m == p.openM && t.event_id < p.openE)
              val closes = m > p.closeM || (m == p.closeM && t.event_id > p.closeE)
              PendingBar(day,
                if (opens) m else p.openM,
                if (opens) t.event_id else p.openE,
                if (opens) t.value else p.open,
                if (closes) m else p.closeM,
                if (closes) t.event_id else p.closeE,
                if (closes) t.value else p.close,
                math.max(p.hi, t.value), math.min(p.lo, t.value),
                p.nTicks + 1, p.volume + t.vol,
                p.pvNum + pvN, p.pvVol + pvV)
          }) :: pending.filterNot(_.day == day)
        }
      }
      val wm = state.getCurrentWatermarkMs()
      val out = Seq.newBuilder[BarRow]
      val maxComplete = Math.floorDiv(wm, DayMs) - 1L
      val ready = pending.filter(_.day <= maxComplete).sortBy(_.day)
      if (ready.nonEmpty) {
        ready.foreach { p =>
          val hi4 = r4s(p.hi)
          val lo4 = r4s(p.lo)
          val tr = r6s(
            if (!st.hasPrev) hi4 - lo4
            else math.max(hi4 - lo4, math.max(
              math.abs(hi4 - st.prevClose), math.abs(lo4 - st.prevClose))))
          val trCount = st.trCount + 1
          val seedSum = if (trCount <= 14) st.seedSum + tr else st.seedSum
          val wilder =
            if (trCount < 14) 0.0
            else if (trCount == 14) seedSum / 14.0
            else (st.wilder * 13.0 + tr) / 14.0
          val signed =
            if (!st.hasPrev) 0L
            else if (p.close > st.prevClose) p.volume
            else if (p.close < st.prevClose) -p.volume
            else 0L
          val obv = st.obv + signed
          // ATR-10 over the SAME tr series (session 1 included — the
          // batch keltner fold's convention)
          val seedSum10 = if (trCount <= 10) st.seedSum10 + tr else st.seedSum10
          val wilder10 =
            if (trCount < 10) 0.0
            else if (trCount == 10) seedSum10 / 10.0
            else (st.wilder10 * 9.0 + tr) / 10.0
          // EMA-20 of the raw close, seeded at the first close
          val k20 = 2.0 / 21.0
          val ema20 =
            if (trCount == 1) p.close
            else p.close * k20 + st.ema20 * (1.0 - k20)
          // directional movement (session-2+ series: rounded highs and
          // lows vs the previous bar's, the batch adx convention)
          var (dmCnt, sumP, sdp, sumM, sdm, sumT, strv) =
            (st.dmCnt, st.sumP, st.sdp, st.sumM, st.sdm, st.sumT, st.strv)
          var (dxCnt, dxSum, adxV) = (st.dxCnt, st.dxSum, st.adxV)
          var dipOpt: Option[Double] = None
          var dimOpt: Option[Double] = None
          var dxOpt: Option[Double] = None
          if (st.hasPrev) {
            val up = hi4 - st.prevHi
            val dn = st.prevLo - lo4
            val dmp = r6s(if (up > dn && up > 0) up else 0.0)
            val dmm = r6s(if (dn > up && dn > 0) dn else 0.0)
            val tr2 = r6s(math.max(hi4 - lo4, math.max(
              math.abs(hi4 - st.prevClose), math.abs(lo4 - st.prevClose))))
            dmCnt += 1
            def step(cnt: Long, sum: Double, v: Double, x: Double): (Double, Double) = {
              val ns = if (cnt <= 14) sum + x else sum
              val nv =
                if (cnt < 14) 0.0
                else if (cnt == 14) ns / 14.0
                else (v * 13.0 + x) / 14.0
              (ns, nv)
            }
            val (nsP, nvP) = step(dmCnt, sumP, sdp, dmp); sumP = nsP; sdp = nvP
            val (nsM, nvM) = step(dmCnt, sumM, sdm, dmm); sumM = nsM; sdm = nvM
            val (nsT, nvT) = step(dmCnt, sumT, strv, tr2); sumT = nsT; strv = nvT
            if (dmCnt >= 14) {
              val dip = if (strv == 0.0) 0.0 else 100.0 * sdp / strv
              val dim = if (strv == 0.0) 0.0 else 100.0 * sdm / strv
              val dxv =
                if (dip + dim == 0.0) 0.0
                else 100.0 * math.abs(dip - dim) / (dip + dim)
              dipOpt = Some(dip); dimOpt = Some(dim); dxOpt = Some(dxv)
              dxCnt += 1
              if (dxCnt <= 14) dxSum += dxv
              adxV =
                if (dxCnt < 14) 0.0
                else if (dxCnt == 14) dxSum / 14.0
                else (adxV * 13.0 + dxv) / 14.0
            }
          }
          // session VWAP — exact integer accounting, the batch round
          val vwap =
            if (p.pvVol > 0)
              Some(FastRound.int0(p.pvNum.toDouble / p.pvVol.toDouble)
                / 1000000.0)
            else None
          // one (hi, lo) ring pair serves stochastic (last 14) AND the
          // Donchian channel (last 20 + the prior-channel breakout)
          // the rings carry 26 sessions: Aroon reads all 26, the
          // Donchian channel the last 20, the stochastic the last 14
          val his = (st.his :+ hi4).takeRight(26)
          val los = (st.los :+ lo4).takeRight(26)
          val hi14 = his.takeRight(14).max
          val lo14 = los.takeRight(14).min
          val dcUp = if (trCount >= 20) Some(his.takeRight(20).max) else None
          val dcLo = if (trCount >= 20) Some(los.takeRight(20).min) else None
          val dcMid = dcUp.zip(dcLo).map { case (u, l) => r6s((u + l) / 2.0) }
          // previous session's 20-channel (for the breakout flags):
          // the rings BEFORE this bar, capped at 20
          val brkUp = if (trCount >= 21)
            Some(p.close > st.his.takeRight(20).max) else None
          val brkDown = if (trCount >= 21)
            Some(p.close < st.los.takeRight(20).min) else None
          val kVal: Double =
            if (trCount >= 14 && hi14 > lo14)
              r6s((p.close - lo14) / (hi14 - lo14) * 100.0)
            else Double.NaN
          val ks = (st.ks :+ kVal).takeRight(3)
          val pctK = if (kVal.isNaN) None else Some(kVal)
          val pctD =
            if (trCount >= 16) {
              val win = ks.filterNot(_.isNaN)
              if (win.nonEmpty)
                Some(r6s(win.foldLeft(0.0)(_ + _) / win.length))
              else None
            } else None
          // parabolic SAR: seed off the second bar (close vs prev
          // close, the batch q_psar contract), then the af-stepped
          // approach with one-bar clamp and stop-and-reverse — the
          // state folds RAW doubles, only the emitted value rounds
          var (psDir, psSar, psEp, psAf) = (st.psDir, st.psSar, st.psEp, st.psAf)
          var psOut: Option[(Double, Boolean, Boolean)] = None
          if (st.hasPrev) {
            if (psDir == 0) {
              val up = p.close >= st.prevClose
              psSar = if (up) math.min(st.prevLo, lo4) else math.max(st.prevHi, hi4)
              psEp = if (up) math.max(st.prevHi, hi4) else math.min(st.prevLo, lo4)
              psDir = if (up) 1 else -1; psAf = 0.02
              psOut = Some((psSar, up, false))
            } else {
              val u = psDir == 1
              val nsr = psSar + psAf * (psEp - psSar)
              val nsc = if (u) math.min(nsr, st.prevLo) else math.max(nsr, st.prevHi)
              val rv = if (u) lo4 < nsc else hi4 > nsc
              if (rv) {
                psSar = psEp; psEp = if (u) lo4 else hi4
                psDir = -psDir; psAf = 0.02
              } else if (u && hi4 > psEp) {
                psSar = nsc; psEp = hi4; psAf = math.min(psAf + 0.02, 0.2)
              } else if (!u && lo4 < psEp) {
                psSar = nsc; psEp = lo4; psAf = math.min(psAf + 0.02, 0.2)
              } else psSar = nsc
              psOut = Some((psSar, psDir == 1, rv))
            }
          }
          // CCI-20 off the typical-price ring — the batch q_cci
          // float-op order: tp and both fold outputs take the
          // display round BEFORE the division
          val tpv = r6s((hi4 + lo4 + p.close) / 3.0)
          val tps20 = (st.tps :+ tpv).takeRight(20)
          var cciOpt: Option[Double] = None
          if (trCount >= 20) {
            val sma = r6scaled(tps20.foldLeft(0.0)(_ + _) / 20.0)
            val md = r6scaled(
              tps20.foldLeft(0.0)((a, x) => a + math.abs(x - sma)) / 20.0)
            if (md > 0)
              cciOpt = Some(r6scaled((tpv - sma) / (0.015 * md)))
          }
          // Williams %R off the shared 14-ring (the q_momentum leg)
          val willrOpt =
            if (trCount >= 14 && hi14 > lo14)
              Some(r6scaled(-100.0 * (hi14 - p.close) / (hi14 - lo14)))
            else None
          // Wilder RSI-14 over close deltas — the q_rsi_wilder folds
          var (gSum, gW, lSum, lW) = (st.gSum, st.gW, st.lSum, st.lW)
          var rsiOpt: Option[Double] = None
          if (st.hasPrev) {
            val d = p.close - st.prevClose
            val g = r6s(math.max(d, 0.0))
            val l = r6s(math.max(-d, 0.0))
            val dCnt = trCount - 1
            if (dCnt <= 14) { gSum += g; lSum += l }
            gW = if (dCnt < 14) 0.0
              else if (dCnt == 14) gSum / 14.0
              else (gW * 13.0 + g) / 14.0
            lW = if (dCnt < 14) 0.0
              else if (dCnt == 14) lSum / 14.0
              else (lW * 13.0 + l) / 14.0
            if (dCnt >= 14)
              rsiOpt = Some(
                if (gW + lW == 0.0) 50.0
                else r6scaled(100.0 * gW / (gW + lW)))
          }
          // stochastic RSI (7,3,3) off the live RSI — the batch
          // q_stoch_rsi ROWS frames as NaN-marked rings: each stage
          // fires only when its window is FULL of live inputs, and
          // stoch is null on a flat 7-session RSI band
          val rsis7 = (st.rsis :+ rsiOpt.getOrElse(Double.NaN)).takeRight(7)
          var srOpt: Option[Double] = None
          val liveR = rsis7.filterNot(_.isNaN)
          if (liveR.length == 7) {
            val (mn, mx) = (liveR.min, liveR.max)
            if (mx > mn)
              srOpt = Some(r6s((rsis7.last - mn) / (mx - mn) * 100.0))
          }
          val srs3 = (st.srs :+ srOpt.getOrElse(Double.NaN)).takeRight(3)
          var sKOpt: Option[Double] = None
          if (srs3.length == 3 && !srs3.exists(_.isNaN))
            sKOpt = Some(r6s(srs3.foldLeft(0.0)(_ + _) / 3.0))
          val sks3 = (st.sks :+ sKOpt.getOrElse(Double.NaN)).takeRight(3)
          var sDOpt: Option[Double] = None
          if (sks3.length == 3 && !sks3.exists(_.isNaN))
            sDOpt = Some(r6s(sks3.foldLeft(0.0)(_ + _) / 3.0))
          // Coppock off the shared close ring — the batch q_coppock
          // integer-micros lag composition reconstructed from the
          // last 13 closes, no new carry fields (cmo/vortex's idiom)
          var rocSumOpt: Option[Double] = None
          var copOpt: Option[Double] = None
          locally {
            // cls20 already carries this bar's close at its tail
            val c = st.cls.takeRight(19) :+ p.close
            def rocM(i: Int, h: Int): Long =
              FastRound.long0((c(i) / c(i - h) - 1.0) * 100.0 * 1e6)
            val last = c.length - 1
            if (trCount >= 8)
              rocSumOpt = Some(
                (rocM(last, 7) + rocM(last, 5)).toDouble / 1e6)
            if (trCount >= 12) {
              val num = (0 to 4).map { j =>
                (5 - j) * (rocM(last - j, 7) + rocM(last - j, 5))
              }.sum
              copOpt = Some(num.toDouble / 15e6)
            }
          }
          // the SCREENER votes — the batch q_signal_confluence
          // comparisons verbatim (RAW folds, multiplication-form
          // zone tests; the display-rounded cci above serves q_cci,
          // the raw fold here serves the screener — two contracts)
          val cls20 = (st.cls :+ p.close).takeRight(20)
          var bull = 0; var bear = 0
          if (trCount >= 20) {
            val sma = cls20.foldLeft(0.0)(_ + _) / 20.0
            val sd = math.sqrt(
              cls20.foldLeft(0.0)((a, x) => a + (x - sma) * (x - sma)) / 20.0)
            if (p.close > sma) bull += 1 else bear += 1
            if (p.close > sma + 2.0 * sd) bull += 1
            if (p.close < sma - 2.0 * sd) bear += 1
            val smaTp = tps20.foldLeft(0.0)(_ + _) / 20.0
            val mdR = tps20.foldLeft(0.0)((a, x) => a + math.abs(x - smaTp)) / 20.0
            if (mdR > 0) {
              if (tpv - smaTp > 1.5 * mdR) bull += 1
              if (tpv - smaTp < -1.5 * mdR) bear += 1
            }
          }
          if (trCount >= 14 && hi14 > lo14) {
            if ((p.close - lo14) * 100.0 > 80.0 * (hi14 - lo14)) bull += 1
            if ((p.close - lo14) * 100.0 < 20.0 * (hi14 - lo14)) bear += 1
          }
          if (trCount >= 26) {
            val hiMax = his.max
            val loMin = los.min
            val sinceHi = his.length - 1 - his.lastIndexWhere(_ == hiMax)
            val sinceLo = los.length - 1 - los.lastIndexWhere(_ == loMin)
            if (sinceHi < sinceLo) bull += 1
            if (sinceLo < sinceHi) bear += 1
          }
          brkUp.foreach(b => if (b) bull += 1)
          brkDown.foreach(b => if (b) bear += 1)
          psOut.foreach(t => if (t._2) bull += 1 else bear += 1)
          // Holt level/trend + EWMA variance — the batch fold orders
          var (hl, hb, ev) = (st.hl, st.hb, st.ev)
          var holtOut: Option[(Double, Double)] = None
          var evOut: Option[Double] = None
          if (st.hasPrev) {
            if (trCount == 2) { hl = p.close; hb = p.close - st.prevClose }
            else {
              val nl = 0.5 * p.close + 0.5 * (hl + hb)
              hb = 0.3 * (nl - hl) + 0.7 * hb
              hl = nl
            }
            holtOut = Some((hl, hb))
            val rr = r6s(math.log(p.close / st.prevClose))
            ev = if (trCount == 2) rr * rr else 0.94 * ev + 0.06 * rr * rr
            evOut = Some(r6scaled(math.sqrt(ev * 252.0)))
          }
          // Holt-Winters: at bar 10 the close ring holds exactly the
          // first two periods, so the SEED + the t=6..10 recursion
          // replay run here in the batch fold's float-op order; from
          // bar 11 the carried (l, b, rotation) state updates live —
          // the infinite-memory recursion a ring can't reconstruct
          var (hwL, hwB, hwU) = (st.hwL, st.hwB, st.hwU)
          var hwOut: Option[(Double, Double, Double, Double)] = None
          def hwStep(y: Double): Unit = {
            val nl = 0.5 * (y - hwU.head) + 0.5 * (hwL + hwB)
            hwB = 0.3 * (nl - hwL) + 0.7 * hwB
            val s = 0.2 * (y - nl) + 0.8 * hwU.head
            hwL = nl
            hwU = hwU.tail :+ s
          }
          if (trCount == 10) {
            val ys = cls20 // bars 1..10 exactly at this count
            hwL = ((((ys(0) + ys(1)) + ys(2)) + ys(3)) + ys(4)) / 5.0
            hwB = (((((ys(5) - ys(0)) + (ys(6) - ys(1))) + (ys(7) - ys(2)))
              + (ys(8) - ys(3))) + (ys(9) - ys(4))) / 25.0
            hwU = (0 to 4).map(ys(_) - hwL).toArray
            (5 until 10).foreach(i => hwStep(ys(i)))
          } else if (trCount > 10) hwStep(p.close)
          if (trCount >= 10)
            hwOut = Some((hwL, hwB, hwU.last, hwL + hwB + hwU.head))
          // money flow: typical-price micros + signed flow ring +
          // running A/D — the batch integer-micros accounting
          val tpmL = FastRound.long0((hi4 + lo4 + p.close) / 3.0 * 1e6)
          val flow: Long =
            if (!st.hasPrev) 0L
            else if (tpmL > st.mfPrev) tpmL * p.volume
            else if (tpmL < st.mfPrev) -(tpmL * p.volume)
            else 0L
          val mfFlows = (st.mfFlows :+ flow).takeRight(14)
          val pos14 = mfFlows.filter(_ > 0).sum
          val neg14 = -mfFlows.filter(_ < 0).sum
          val mfiOpt =
            if (trCount >= 15 && pos14 + neg14 > 0)
              Some(r6scaled(100.0 * pos14.toDouble / (pos14 + neg14).toDouble))
            else None
          // CMO-14 and the Vortex VI± derived from the SHARED close
          // and hi/lo rings — the batch q_cmo / q_vortex window
          // frames reconstructed from state, no new carry fields:
          // 15 ring entries give the 14 transitions both need
          var cmoOpt: Option[Double] = None
          var vipOpt: Option[Double] = None
          var vimOpt: Option[Double] = None
          if (trCount >= 15) {
            val c15 = cls20.takeRight(15)
            val diffs = c15.sliding(2).map(p => r6s(p(1) - p(0))).toList
            val su = r6s(diffs.foldLeft(0.0)((a, d) => a + math.max(d, 0.0)))
            val sd = r6s(diffs.foldLeft(0.0)((a, d) => a + math.max(-d, 0.0)))
            if (su + sd > 0) cmoOpt = Some(r6s((su - sd) / (su + sd) * 100.0))
            val h15 = his.takeRight(15)
            val l15 = los.takeRight(15)
            var (svp, svm, strS) = (0.0, 0.0, 0.0)
            (1 until 15).foreach { j =>
              val (hj, lj) = (h15(j), l15(j))
              val (ph, pl) = (h15(j - 1), l15(j - 1))
              val pc = c15(j - 1)
              svp += r6s(math.abs(hj - pl))
              svm += r6s(math.abs(lj - ph))
              strS += r6s(math.max(hj - lj,
                math.max(math.abs(hj - pc), math.abs(lj - pc))))
            }
            val strR = r6s(strS)
            if (strR > 0) {
              vipOpt = Some(r6s(r6s(svp) / strR))
              vimOpt = Some(r6s(r6s(svm) / strR))
            }
          }
          val multm =
            if (hi4 > lo4)
              FastRound.long0(((p.close - lo4) - (hi4 - p.close))
                / (hi4 - lo4) * 1e6)
            else 0L
          val adM = st.adM + multm * p.volume
          val adLine = adM.toDouble / 1e6
          out += BarRow(userId, java.time.LocalDate.ofEpochDay(p.day.toLong),
            p.open, hi4, lo4, p.close, p.nTicks, p.volume, tr,
            if (trCount >= 14) Some(r6scaled(wilder)) else None, signed, obv,
            if (trCount >= 20) Some(r6scaled(ema20)) else None,
            if (trCount >= 10) Some(r6scaled(wilder10)) else None,
            if (trCount >= 20) Some(r6scaled(ema20 + 2.0 * wilder10)) else None,
            if (trCount >= 20) Some(r6scaled(ema20 - 2.0 * wilder10)) else None,
            dipOpt.map(r6scaled), dimOpt.map(r6scaled), dxOpt.map(r6scaled),
            if (dxCnt >= 14) Some(r6scaled(adxV)) else None,
            vwap, pctK, pctD, dcUp, dcLo, dcMid, brkUp, brkDown,
            psOut.map(t => r6scaled(t._1)), psOut.map(_._2), psOut.map(_._3),
            cciOpt, willrOpt, rsiOpt, bull, bear, bull - bear,
            holtOut.map(t => r6scaled(t._1)), holtOut.map(t => r6scaled(t._2)),
            holtOut.map(t => r6scaled(t._1 + t._2)), evOut,
            mfiOpt, adLine, cmoOpt, vipOpt, vimOpt,
            hwOut.map(t => r6scaled(t._1)), hwOut.map(t => r6scaled(t._2)),
            hwOut.map(t => r6scaled(t._3)), hwOut.map(t => r6scaled(t._4)),
            srOpt, sKOpt, sDOpt, rocSumOpt, copOpt)
          st = st.copy(lastDay = p.day, hasEmitted = true, hasPrev = true,
            prevClose = p.close, prevHi = hi4, prevLo = lo4,
            trCount = trCount, seedSum = seedSum, wilder = wilder,
            seedSum10 = seedSum10, wilder10 = wilder10, ema20 = ema20,
            dmCnt = dmCnt, sumP = sumP, sdp = sdp, sumM = sumM, sdm = sdm,
            sumT = sumT, strv = strv,
            dxCnt = dxCnt, dxSum = dxSum, adxV = adxV, obv = obv,
            his = his, los = los, ks = ks,
            psDir = psDir, psSar = psSar, psEp = psEp, psAf = psAf,
            tps = tps20, gSum = gSum, gW = gW, lSum = lSum, lW = lW,
            cls = cls20, hl = hl, hb = hb, ev = ev,
            hwL = hwL, hwB = hwB, hwU = hwU,
            rsis = rsis7, srs = srs3, sks = sks3,
            mfPrev = tpmL, mfFlows = mfFlows, adM = adM)
        }
        pending = pending.filter(_.day > ready.last.day)
      }
      st = st.copy(pending = pending)
      state.update(st)
      if (pending.nonEmpty) {
        val wake = (pending.map(_.day).min.toLong + 1L) * DayMs
        if (wake > wm) state.setTimeoutTimestamp(wake)
      }
      out.result().iterator
    }
    ticks
      .filter(graft.operators.Warehouse.validTick)
      .withColumn("vol", coalesce(
        get_json_object(col("props"), "$.k").cast("long"), lit(0L)))
      .withWatermark("ts", watermarkDelay)
      .select("user_id", "event_id", "ts", "value", "vol").as[BarTick]
      .groupByKey(_.user_id)
      // the state encoder is KRYO, not the reflective product encoder:
      // BarState is ~50 fields with nine ring lists, and the Catalyst
      // converter walks every field and boxes every ring element on
      // EVERY per-key get/put — measured ~4.9 KB/key state rows and
      // the slowest streaming leg by ~40%. Kryo writes one binary blob
      // (~2x smaller, ~10x cheaper to code) and the state never needs
      // SQL-queryability. Same upgrade contract as the schema note
      // above: restart with a fresh checkpoint across state changes.
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)(
        org.apache.spark.sql.Encoders.kryo[BarState],
        implicitly[org.apache.spark.sql.Encoder[BarRow]])
  }

  /** Watermarked tumbling-window aggregation per event_type — the
    * streaming dual of Warehouse.windowAgg. State is bounded by the
    * 10-minute watermark.
    */
  def windowedAgg(ticks: DataFrame): DataFrame =
    ticks
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"),
        avg("value").as("mean"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("n"), col("total"), col("mean"))

  // ---------------------------------------------------- stateful indicators

  case class Tick(user_id: Long, event_id: Long, ts: java.sql.Timestamp, value: Double)

  /** Per-symbol state: the last [[MaxHistory]] prices, O(1) EMA, and
    * Welford (count, mean, M2) running moments of returns — the same
    * update order Spark's stddev_pop applies over an expanding window
    * frame, so streamed volatility is bit-compatible with batch.
    * `(lastMicros, lastEventId)` is the event-time high-water mark for
    * the late-data guard — the event id breaks timestamp ties exactly
    * like the batch dual's (ts, event_id) ordering, and makes an exact
    * re-delivery of an accepted tick drop instead of double-counting.
    * `ring` holds the prices as raw IEEE-754 doubles, tick `k` in slot
    * `(k - 1) % MaxHistory`, updated in place: a binary field decodes
    * without `MapObjects`, which resolves with fresh lambda ids in each
    * microbatch and so compiles a new state decoder every time.
    *
    * NOTE: changing the state fields changes the flatMapGroupsWithState
    * encoder schema — a checkpoint written by an older build (a
    * `prices` list) cannot resume on this one (Spark rejects the state
    * schema); restart streaming jobs with a fresh checkpoint across
    * upgrades.
    */
  case class IndicatorState(ring: Array[Byte], ema12: Double, ema26: Double,
      n: Long, retN: Long = 0L, retMean: Double = 0.0, retM2: Double = 0.0,
      lastMicros: Long = Long.MinValue, lastEventId: Long = Long.MinValue)

  case class IndicatorRow(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
      value: Double, rsi_14: Option[Double], sma_20: Option[Double],
      ema_12: Option[Double], ema_26: Option[Double],
      volatility: Option[Double])

  private val K12 = 2.0 / 13.0
  private val K26 = 2.0 / 27.0
  // prices kept per symbol: SMA-20 reads the last 20, RSI-14 the last
  // 15 and the return only the last one; nothing reads further back
  private val MaxHistory = 20

  /** Microsecond epoch of a Timestamp — Timestamp.getTime is only
    * millisecond-granular, and the batch duals order by the FULL
    * microsecond ts, so stateful operators must sort by this or
    * same-millisecond ticks process in a different order than batch.
    */
  private def tsMicros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** (micros, eventId) strictly after (hwMicros, hwEventId) —
    * lexicographic, matching the batch duals' (ts, event_id) order.
    */
  private def ordAfter(micros: Long, eventId: Long,
      hwMicros: Long, hwEventId: Long): Boolean =
    micros > hwMicros || (micros == hwMicros && eventId > hwEventId)

  /** Incremental per-symbol indicator state — the streaming dual of
    * Indicators.analyticsFull: a bounded price ring buffer plus O(1)
    * EMA state per key, updated per tick (the same update the
    * reference applies per Kafka message,
    * analytics/technical_indicators.py:264-268).
    */
  def updateIndicators(userId: Long, ticks: Iterator[Tick],
      state: GroupState[IndicatorState]): Iterator[IndicatorRow] = {
    var st = state.getOption.getOrElse(IndicatorState(new Array[Byte](MaxHistory * 8), 0.0, 0.0, 0L))
    val ring = java.nio.ByteBuffer.wrap(st.ring)
    def slot(k: Long): Int = ((k - 1) % MaxHistory).toInt * 8
    def price(k: Long): Double = ring.getDouble(slot(k))
    // late-data guard: a tick at or before the (ts, event_id) of the
    // last tick accepted (out-of-order ACROSS microbatches — within one
    // batch we sort — or re-delivered) would silently corrupt the
    // recurrences or double-count; drop it like a watermark would
    val out = ticks.toSeq.sortBy(t => (tsMicros(t.ts), t.event_id)).flatMap { t =>
      if (!ordAfter(tsMicros(t.ts), t.event_id, st.lastMicros, st.lastEventId)) None
      else {
        val n = st.n + 1
        val e12 = if (n == 1) t.value else t.value * K12 + st.ema12 * (1.0 - K12)
        val e26 = if (n == 1) t.value else t.value * K26 + st.ema26 * (1.0 - K26)
        // Welford update on this tick's return (defined from tick 2 on)
        var (rN, rMean, rM2) = (st.retN, st.retMean, st.retM2)
        if (n > 1) {
          val ret = (t.value - price(n - 1)) / price(n - 1)
          rN += 1
          val d = ret - rMean
          rMean += d / rN
          rM2 += d * (ret - rMean)
        }
        ring.putDouble(slot(n), t.value)
        st = st.copy(ema12 = e12, ema26 = e26, n = n, retN = rN, retMean = rMean,
          retM2 = rM2, lastMicros = tsMicros(t.ts), lastEventId = t.event_id)
        val rsi = if (n >= 15) {
          val deltas = (n - 13 to n).map(k => price(k) - price(k - 1))
          val g = deltas.foldLeft(0.0)((a, d) => a + math.max(d, 0.0)) / 14.0
          val l = deltas.foldLeft(0.0)((a, d) => a + math.max(-d, 0.0)) / 14.0
          Some(if (l == 0.0) 100.0 else 100.0 - 100.0 / (1.0 + g / l))
        } else None
        val sma = if (n >= 20) Some((n - 19 to n).foldLeft(0.0)(_ + price(_)) / 20.0) else None
        val vol = if (n >= 21) Some(math.sqrt(rM2 / rN) * math.sqrt(252.0)) else None
        Some(IndicatorRow(userId, t.event_id, t.ts, t.value, rsi, sma,
          if (n >= 12) Some(e12) else None, if (n >= 26) Some(e26) else None, vol))
      }
    }
    state.update(st)
    out.iterator
  }

  /** Streaming per-symbol indicators via flatMapGroupsWithState.
    * Filters on the batch path's predicate (Warehouse.validTick) so
    * streaming state never ingests the invalid prices the batch
    * pipeline rejects.
    */
  def statefulIndicators(spark: SparkSession, ticks: DataFrame): Dataset[IndicatorRow] = {
    import spark.implicits._
    ticks
      .filter(graft.operators.Warehouse.validTick)
      .select("user_id", "event_id", "ts", "value").as[Tick]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(updateIndicators)
  }

  case class SessionState(sessionId: Long, startMicros: Long, endMicros: Long,
      n: Long, value: Double, lastEventId: Long = Long.MinValue)

  case class SessionRow(user_id: Long, session_id: Long,
      session_start: java.sql.Timestamp, session_end: java.sql.Timestamp,
      n_events: Long, session_value: Double)

  private val SessionGapSec = 7200.0

  /** Streaming gap-based sessionization — the stateful dual of
    * Warehouse.sessionize: a tick more than 2 h after its
    * predecessor closes the user's session. CLOSED sessions are
    * emitted as they close (append mode); the open session rides in
    * state across microbatches, so a finite stream emits exactly the
    * batch sessions minus each user's final (still-open) one —
    * spec-asserted. State is O(1) per key.
    */
  def sessionizeStream(spark: SparkSession, ticks: DataFrame): Dataset[SessionRow] = {
    import spark.implicits._
    def update(userId: Long, ts: Iterator[Tick],
        state: GroupState[SessionState]): Iterator[SessionRow] = {
      val out = Seq.newBuilder[SessionRow]
      var st = state.getOption.orNull
      // late-data guard: see updateIndicators — a tick at or before
      // the last accepted tick's (ts, event_id), the open session's
      // (end, event_id), would produce sessions that run backwards or
      // double-count a re-delivery
      ts.toSeq.sortBy(t => (tsMicros(t.ts), t.event_id)).foreach { t =>
        val micros = tsMicros(t.ts)
        if (st == null)
          st = SessionState(0L, micros, micros, 1L, t.value, t.event_id)
        else if (!ordAfter(micros, t.event_id, st.endMicros, st.lastEventId)) ()
        else if (micros / 1e6 - st.endMicros / 1e6 > SessionGapSec) {
          out += closedRow(userId, st)
          st = SessionState(st.sessionId + 1, micros, micros, 1L, t.value, t.event_id)
        } else
          st = st.copy(endMicros = micros, n = st.n + 1,
            value = st.value + t.value, lastEventId = t.event_id)
      }
      if (st != null) state.update(st)
      out.result().iterator
    }
    ticks.select("user_id", "event_id", "ts", "value").as[Tick]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  private def closedRow(userId: Long, st: SessionState): SessionRow =
    SessionRow(userId, st.sessionId,
      microsToTs(st.startMicros), microsToTs(st.endMicros), st.n,
      FastRound.scale(st.value, 10000.0, 4))

  private def microsToTs(m: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(m / 1000L)
    t.setNanos(((m % 1000000L) * 1000L).toInt)
    t
  }

  /** Streaming duplicate-tick suppression — the producer's per-key
    * duplicate trade_datetime guard (producer.py:243-252) as a
    * streaming operator: the first-arrived row per (user_id, ts)
    * survives. The watermark bounds the dedup state (keys older than
    * the delay are evicted), which is what makes this run forever on
    * a real stream — an unbounded dropDuplicates would grow state
    * linearly in distinct keys.
    */
  def dedupStream(ticks: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    ticks
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("user_id", "ts")

  /** Streaming threshold alerts — the per-message alert generation of
    * analytics_consumer.py:226-268 over the stateful indicator stream:
    * the batch rule set ([[graft.operators.Indicators.alertsOf]]) over
    * the indicators rounded to 4 places as the batch surface rounds
    * them, so the streamed alert rows equal the batch q_alerts rows
    * (spec-proven).
    */
  def alertsStream(spark: SparkSession, ticks: DataFrame): DataFrame =
    graft.operators.Indicators.alertsOf(statefulIndicators(spark, ticks).toDF()
      .withColumn("rsi_14", round(col("rsi_14"), 4))
      .withColumn("volatility", round(col("volatility"), 4)))
}
