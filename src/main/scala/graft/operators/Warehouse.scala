package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse / pipeline semantics from the reference's ingestion and
  * schema layer, re-expressed as declarative Spark plans over the
  * `events` tick stream (user_id = company key, value = price).
  *
  * - validation: producer.py:255-288 (null/≤0/NaN price rejection)
  * - duplicate-tick suppression: producer.py:243-252
  * - latest trade date per company: producer.py:226-231
  * - latest row per (company, day): db/current_schema.sql:134-162
  * - realtime→historical daily OHLC: db/current_schema.sql:165-200
  * - candles + time-window scans: dashboard/app.py:54-84, 221-309
  *
  * All window queries shuffle exactly once on the partition key; the
  * per-key sorted runs then stream (no group materialization), which
  * is the shape that holds at 100 TB.
  */
object Warehouse {

  /** Cleaned tick stream: reject null / non-positive / NaN prices
    * (producer.py:255-288). The filter is pushed to the parquet scan.
    * Unordered — this is the internal base for downstream pipelines
    * (an ORDER BY here would cost every consumer a global range sort).
    */
  def validTicks(spark: SparkSession, dir: String): DataFrame =
    validTicksOf(Tables.events(spark, dir))

  /** The ONE definition of "valid tick" (producer.py:255-288): every
    * batch and streaming tick path filters on it, and
    * [[ErrorLedger.invalidTick]] is its negation. It is never null, so
    * the two split any input exactly.
    */
  private[graft] val validTick: Column =
    col("value").isNotNull && col("value") > 0 && !isnan(col("value")) &&
      col("user_id").isNotNull

  /** [[validTick]] on an arbitrary events-shaped input, projected to
    * the tick columns (the streaming gates, ScaleProbe and the
    * dir-based loaders share it).
    */
  def validTicksOf(events: DataFrame): DataFrame =
    events.filter(validTick)
      .select("event_id", "ts", "user_id", "event_type", "value")

  /** [[validTicks]] as a registry query entry (unordered — the driver
    * compare canonicalizes row order; the r13 sweep dropped the
    * trailing display sort).
    */
  def validateTicks(spark: SparkSession, dir: String): DataFrame =
    validTicks(spark, dir)

  def validateTicksSql: String =
    """SELECT event_id, ts, user_id, event_type, value
      |FROM events
      |WHERE value IS NOT NULL AND value > 0 AND NOT isnan(value)
      |  AND user_id IS NOT NULL
      |ORDER BY event_id""".stripMargin

  /** Trading-hours session gate (error_handling.py:284-293,
    * `is_trading_hours`: weekday ∧ hour ∈ [9, 16]). The reference
    * checks the DRIVER's wall clock once per call — useless for
    * historical reprocessing — so the predicate applies to each
    * tick's own event time instead, composed with the validation
    * predicate (the reference consumer gates ingest on both). A real
    * deployment would extend the session calendar with holidays; the
    * predicate is a plain codegen'd conjunction pushed into the scan,
    * so the calendar can grow to a broadcast join without changing
    * the shape.
    */
  def tradingHours(spark: SparkSession, dir: String): DataFrame =
    tradingHoursOf(validTicksOf(Tables.events(spark, dir)))

  /** The session predicate on an arbitrary validated tick frame —
    * Spark `dayofweek` is 1=Sunday..7=Saturday, so Mon-Fri = [2, 6].
    */
  def tradingHoursOf(ticks: DataFrame): DataFrame =
    ticks.filter(dayofweek(col("ts")).between(2, 6) &&
      hour(col("ts")).between(9, 16))

  def tradingHoursSql: String =
    """SELECT event_id, ts, user_id, event_type, value
      |FROM events
      |WHERE value IS NOT NULL AND value > 0 AND NOT isnan(value)
      |  AND user_id IS NOT NULL
      |  AND isodow(ts) <= 5 AND hour(ts) BETWEEN 9 AND 16
      |ORDER BY event_id""".stripMargin

  /** Robust price-OUTLIER report — the statistical tier of the
    * validation story (the reference's gate rejects structurally bad
    * ticks; this flags structurally VALID ticks whose price is
    * implausible for their symbol — fat-finger prints, bad feeds):
    * per symbol, the modified z-score of Iglewicz & Hoaglin
    * (0.6745·(x − median)/MAD), flagging |z| > 3.5 — the robust rule
    * that a few wild prints cannot drag, where a mean/stddev z-score
    * masks its own outliers. A symbol whose prices never vary
    * (MAD = 0) flags nothing by definition.
    *
    * Cross-engine exactness: the median and MAD round to 6 decimals
    * at each stage, so every DOWNSTREAM comparison is over identical
    * doubles on both engines (the same residual the exact-percentile
    * family already carries).
    *
    * Scale shape: two exact-percentile aggregation passes over the
    * validated ticks (symbol-keyed — map-side partials, symbol-sized
    * results broadcast back); at 100 TB the documented swap is
    * `approx_percentile` for both passes (the [[percentilesApprox]]
    * sketch dual) — same plan, bounded memory.
    */
  def anomalyTicks(spark: SparkSession, dir: String): DataFrame =
    anomalyTicksOf(Tables.events(spark, dir))

  /** The same report on an arbitrary events-shaped input (spec entry
    * for planted outliers) — trains the [[anomalyModelOf]] model and
    * serves it through [[anomalyServe]], the SAME serve path the
    * streaming gate rides, so batch and stream verdicts share one
    * definition.
    */
  private[graft] def anomalyTicksOf(events: DataFrame): DataFrame =
    anomalyServe(validTicksOf(events), anomalyModelOf(events))

  /** Per-symbol robust price model — (median, MAD), each rounded to
    * 6 dp: the symbol-sized artifact the anomaly gate broadcasts.
    * Train offline on the standing corpus, serve online
    * ([[graft.streaming.TickStream.anomalyTicksStream]]).
    */
  private[graft] def anomalyModelOf(events: DataFrame): DataFrame = {
    val v = validTicksOf(events)
    val med = v.groupBy("user_id")
      .agg(round(percentile(col("value"), lit(0.5)), 6).as("med"))
    v.join(broadcast(med), Seq("user_id"))
      .groupBy("user_id")
      .agg(max("med").as("med"),
        round(percentile(abs(col("value") - col("med")), lit(0.5)), 6)
          .as("mad"))
  }

  /** Serve leg of the anomaly gate: flag |modified z| > 3.5 on an
    * arbitrary VALIDATED tick frame against a broadcast (med, MAD)
    * model. A pure stream-static broadcast join + projection — zero
    * state, streaming-legal, and the one definition both duals share.
    */
  private[graft] def anomalyServe(ticks: DataFrame,
      model: DataFrame): DataFrame =
    ticks.join(broadcast(model), Seq("user_id"))
      .withColumn("z",
        round(lit(0.6745) * (col("value") - col("med")) / col("mad"), 6))
      .filter(col("mad") > 0 && abs(col("z")) > 3.5)
      .select("event_id", "user_id", "ts", "value", "med", "mad", "z")

  def anomalyTicksSql: String =
    """WITH v AS (
      |  SELECT event_id, ts, user_id, value FROM events
      |  WHERE value IS NOT NULL AND value > 0 AND NOT isnan(value)
      |    AND user_id IS NOT NULL
      |), m AS (
      |  SELECT user_id, round(quantile_cont(value, 0.5), 6) AS med
      |  FROM v GROUP BY user_id
      |), a AS (
      |  SELECT v.*, med FROM v JOIN m USING (user_id)
      |), d AS (
      |  SELECT user_id, round(quantile_cont(abs(value - med), 0.5), 6) AS mad
      |  FROM a GROUP BY user_id
      |)
      |SELECT event_id, user_id, ts, value, med, mad,
      |  round(0.6745 * (value - med) / mad, 6) AS z
      |FROM a JOIN d USING (user_id)
      |WHERE mad > 0 AND abs(round(0.6745 * (value - med) / mad, 6)) > 3.5
      |ORDER BY event_id""".stripMargin

  /** Per-symbol MAXIMUM DRAWDOWN over the daily close series — the
    * risk summary every dashboard's performance panel re-derives:
    * daily closes (last valid print per day, the [[returnCorr]]
    * close rule), a running peak, and the deepest peak-to-trough
    * decline with the day it bottomed (earliest day on ties). The
    * close and peak columns carry raw prices verbatim (max of
    * observed values — no float synthesis); only the drawdown ratio
    * rounds.
    *
    * Scale shape: one symbol-keyed shuffle serves the daily-close
    * aggregate, the running-max window, and the trough selection —
    * the partitioning is established once and reused (the indicator-
    * family shape); rows entering the windows are symbol×days, never
    * ticks.
    */
  def drawdown(spark: SparkSession, dir: String): DataFrame = {
    val closes = validTicks(spark, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("trade_date"))
      .agg(max_by(col("value"), struct(col("ts"), col("event_id")))
        .as("close"))
    val runW = Window.partitionBy("user_id").orderBy("trade_date")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pickW = Window.partitionBy("user_id")
      .orderBy(col("dd"), col("trade_date"))
    closes
      .withColumn("peak", max("close").over(runW))
      .withColumn("dd", round(col("close") / col("peak") - 1.0, 8))
      .withColumn("rn", row_number().over(pickW))
      .withColumn("n_days", count(lit(1)).over(Window.partitionBy("user_id")))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n_days"),
        col("dd").as("max_drawdown"),
        col("trade_date").as("trough_day"),
        col("close").as("trough_close"),
        col("peak").as("peak_close"))
  }

  def drawdownSql: String =
    """WITH v AS (
      |  SELECT event_id, ts, user_id, value FROM events
      |  WHERE value IS NOT NULL AND value > 0 AND NOT isnan(value)
      |    AND user_id IS NOT NULL
      |), c AS (
      |  SELECT user_id, trade_date, value AS close FROM (
      |    SELECT user_id, CAST(ts AS DATE) AS trade_date, value,
      |      row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |                         ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM v) WHERE rn = 1
      |), p AS (
      |  SELECT user_id, trade_date, close,
      |    max(close) OVER (PARTITION BY user_id ORDER BY trade_date
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      |  FROM c
      |), d AS (
      |  SELECT user_id, trade_date, close, peak,
      |    round(close / peak - 1.0, 8) AS dd,
      |    count(*) OVER (PARTITION BY user_id) AS n_days
      |  FROM p
      |), r AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |    ORDER BY dd, trade_date) AS rn
      |  FROM d
      |)
      |SELECT user_id, n_days, dd AS max_drawdown, trade_date AS trough_day,
      |  close AS trough_close, peak AS peak_close
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ------------------------------------------- daily-series analytics
  //
  // The OHLC-derived indicator tier (stochastic, ATR) and the
  // cross-sectional tier (VWAP, beta) the reference's dashboard layer
  // stops short of but every market-analytics deployment adds next.
  // All four ride the existing kernels — ohlcBy(validated) /
  // dailyReturnsOf — so "daily close/high/low" can never mean two
  // different things across the query surface, and every window runs
  // over symbol×days rows, never ticks.

  /** Stochastic oscillator %K/%D over the validated daily OHLC:
    * %K = 100·(close − min(low,14)) / (max(high,14) − min(low,14)),
    * NULL until 14 sessions of history and on a flat 14-day band
    * (max = min — no range to normalize against); %D = 3-session SMA
    * of %K (NULL until two full %K values precede; flat-band NULLs
    * are skipped by AVG on both engines, the documented semantics).
    *
    * Scale shape: ONE symbol-keyed shuffle from [[ohlcBy]] serves the
    * day rollup and every window above it (rn, hi/lo-14, %D — all
    * partitioned by user_id); window input is symbols × days.
    * Rounding: %K rounds to 6 before %D averages it, so both engines
    * average identical doubles over the identical 3-row frame.
    */
  def stochastic(spark: SparkSession, dir: String): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    val w14 = wRn.rowsBetween(-13, 0)
    val w3 = wRn.rowsBetween(-2, 0)
    ohlcBy(spark, dir, to_date(col("ts")).as("trade_date"), "trade_date",
      validated = true)
      .withColumn("rn", row_number().over(wRn))
      .withColumn("hi14", max("high_price").over(w14))
      .withColumn("lo14", min("low_price").over(w14))
      .withColumn("pct_k", round(
        when(col("rn") >= 14 && col("hi14") > col("lo14"),
          (col("close_price") - col("lo14")) /
            (col("hi14") - col("lo14")) * 100.0), 6))
      .withColumn("pct_d",
        round(when(col("rn") >= 16, avg("pct_k").over(w3)), 6))
      .select("user_id", "trade_date", "close_price", "hi14", "lo14",
        "pct_k", "pct_d")
  }

  def stochasticSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), w AS (
       |  SELECT user_id, trade_date, close_price,
       |    row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn,
       |    max(high_price) OVER (PARTITION BY user_id ORDER BY trade_date
       |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS hi14,
       |    min(low_price) OVER (PARTITION BY user_id ORDER BY trade_date
       |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS lo14
       |  FROM ohlc
       |), k AS (
       |  SELECT *,
       |    round(CASE WHEN rn >= 14 AND hi14 > lo14
       |      THEN (close_price - lo14) / (hi14 - lo14) * 100.0 END, 6) AS pct_k
       |  FROM w
       |)
       |SELECT user_id, trade_date, close_price, hi14, lo14, pct_k,
       |  round(CASE WHEN rn >= 16 THEN
       |    avg(pct_k) OVER (PARTITION BY user_id ORDER BY trade_date
       |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) END, 6) AS pct_d
       |FROM k ORDER BY user_id, trade_date""".stripMargin

  /** Average True Range over the validated daily OHLC: true range =
    * max(high − low, |high − prev close|, |low − prev close|) — the
    * gap-aware volatility measure (a session-1 row has no previous
    * close, so its TR is the plain high − low); ATR-14 = 14-session
    * SMA of TR, NULL until the window fills (the indicator family's
    * null-till-full convention; the reference's Wilder-smoothing dual
    * is the same recurrence shape as EMA if ever needed).
    *
    * Scale shape: identical to [[stochastic]] — one symbol-keyed
    * shuffle, all windows over symbols × days. TR rounds to 6 before
    * the SMA so both engines average identical doubles.
    */
  def atr(spark: SparkSession, dir: String): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    val w14 = wRn.rowsBetween(-13, 0)
    dailyTrBase(spark, dir)
      .withColumn("atr_14",
        round(when(col("rn") >= 14, avg("tr").over(w14)), 6))
      .select("user_id", "trade_date", "high_price", "low_price",
        "close_price", "tr", "atr_14")
  }

  /** Shared daily true-range base for [[atr]] and [[atrWilder]] —
    * validated daily OHLC + TR (rounded 6 so every downstream
    * smoothing consumes identical doubles on both engines).
    */
  private def dailyTrBase(spark: SparkSession, dir: String): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    ohlcBy(spark, dir, to_date(col("ts")).as("trade_date"), "trade_date",
      validated = true)
      .withColumn("rn", row_number().over(wRn))
      .withColumn("prev_close", lag("close_price", 1).over(wRn))
      .withColumn("tr", round(
        when(col("prev_close").isNull, col("high_price") - col("low_price"))
          .otherwise(greatest(
            col("high_price") - col("low_price"),
            abs(col("high_price") - col("prev_close")),
            abs(col("low_price") - col("prev_close")))), 6))
  }

  def atrSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), t AS (
       |  SELECT user_id, trade_date, high_price, low_price, close_price,
       |    row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn,
       |    lag(close_price) OVER (PARTITION BY user_id
       |      ORDER BY trade_date) AS prev_close
       |  FROM ohlc
       |), tr AS (
       |  SELECT *, round(CASE WHEN prev_close IS NULL
       |    THEN high_price - low_price
       |    ELSE greatest(high_price - low_price,
       |                  abs(high_price - prev_close),
       |                  abs(low_price - prev_close)) END, 6) AS tr
       |  FROM t
       |)
       |SELECT user_id, trade_date, high_price, low_price, close_price, tr,
       |  round(CASE WHEN rn >= 14 THEN
       |    avg(tr) OVER (PARTITION BY user_id ORDER BY trade_date
       |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) END, 6) AS atr_14
       |FROM tr ORDER BY user_id, trade_date""".stripMargin

  /** VORTEX INDICATOR (VI-14) over the validated daily series — the
    * trend-direction oscillator alongside [[adx]]'s DI pair: upward
    * vortex movement VM+ = |high − prev low|, downward VM− =
    * |low − prev high| (undefined on a symbol's first session), and
    * VI± = Σ₁₄VM± / Σ₁₄TR over the trailing 14 sessions — NULL until
    * 14 full VM values exist (session 15) and on a 14-day flat band
    * (ΣTR = 0, nothing to normalize against), the tier's null-till-
    * full convention.
    *
    * Cross-engine exactness: VM and TR round to 6 before the window
    * sums, the SUMS round to 6 before the division (killing the
    * engines' different windowed-sum association orders), and the
    * ratio rounds to 6 — every remaining float op is a single
    * correctly-rounded IEEE division identical on both engines.
    *
    * Scale shape: identical to [[atr]] — ONE symbol-keyed shuffle
    * from [[ohlcBy]] serves the day rollup and every window above it;
    * window input is symbols × days, never ticks.
    */
  def vortex(spark: SparkSession, dir: String): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    val w14 = wRn.rowsBetween(-13, 0)
    dailyTrBase(spark, dir)
      .withColumn("vm_plus", round(
        abs(col("high_price") - lag("low_price", 1).over(wRn)), 6))
      .withColumn("vm_minus", round(
        abs(col("low_price") - lag("high_price", 1).over(wRn)), 6))
      .withColumn("s_tr", round(sum("tr").over(w14), 6))
      .withColumn("vi_plus", round(
        when(col("rn") >= 15 && col("s_tr") > 0,
          round(sum("vm_plus").over(w14), 6) / col("s_tr")), 6))
      .withColumn("vi_minus", round(
        when(col("rn") >= 15 && col("s_tr") > 0,
          round(sum("vm_minus").over(w14), 6) / col("s_tr")), 6))
      .select("user_id", "trade_date", "tr", "vm_plus", "vm_minus",
        "vi_plus", "vi_minus")
  }

  def vortexSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), t AS (
       |  SELECT user_id, trade_date, high_price, low_price, close_price,
       |    row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn,
       |    lag(close_price) OVER (PARTITION BY user_id
       |      ORDER BY trade_date) AS prev_close,
       |    lag(high_price) OVER (PARTITION BY user_id
       |      ORDER BY trade_date) AS prev_high,
       |    lag(low_price) OVER (PARTITION BY user_id
       |      ORDER BY trade_date) AS prev_low
       |  FROM ohlc
       |), v AS (
       |  SELECT user_id, trade_date, rn,
       |    round(CASE WHEN prev_close IS NULL
       |      THEN high_price - low_price
       |      ELSE greatest(high_price - low_price,
       |                    abs(high_price - prev_close),
       |                    abs(low_price - prev_close)) END, 6) AS tr,
       |    round(abs(high_price - prev_low), 6) AS vm_plus,
       |    round(abs(low_price - prev_high), 6) AS vm_minus
       |  FROM t
       |), s AS (
       |  SELECT user_id, trade_date, rn, tr, vm_plus, vm_minus,
       |    round(sum(tr) OVER w14, 6) AS s_tr,
       |    round(sum(vm_plus) OVER w14, 6) AS s_vp,
       |    round(sum(vm_minus) OVER w14, 6) AS s_vm
       |  FROM v
       |  WINDOW w14 AS (PARTITION BY user_id ORDER BY trade_date
       |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
       |)
       |SELECT user_id, trade_date, tr, vm_plus, vm_minus,
       |  round(CASE WHEN rn >= 15 AND s_tr > 0 THEN s_vp / s_tr END, 6)
       |    AS vi_plus,
       |  round(CASE WHEN rn >= 15 AND s_tr > 0 THEN s_vm / s_tr END, 6)
       |    AS vi_minus
       |FROM s ORDER BY user_id, trade_date""".stripMargin

  /** ULTIMATE OSCILLATOR (7/14/28) — Williams' three-horizon momentum
    * blend next to the single-horizon [[stochastic]]: buying pressure
    * BP = close − min(low, prev close), true-range-vs-gap
    * TRᵘ = max(high, prev close) − min(low, prev close) (first
    * session: plain close − low / high − low), per-horizon averages
    * aₙ = Σₙ BP / Σₙ TRᵘ, and UO = 100·(4a₇ + 2a₁₄ + a₂₈)/7 — NULL
    * until 28 sessions and whenever any horizon's ΣTRᵘ is 0.
    *
    * Cross-engine exactness: same discipline as [[vortex]] — BP/TRᵘ
    * round to 6 before the sums, sums round to 6 before dividing, the
    * remaining ops (three divisions, the weighted blend) are
    * identical correctly-rounded IEEE arithmetic on both engines.
    *
    * Scale shape: one symbol-keyed shuffle; SIX window sums share the
    * one sort order (three frames × two operands), all over
    * symbols × days.
    */
  def ultimate(spark: SparkSession, dir: String): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    def wN(n: Int) = wRn.rowsBetween(-(n - 1), 0)
    val base = dailyTrBase(spark, dir)
      .withColumn("lo_tc",
        least(col("low_price"), coalesce(col("prev_close"), col("low_price"))))
      .withColumn("hi_tc",
        greatest(col("high_price"),
          coalesce(col("prev_close"), col("high_price"))))
      .withColumn("bp", round(col("close_price") - col("lo_tc"), 6))
      .withColumn("tr_u", round(col("hi_tc") - col("lo_tc"), 6))
    val withSums = Seq(7, 14, 28).foldLeft(base) { (df, n) =>
      df.withColumn(s"sb$n", round(sum("bp").over(wN(n)), 6))
        .withColumn(s"st$n", round(sum("tr_u").over(wN(n)), 6))
    }
    withSums
      .withColumn("uo", round(
        when(col("rn") >= 28 && col("st7") > 0 && col("st14") > 0 &&
          col("st28") > 0,
          (col("sb7") / col("st7") * 4.0 + col("sb14") / col("st14") * 2.0 +
            col("sb28") / col("st28")) * 100.0 / 7.0), 6))
      .select("user_id", "trade_date", "close_price", "bp", "tr_u", "uo")
  }

  def ultimateSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), t AS (
       |  SELECT user_id, trade_date, high_price, low_price, close_price,
       |    row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn,
       |    lag(close_price) OVER (PARTITION BY user_id
       |      ORDER BY trade_date) AS prev_close
       |  FROM ohlc
       |), b AS (
       |  SELECT user_id, trade_date, close_price, rn,
       |    round(close_price
       |      - least(low_price, coalesce(prev_close, low_price)), 6) AS bp,
       |    round(greatest(high_price, coalesce(prev_close, high_price))
       |      - least(low_price, coalesce(prev_close, low_price)), 6) AS tr_u
       |  FROM t
       |), s AS (
       |  SELECT user_id, trade_date, close_price, rn, bp, tr_u,
       |    round(sum(bp) OVER w7, 6) AS sb7, round(sum(tr_u) OVER w7, 6) AS st7,
       |    round(sum(bp) OVER w14, 6) AS sb14,
       |    round(sum(tr_u) OVER w14, 6) AS st14,
       |    round(sum(bp) OVER w28, 6) AS sb28,
       |    round(sum(tr_u) OVER w28, 6) AS st28
       |  FROM b
       |  WINDOW
       |    w7 AS (PARTITION BY user_id ORDER BY trade_date
       |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
       |    w14 AS (PARTITION BY user_id ORDER BY trade_date
       |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
       |    w28 AS (PARTITION BY user_id ORDER BY trade_date
       |      ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
       |)
       |SELECT user_id, trade_date, close_price, bp, tr_u,
       |  round(CASE WHEN rn >= 28 AND st7 > 0 AND st14 > 0 AND st28 > 0
       |    THEN (sb7 / st7 * 4.0 + sb14 / st14 * 2.0 + sb28 / st28)
       |      * 100.0 / 7.0 END, 6) AS uo
       |FROM s ORDER BY user_id, trade_date""".stripMargin

  /** CHANDE MOMENTUM OSCILLATOR (CMO-14) — the unsmoothed RSI dual:
    * over the trailing 14 session-to-session moves, CMO = 100·(Σup −
    * Σdown)/(Σup + Σdown) ∈ [−100, 100] — [[rsi]]'s gain/loss split
    * without the averaging, so it reuses the identical diff/gain/loss
    * convention (diff rounds to 6; first session has no diff). NULL
    * until 14 full diffs exist (session 15) and on a 14-day flat run
    * (Σup + Σdown = 0).
    *
    * Cross-engine exactness and scale shape: exactly [[vortex]]'s —
    * one symbol-keyed shuffle, round-before-sum, round-before-divide.
    */
  def cmo(spark: SparkSession, dir: String): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    val w14 = wRn.rowsBetween(-13, 0)
    ohlcBy(spark, dir, to_date(col("ts")).as("trade_date"), "trade_date",
      validated = true)
      .withColumn("rn", row_number().over(wRn))
      .withColumn("diff", round(
        col("close_price") - lag("close_price", 1).over(wRn), 6))
      .withColumn("gain", greatest(col("diff"), lit(0.0)))
      .withColumn("loss", greatest(-col("diff"), lit(0.0)))
      .withColumn("su", round(sum("gain").over(w14), 6))
      .withColumn("sd", round(sum("loss").over(w14), 6))
      .withColumn("cmo", round(
        when(col("rn") >= 15 && col("su") + col("sd") > 0,
          (col("su") - col("sd")) / (col("su") + col("sd")) * 100.0), 6))
      .select("user_id", "trade_date", "close_price", "diff", "su", "sd",
        "cmo")
  }

  def cmoSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), t AS (
       |  SELECT user_id, trade_date, close_price,
       |    row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn,
       |    round(close_price - lag(close_price) OVER (PARTITION BY user_id
       |      ORDER BY trade_date), 6) AS diff
       |  FROM ohlc
       |), s AS (
       |  SELECT user_id, trade_date, close_price, rn, diff,
       |    round(sum(greatest(diff, 0.0)) OVER w14, 6) AS su,
       |    round(sum(greatest(-diff, 0.0)) OVER w14, 6) AS sd
       |  FROM t
       |  WINDOW w14 AS (PARTITION BY user_id ORDER BY trade_date
       |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
       |)
       |SELECT user_id, trade_date, close_price, diff, su, sd,
       |  round(CASE WHEN rn >= 15 AND su + sd > 0
       |    THEN (su - sd) / (su + sd) * 100.0 END, 6) AS cmo
       |FROM s ORDER BY user_id, trade_date""".stripMargin

  /** WILDER-smoothed ATR — the reference formulation next to
    * [[atr]]'s SMA simplification: seed = mean of the first 14 TRs,
    * then the IIR recurrence atr_t = (13·atr_{t−1} + tr_t)/14 — the
    * same ordered per-key fold shape as the EMA family, here at DAY
    * granularity where per-symbol series are bounded (~250 rows/yr),
    * so the recurrence runs as ONE codegen'd `aggregate` left fold
    * over the symbol's sorted TR array (O(days) appends; the
    * tick-granularity dual is exactly the EmaAppend custom-plan
    * shape). NULL until the seed window fills.
    *
    * Cross-engine exactness: the oracle replays the identical
    * floating-op sequence per day via `list_reduce` over the TR
    * prefix (the q_ema idiom) — O(days²) there, oracle-only — so the
    * smoothed values are BIT-identical before the display round. The
    * display round itself runs as round(x·10⁶)/10⁶ — DuckDB's exact
    * double-round algorithm (std::round of the scaled double) — not
    * Spark's decimal-string HALF_UP: on a fold value whose scaled
    * double lands ON the .5 boundary (measured at sf0.1) the two
    * conventions disagree by one ulp of the 6th decimal, while at
    * scale 0 every engine agrees (positive HALF_UP == half-away, and
    * both consume the identical scaled double).
    *
    * Scale shape: one symbol-keyed shuffle into the sorted
    * collect_list (day rows, never ticks), fold and re-explode in
    * place — no second shuffle.
    */
  def atrWilder(spark: SparkSession, dir: String): DataFrame = {
    dailyTrBase(spark, dir)
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("trade_date"), col("tr"))))
        .as("days"))
      .withColumn("trs", expr("transform(days, d -> d.tr)"))
      .withColumn("atrs", expr(wilderRunExpr("trs", 14)))
      .withColumn("atr_r", expr(
        "transform(atrs, a -> round(a * 1000000.0D, 0) / 1000000.0D)"))
      .select(col("user_id"), expr("inline(arrays_zip(days, atr_r))"))
      .select(col("user_id"), col("days.trade_date").as("trade_date"),
        col("days.tr").as("tr"), col("atr_r").as("atr_wilder"))
  }

  /** SQL text of the running Wilder-smoothed array at `p` over an
    * ordered double-array column: NULL for the first p−1 slots, then
    * seed = mean of the first p values, then the (p−1)/p IIR — one
    * O(n) left fold. Shared by [[atrWilder]] and [[keltner]] so the
    * smoothing cannot drift between surfaces.
    */
  private def wilderRunExpr(arr: String, p: Int): String =
    s"""concat(
       |  transform(slice($arr, 1, least(size($arr), ${p - 1})),
       |            x -> CAST(NULL AS DOUBLE)),
       |  CASE WHEN size($arr) >= $p THEN
       |    aggregate(slice($arr, ${p + 1}, size($arr) - $p),
       |      array(aggregate(slice($arr, 1, $p), 0D, (a, x) -> a + x)
       |        / $p.0D),
       |      (acc, x) -> concat(acc,
       |        array((element_at(acc, -1) * ${p - 1}.0D + x) / $p.0D)))
       |  ELSE array() END)""".stripMargin

  /** SQL text of the FULL-length running EMA array (seed = first
    * element, k = 2/(p+1) written as the exact division both engines
    * evaluate identically) — callers null-mask the warmup span.
    */
  private def emaRunExpr(arr: String, p: Int): String = {
    val k = s"(2.0D / ${p + 1}.0D)"
    s"""CASE WHEN size($arr) >= 1 THEN
       |  aggregate(slice($arr, 2, size($arr) - 1),
       |    array(element_at($arr, 1)),
       |    (acc, x) -> concat(acc,
       |      array(x * $k + element_at(acc, -1) * (1.0D - $k))))
       |ELSE array() END""".stripMargin
  }

  /** KELTNER CHANNELS over the validated daily series — the
    * volatility envelope next to q_bollinger's stddev bands: middle =
    * EMA-20 of the daily close (seeded at the first close, the
    * reference's EMA convention, NULL till 20 sessions), bands =
    * middle ± 2 × Wilder ATR-10. Composes the TWO fold families this
    * tier already proves — [[emaRunExpr]] and [[wilderRunExpr]] run
    * as O(days) left folds over each symbol's sorted arrays, and the
    * oracle replays both float-op sequences per day via `list_reduce`
    * prefix folds → band values BIT-identical before the display
    * round. Bands appear once both smoothings are live (session 20).
    *
    * Scale shape: identical to [[atrWilder]] — one symbol-keyed
    * shuffle into the sorted collect_list, folds and re-explode in
    * place.
    */
  def keltner(spark: SparkSession, dir: String): DataFrame = {
    dailyTrBase(spark, dir)
      .groupBy("user_id")
      .agg(array_sort(collect_list(
        struct(col("trade_date"), col("close_price"), col("tr"))))
        .as("days"))
      .withColumn("cls", expr("transform(days, d -> d.close_price)"))
      .withColumn("trs", expr("transform(days, d -> d.tr)"))
      .withColumn("ema_raw", expr(
        s"transform(${emaRunExpr("cls", 20)}, (e, i) -> " +
          "CASE WHEN i >= 19 THEN e END)"))
      .withColumn("atr_raw", expr(wilderRunExpr("trs", 10)))
      .withColumn("ema_20", expr(
        "transform(ema_raw, e -> round(e * 1000000.0D, 0) / 1000000.0D)"))
      .withColumn("atr_10", expr(
        "transform(atr_raw, a -> round(a * 1000000.0D, 0) / 1000000.0D)"))
      .withColumn("kc_upper", expr("zip_with(ema_raw, atr_raw, (e, a) -> " +
        "round((e + 2.0D * a) * 1000000.0D, 0) / 1000000.0D)"))
      .withColumn("kc_lower", expr("zip_with(ema_raw, atr_raw, (e, a) -> " +
        "round((e - 2.0D * a) * 1000000.0D, 0) / 1000000.0D)"))
      .select(col("user_id"),
        expr("inline(arrays_zip(days, ema_20, atr_10, kc_upper, kc_lower))"))
      .select(col("user_id"), col("days.trade_date").as("trade_date"),
        col("days.close_price").as("close_price"),
        col("ema_20"), col("atr_10"), col("kc_upper"), col("kc_lower"))
  }

  def keltnerSql: String = {
    val emaFold =
      "list_reduce(cls[1:i], (a, x) -> x * (2.0 / 21.0) + a * (1.0 - 2.0 / 21.0))"
    val atrFold =
      "list_reduce(list_prepend(atr_seed, trs[11:i]), (a, x) -> (a * 9.0 + x) / 10.0)"
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), t AS (
       |  SELECT user_id, trade_date, high_price, low_price, close_price,
       |    lag(close_price) OVER (PARTITION BY user_id
       |      ORDER BY trade_date) AS prev_close
       |  FROM ohlc
       |), tr AS (
       |  SELECT user_id, trade_date, close_price,
       |    round(CASE WHEN prev_close IS NULL
       |      THEN high_price - low_price
       |      ELSE greatest(high_price - low_price,
       |                    abs(high_price - prev_close),
       |                    abs(low_price - prev_close)) END, 6) AS tr
       |  FROM t
       |), g AS (
       |  SELECT user_id,
       |    list(trade_date ORDER BY trade_date) AS dts,
       |    list(close_price ORDER BY trade_date) AS cls,
       |    list(tr ORDER BY trade_date) AS trs
       |  FROM tr GROUP BY user_id
       |), s AS (
       |  SELECT user_id, dts, cls, trs,
       |    CASE WHEN len(trs) >= 10
       |      THEN list_reduce(trs[1:10], (a, x) -> a + x) / 10.0 END AS atr_seed
       |  FROM g
       |)
       |SELECT user_id, unnest(dts) AS trade_date, unnest(cls) AS close_price,
       |  unnest(list_transform(generate_series(1, len(cls)), i ->
       |    CASE WHEN i >= 20 THEN round($emaFold, 6) END)) AS ema_20,
       |  unnest(list_transform(generate_series(1, len(cls)), i ->
       |    CASE WHEN i >= 10 THEN round($atrFold, 6) END)) AS atr_10,
       |  unnest(list_transform(generate_series(1, len(cls)), i ->
       |    CASE WHEN i >= 20
       |      THEN round($emaFold + 2.0 * $atrFold, 6) END)) AS kc_upper,
       |  unnest(list_transform(generate_series(1, len(cls)), i ->
       |    CASE WHEN i >= 20
       |      THEN round($emaFold - 2.0 * $atrFold, 6) END)) AS kc_lower
       |FROM s
       |ORDER BY user_id, trade_date""".stripMargin
  }

  /** DEMA/TEMA-20 — Mulloy's lag-reduced EMA family over the
    * validated daily close: with e1 = EMA-20(close), e2 = EMA-20(e1),
    * e3 = EMA-20(e2) (each seeded at its input's first value, the
    * tier's EMA convention), DEMA = 2·e1 − e2 and TEMA = 3·e1 −
    * 3·e2 + e3. Display NULL until each stage's warmup compounds:
    * e1 at session 20, DEMA at 39 (= 2(p−1)+1), TEMA at 58
    * (= 3(p−1)+1).
    *
    * Cross-engine exactness: the CHAINED folds consume unrounded
    * doubles — e2 folds over the raw e1 array, e3 over e2 — and the
    * oracle replays each stage's identical float-op sequence via
    * `list_reduce` prefix folds over the materialized previous stage
    * (O(days²) there, oracle-only), so every value is BIT-identical
    * before the display round (the ·10⁶ double-round both engines
    * compute identically).
    *
    * Scale shape: one symbol-keyed shuffle into the sorted
    * collect_list, three O(days) folds and a re-explode in place —
    * the [[atrWilder]] shape with a deeper fold chain.
    */
  def tema(spark: SparkSession, dir: String): DataFrame =
    temaOfDaily(
      ohlcBy(spark, dir, to_date(col("ts")).as("trade_date"), "trade_date",
        validated = true))

  private[graft] def temaOfDaily(daily: DataFrame): DataFrame = {
    val r6a = (c: String) =>
      s"transform($c, x -> round(x * 1000000.0D, 0) / 1000000.0D)"
    daily
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("trade_date"),
        col("close_price")))).as("days"))
      .withColumn("cls", expr("transform(days, d -> d.close_price)"))
      .withColumn("e1", expr(emaRunExpr("cls", 20)))
      .withColumn("e2", expr(emaRunExpr("e1", 20)))
      .withColumn("e3", expr(emaRunExpr("e2", 20)))
      .withColumn("ema_20", expr(r6a(
        "transform(e1, (x, i) -> CASE WHEN i >= 19 THEN x END)")))
      .withColumn("dema_20", expr(r6a(
        """transform(zip_with(e1, e2, (a, b) -> 2.0D * a - b),
          |  (x, i) -> CASE WHEN i >= 38 THEN x END)""".stripMargin)))
      .withColumn("tema_20", expr(r6a(
        """transform(zip_with(zip_with(e1, e2, (a, b) -> 3.0D * a - 3.0D * b),
          |                   e3, (ab, c) -> ab + c),
          |  (x, i) -> CASE WHEN i >= 57 THEN x END)""".stripMargin)))
      .select(col("user_id"),
        expr("inline(arrays_zip(days, ema_20, dema_20, tema_20))"))
      .select(col("user_id"), col("days.trade_date").as("trade_date"),
        col("days.close_price").as("close_price"),
        col("ema_20"), col("dema_20"), col("tema_20"))
  }

  /** DuckDB text of the materialized running-EMA list at period `p`
    * over list column `arr` — the O(n²) prefix-fold dual of
    * [[emaRunExpr]], shared by the chained-EMA oracles.
    */
  private def emaListSql(arr: String, p: Int): String =
    s"""list_transform(generate_series(1, len($arr)), i ->
       |  list_reduce($arr[1:i], (a, x) ->
       |    x * (2.0 / ${p + 1}.0) + a * (1.0 - 2.0 / ${p + 1}.0)))""".stripMargin

  def temaSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), g AS (
       |  SELECT user_id,
       |    list(trade_date ORDER BY trade_date) AS dts,
       |    list(close_price ORDER BY trade_date) AS cls
       |  FROM ohlc GROUP BY user_id
       |), s1 AS (
       |  SELECT user_id, dts, cls, ${emaListSql("cls", 20)} AS e1 FROM g
       |), s2 AS (
       |  SELECT user_id, dts, cls, e1, ${emaListSql("e1", 20)} AS e2 FROM s1
       |), s3 AS (
       |  SELECT user_id, dts, cls, e1, e2, ${emaListSql("e2", 20)} AS e3
       |  FROM s2
       |)
       |SELECT user_id, unnest(dts) AS trade_date, unnest(cls) AS close_price,
       |  unnest(list_transform(generate_series(1, len(cls)), i ->
       |    CASE WHEN i >= 20 THEN round(e1[i], 6) END)) AS ema_20,
       |  unnest(list_transform(generate_series(1, len(cls)), i ->
       |    CASE WHEN i >= 39
       |      THEN round(2.0 * e1[i] - e2[i], 6) END)) AS dema_20,
       |  unnest(list_transform(generate_series(1, len(cls)), i ->
       |    CASE WHEN i >= 58
       |      THEN round(3.0 * e1[i] - 3.0 * e2[i] + e3[i], 6) END)) AS tema_20
       |FROM s3 ORDER BY user_id, trade_date""".stripMargin

  /** TRIX-15 — the rate of change of a TRIPLE-smoothed EMA: with
    * e3 = EMA-15(EMA-15(EMA-15(close))) (the [[tema]] chain at
    * p = 15), TRIX_t = 100·(e3_t/e3_{t−1} − 1) — the momentum
    * oscillator whose triple smoothing filters noise the single-EMA
    * [[momentum]] tier passes through. NULL until the chain's warmup
    * plus the lag (session 3(p−1)+2 = 44). Closes are positive so e3
    * never hits 0 (division is total).
    *
    * Cross-engine exactness and scale shape: exactly [[tema]]'s —
    * chained unrounded folds, prefix-fold oracle, one symbol-keyed
    * shuffle, display round last.
    */
  def trix(spark: SparkSession, dir: String): DataFrame =
    trixOfDaily(
      ohlcBy(spark, dir, to_date(col("ts")).as("trade_date"), "trade_date",
        validated = true))

  private[graft] def trixOfDaily(daily: DataFrame): DataFrame = {
    daily
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("trade_date"),
        col("close_price")))).as("days"))
      .withColumn("cls", expr("transform(days, d -> d.close_price)"))
      .withColumn("e1", expr(emaRunExpr("cls", 15)))
      .withColumn("e2", expr(emaRunExpr("e1", 15)))
      .withColumn("e3", expr(emaRunExpr("e2", 15)))
      .withColumn("e3_r", expr(
        "transform(e3, x -> round(x * 1000000.0D, 0) / 1000000.0D)"))
      .withColumn("trix", expr(
        """transform(e3, (x, i) -> CASE WHEN i >= 43 THEN
          |  round(((x / element_at(e3, i) - 1.0D) * 100.0D)
          |    * 1000000.0D, 0) / 1000000.0D END)""".stripMargin))
      .select(col("user_id"), expr("inline(arrays_zip(days, e3_r, trix))"))
      .select(col("user_id"), col("days.trade_date").as("trade_date"),
        col("days.close_price").as("close_price"),
        col("e3_r").as("e3"), col("trix"))
  }

  def trixSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), g AS (
       |  SELECT user_id,
       |    list(trade_date ORDER BY trade_date) AS dts,
       |    list(close_price ORDER BY trade_date) AS cls
       |  FROM ohlc GROUP BY user_id
       |), s1 AS (
       |  SELECT user_id, dts, cls, ${emaListSql("cls", 15)} AS e1 FROM g
       |), s2 AS (
       |  SELECT user_id, dts, cls, e1, ${emaListSql("e1", 15)} AS e2 FROM s1
       |), s3 AS (
       |  SELECT user_id, dts, cls, e1, e2, ${emaListSql("e2", 15)} AS e3
       |  FROM s2
       |)
       |SELECT user_id, unnest(dts) AS trade_date, unnest(cls) AS close_price,
       |  unnest(list_transform(generate_series(1, len(cls)), i ->
       |    round(e3[i], 6))) AS e3,
       |  unnest(list_transform(generate_series(1, len(cls)), i ->
       |    CASE WHEN i >= 44 THEN
       |      round((e3[i] / e3[i - 1] - 1.0) * 100.0, 6) END)) AS trix
       |FROM s3 ORDER BY user_id, trade_date""".stripMargin

  /** ELDER RAY (13) — bull power = high − EMA-13(close), bear power
    * = low − EMA-13(close): the buying/selling-pressure split over
    * the tier's one EMA convention (seeded at the first close, NULL
    * till 13 sessions). Rides [[emaRunExpr]] exactly like [[keltner]]
    * — the oracle replays the fold via `list_reduce` prefix folds so
    * powers are BIT-identical before the display round.
    *
    * Scale shape: one symbol-keyed shuffle into sorted arrays, one
    * O(days) fold, re-explode.
    */
  def elderRay(spark: SparkSession, dir: String): DataFrame = {
    val srdA = (c: String) =>
      s"transform($c, x -> round(x * 1000000.0D, 0) / 1000000.0D)"
    ohlcBy(spark, dir, to_date(col("ts")).as("trade_date"), "trade_date",
      validated = true)
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("trade_date"),
        col("high_price"), col("low_price"), col("close_price"))))
        .as("days"))
      .withColumn("cls", expr("transform(days, d -> d.close_price)"))
      .withColumn("e1", expr(
        s"transform(${emaRunExpr("cls", 13)}, (e, i) -> " +
          "CASE WHEN i >= 12 THEN e END)"))
      .withColumn("ema_13", expr(srdA("e1")))
      .withColumn("bull_power", expr(srdA(
        "zip_with(transform(days, d -> d.high_price), e1, (h, e) -> h - e)")))
      .withColumn("bear_power", expr(srdA(
        "zip_with(transform(days, d -> d.low_price), e1, (l, e) -> l - e)")))
      .select(col("user_id"),
        expr("inline(arrays_zip(days, ema_13, bull_power, bear_power))"))
      .select(col("user_id"), col("days.trade_date").as("trade_date"),
        col("days.high_price").as("high_price"),
        col("days.low_price").as("low_price"),
        col("days.close_price").as("close_price"),
        col("ema_13"), col("bull_power"), col("bear_power"))
  }

  def elderRaySql: String = {
    val fold =
      "list_reduce(cls[1:i], (a, x) -> x * (2.0 / 14.0) + a * (1.0 - 2.0 / 14.0))"
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), g AS (
       |  SELECT user_id,
       |    list(trade_date ORDER BY trade_date) AS dts,
       |    list(high_price ORDER BY trade_date) AS his,
       |    list(low_price ORDER BY trade_date) AS los,
       |    list(close_price ORDER BY trade_date) AS cls
       |  FROM ohlc GROUP BY user_id
       |)
       |SELECT user_id, unnest(dts) AS trade_date, unnest(his) AS high_price,
       |  unnest(los) AS low_price, unnest(cls) AS close_price,
       |  unnest(list_transform(generate_series(1, len(cls)), i ->
       |    CASE WHEN i >= 13 THEN round($fold, 6) END)) AS ema_13,
       |  unnest(list_transform(generate_series(1, len(cls)), i ->
       |    CASE WHEN i >= 13 THEN round(his[i] - $fold, 6) END)) AS bull_power,
       |  unnest(list_transform(generate_series(1, len(cls)), i ->
       |    CASE WHEN i >= 13 THEN round(los[i] - $fold, 6) END)) AS bear_power
       |FROM g ORDER BY user_id, trade_date""".stripMargin
  }

  /** MASS INDEX (9, 25) — Dorsey's reversal detector: the session
    * range high − low is EMA-9 smoothed (e1), smoothed AGAIN (e2 =
    * EMA-9 of e1), and the mass index is the 25-session sum of the
    * ratio e1/e2 — range expansion widens the ratio regardless of
    * direction. Both EMAs seed at their input's first value; the
    * ratio is displayed from session 17 (e2's compounded warmup
    * 2(p−1)+1) and the mass once 25 live ratios exist (session 41).
    *
    * Cross-engine exactness: the chained folds consume unrounded
    * doubles ([[tema]]'s discipline); the RATIO rounds to 6 before
    * the window sum and the SUM rounds to 6 ([[vortex]]'s
    * discipline) — so the array tier is bit-identical and the window
    * tier is association-proof.
    *
    * Scale shape: one symbol-keyed shuffle serves the arrays AND the
    * re-exploded ratio window (same user_id key, day-sized rows).
    */
  def massIndex(spark: SparkSession, dir: String): DataFrame =
    massIndexOfDaily(
      ohlcBy(spark, dir, to_date(col("ts")).as("trade_date"), "trade_date",
        validated = true))

  private[graft] def massIndexOfDaily(daily: DataFrame): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    val w25 = wRn.rowsBetween(-24, 0)
    daily
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("trade_date"),
        col("high_price"), col("low_price")))).as("days"))
      .withColumn("rng", expr("transform(days, d -> d.high_price - d.low_price)"))
      .withColumn("e1", expr(emaRunExpr("rng", 9)))
      .withColumn("e2", expr(emaRunExpr("e1", 9)))
      // the guard runs INSIDE the lambda: a flat session-1 range
      // makes e2[1] = 0 and ANSI division would abort on an element
      // the warmup mask never shows
      .withColumn("ratio", expr(
        """transform(zip_with(e1, e2, (a, b) ->
          |  CASE WHEN b > 0D THEN a / b END), (x, i) ->
          |  CASE WHEN i >= 16
          |    THEN round(x * 1000000.0D, 0) / 1000000.0D END)""".stripMargin))
      .select(col("user_id"), expr("inline(arrays_zip(days, ratio))"))
      .select(col("user_id"), col("days.trade_date").as("trade_date"),
        col("days.high_price").as("high_price"),
        col("days.low_price").as("low_price"), col("ratio"))
      .withColumn("rn", row_number().over(wRn))
      .withColumn("mass_25", round(
        when(col("rn") >= 41, sum("ratio").over(w25)), 6))
      .drop("rn")
  }

  def massIndexSql: String = {
    // the fold constants must be the same EXPRESSIONS Spark folds
    // with: 1.0 - 2.0/10.0 is one ulp off the literal 0.8
    val e1 = "list_transform(generate_series(1, len(rng)), i -> " +
      "list_reduce(rng[1:i], (a, x) -> " +
      "x * (2.0 / 10.0) + a * (1.0 - 2.0 / 10.0)))"
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), g AS (
       |  SELECT user_id,
       |    list(trade_date ORDER BY trade_date) AS dts,
       |    list(high_price ORDER BY trade_date) AS his,
       |    list(low_price ORDER BY trade_date) AS los,
       |    list(high_price - low_price ORDER BY trade_date) AS rng
       |  FROM ohlc GROUP BY user_id
       |), s1 AS (
       |  SELECT user_id, dts, his, los, $e1 AS e1 FROM g
       |), s2 AS (
       |  SELECT user_id, dts, his, los, e1,
       |    list_transform(generate_series(1, len(e1)), i ->
       |      list_reduce(e1[1:i], (a, x) ->
       |        x * (2.0 / 10.0) + a * (1.0 - 2.0 / 10.0))) AS e2
       |  FROM s1
       |), x AS (
       |  SELECT user_id, unnest(dts) AS trade_date, unnest(his) AS high_price,
       |    unnest(los) AS low_price,
       |    unnest(list_transform(generate_series(1, len(e1)), i ->
       |      CASE WHEN i >= 17 AND e2[i] > 0
       |        THEN round(e1[i] / e2[i], 6) END)) AS ratio
       |  FROM s2
       |), r AS (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY trade_date) AS rn
       |  FROM x
       |)
       |SELECT user_id, trade_date, high_price, low_price, ratio,
       |  round(CASE WHEN rn >= 41 THEN
       |    sum(ratio) OVER (PARTITION BY user_id ORDER BY trade_date
       |      ROWS BETWEEN 24 PRECEDING AND CURRENT ROW) END, 6) AS mass_25
       |FROM r ORDER BY user_id, trade_date""".stripMargin
  }

  /** KST (Know Sure Thing, Pring) — four rate-of-change horizons
    * (10/15/20/30 sessions), each SMA-smoothed (10/10/10/15), blended
    * 1:2:3:4, plus the SMA-9 signal line. Runs in INTEGER MICROS
    * ([[moneyFlow]]'s discipline): each ROC rounds once to micros
    * (the only float round — scale-0, where both engines' half
    * conventions agree), window sums are exact long arithmetic with
    * no association order to disagree about, and each SMA divides the
    * exact sum by its width with one more scale-0 round. A
    * round(avg(...), 6) formulation would instead land on the 6th-
    * decimal half boundary every time a sum of micros isn't divisible
    * by the width — systematically, not rarely.
    *
    * Each RCMA is NULL until its ROC horizon AND its SMA are both
    * full (sessions 20/25/30/45); KST needs all four (45) and the
    * signal nine KSTs (53).
    *
    * Scale shape: ONE symbol-keyed shuffle; four lags, four window
    * sums, and the signal all share the one partition-sort, day-sized
    * rows.
    */
  def kst(spark: SparkSession, dir: String): DataFrame =
    kstOfDaily(
      ohlcBy(spark, dir, to_date(col("ts")).as("trade_date"), "trade_date",
        validated = true))

  private[graft] def kstOfDaily(daily: DataFrame): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    def rocM(n: Int) = round(
      (col("close_price") / lag("close_price", n).over(wRn) - 1.0) * 100.0
        * 1e6, 0).cast("long")
    def smaM(c: org.apache.spark.sql.Column, n: Int) =
      round(sum(c).over(wRn.rowsBetween(-(n - 1), 0)).cast("double")
        / n.toDouble, 0).cast("long")
    daily
      .withColumn("rn", row_number().over(wRn))
      .withColumn("roc10m", rocM(10)).withColumn("roc15m", rocM(15))
      .withColumn("roc20m", rocM(20)).withColumn("roc30m", rocM(30))
      .withColumn("rcma1m", when(col("rn") >= 20, smaM(col("roc10m"), 10)))
      .withColumn("rcma2m", when(col("rn") >= 25, smaM(col("roc15m"), 10)))
      .withColumn("rcma3m", when(col("rn") >= 30, smaM(col("roc20m"), 10)))
      .withColumn("rcma4m", when(col("rn") >= 45, smaM(col("roc30m"), 15)))
      .withColumn("kstm", col("rcma1m") + col("rcma2m") * 2 +
        col("rcma3m") * 3 + col("rcma4m") * 4)
      .withColumn("sigm", when(col("rn") >= 53, smaM(col("kstm"), 9)))
      .select(col("user_id"), col("trade_date"), col("close_price"),
        (col("rcma1m").cast("double") / 1e6).as("rcma1"),
        (col("rcma2m").cast("double") / 1e6).as("rcma2"),
        (col("rcma3m").cast("double") / 1e6).as("rcma3"),
        (col("rcma4m").cast("double") / 1e6).as("rcma4"),
        (col("kstm").cast("double") / 1e6).as("kst"),
        (col("sigm").cast("double") / 1e6).as("kst_signal"))
  }

  def kstSql: String = {
    def roc(n: Int) =
      s"round((close_price / lag(close_price, $n) OVER w - 1.0) * 100.0" +
        s" * 1e6, 0)::BIGINT"
    def sma(c: String, n: Int, guard: Int) =
      s"CASE WHEN rn >= $guard THEN round((sum($c) OVER " +
        s"${if (n == 15) "w15" else if (n == 9) "w9" else "w10"})::DOUBLE" +
        s" / $n.0, 0)::BIGINT END"
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), t AS (
       |  SELECT user_id, trade_date, close_price,
       |    row_number() OVER w AS rn,
       |    ${roc(10)} AS roc10m, ${roc(15)} AS roc15m,
       |    ${roc(20)} AS roc20m, ${roc(30)} AS roc30m
       |  FROM ohlc
       |  WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)
       |), r AS (
       |  SELECT user_id, trade_date, close_price, rn,
       |    ${sma("roc10m", 10, 20)} AS rcma1m,
       |    ${sma("roc15m", 10, 25)} AS rcma2m,
       |    ${sma("roc20m", 10, 30)} AS rcma3m,
       |    ${sma("roc30m", 15, 45)} AS rcma4m
       |  FROM t
       |  WINDOW
       |    w10 AS (PARTITION BY user_id ORDER BY trade_date
       |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
       |    w15 AS (PARTITION BY user_id ORDER BY trade_date
       |      ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
       |), k AS (
       |  SELECT *, rcma1m + rcma2m * 2 + rcma3m * 3 + rcma4m * 4 AS kstm
       |  FROM r
       |)
       |SELECT user_id, trade_date, close_price,
       |  rcma1m::DOUBLE / 1e6 AS rcma1, rcma2m::DOUBLE / 1e6 AS rcma2,
       |  rcma3m::DOUBLE / 1e6 AS rcma3, rcma4m::DOUBLE / 1e6 AS rcma4,
       |  kstm::DOUBLE / 1e6 AS kst,
       |  (${sma("kstm", 9, 53)})::DOUBLE / 1e6 AS kst_signal
       |FROM k
       |WINDOW w9 AS (PARTITION BY user_id ORDER BY trade_date
       |  ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
       |ORDER BY user_id, trade_date""".stripMargin
  }

  /** COPPOCK CURVE — Coppock's long-horizon momentum gauge as a
    * front-weighted moving average of summed rates of change:
    * roc_sum = ROC-7 + ROC-5 and coppock = WMA-5(roc_sum) with
    * weights 5..1 (most recent heaviest), at quarter scale like
    * [[stochRsi]]/ichimoku (the classic monthly 14/11/10 constants
    * never fire on 22-30-session symbols; the structure is the
    * operator). Runs in [[kst]]'s INTEGER MICROS discipline: each ROC
    * rounds once to micros at scale 0 (the only float round — both
    * engines' half conventions agree there), the sum and the
    * 5/4/3/2/1-weighted numerator are exact Long arithmetic with no
    * association order to disagree about, and the curve is ONE
    * correctly-rounded division of the exact numerator by 15e6
    * (Σweights × the micro scale). roc_sum live once the longer ROC
    * is (session 8), coppock once five sums are (12).
    *
    * Scale shape: ONE symbol-keyed shuffle; two lags for the ROCs and
    * four more for the weighted window all share the one
    * partition-sort over day-sized rows (the weighted sum is lag
    * composition, not a window function — no engine has a native
    * WMA, and the lag form keeps the arithmetic exact).
    */
  def coppock(spark: SparkSession, dir: String): DataFrame =
    coppockOfDaily(
      ohlcBy(spark, dir, to_date(col("ts")).as("trade_date"), "trade_date",
        validated = true))

  private[graft] def coppockOfDaily(daily: DataFrame): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    def rocM(n: Int) = round(
      (col("close_price") / lag("close_price", n).over(wRn) - 1.0) * 100.0
        * 1e6, 0).cast("long")
    daily
      .withColumn("rn", row_number().over(wRn))
      .withColumn("sm", rocM(7) + rocM(5))
      .withColumn("numm", (0 to 4).map(i =>
        lag("sm", i).over(wRn) * (5 - i)).reduce(_ + _))
      .select(col("user_id"), col("trade_date"), col("close_price"),
        (col("sm").cast("double") / 1e6).as("roc_sum"),
        when(col("rn") >= 12, col("numm").cast("double") / 15e6)
          .as("coppock"))
  }

  def coppockSql: String = {
    def roc(n: Int) =
      s"round((close_price / lag(close_price, $n) OVER w - 1.0) * 100.0" +
        s" * 1e6, 0)::BIGINT"
    val num = (0 to 4).map(i => s"lag(sm, $i) OVER w * ${5 - i}")
      .mkString(" + ")
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), t AS (
       |  SELECT user_id, trade_date, close_price,
       |    row_number() OVER w AS rn,
       |    ${roc(7)} + ${roc(5)} AS sm
       |  FROM ohlc
       |  WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)
       |)
       |SELECT user_id, trade_date, close_price,
       |  sm::DOUBLE / 1e6 AS roc_sum,
       |  CASE WHEN rn >= 12 THEN ($num)::DOUBLE / 15e6 END AS coppock
       |FROM t
       |WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)
       |ORDER BY user_id, trade_date""".stripMargin
  }

  /** DONCHIAN CHANNELS — completing the volatility-envelope trio next
    * to q_bollinger (stddev bands) and [[keltner]] (ATR bands): the
    * 20-session rolling extremes of the validated daily OHLC (upper =
    * max high, lower = min low, both including the current session —
    * the hi14/lo14 idiom — NULL till 20), the midline, and the
    * classic BREAKOUT flags against the PREVIOUS session's channel
    * (a close above yesterday's 20-day high / below its low — the
    * turtle entry rule; NULL until a prior channel exists).
    *
    * Pure window arithmetic over day rows — one symbol-keyed shuffle
    * reused by every window, no fold, no join; extremes carry raw
    * rounded prices verbatim so hash parity is free, only the
    * midline rounds.
    */
  def donchian(spark: SparkSession, dir: String): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    val w20 = wRn.rowsBetween(-19, 0)
    ohlcBy(spark, dir, to_date(col("ts")).as("trade_date"), "trade_date",
      validated = true)
      .withColumn("rn", row_number().over(wRn))
      .withColumn("up_raw", max("high_price").over(w20))
      .withColumn("lo_raw", min("low_price").over(w20))
      .withColumn("dc_upper", when(col("rn") >= 20, col("up_raw")))
      .withColumn("dc_lower", when(col("rn") >= 20, col("lo_raw")))
      .withColumn("dc_mid", round(
        when(col("rn") >= 20, (col("up_raw") + col("lo_raw")) / 2.0), 6))
      .withColumn("brk_up",
        col("close_price") > lag("dc_upper", 1).over(wRn))
      .withColumn("brk_down",
        col("close_price") < lag("dc_lower", 1).over(wRn))
      .select("user_id", "trade_date", "close_price", "dc_upper",
        "dc_lower", "dc_mid", "brk_up", "brk_down")
  }

  def donchianSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), w AS (
       |  SELECT user_id, trade_date, close_price,
       |    row_number() OVER pk AS rn,
       |    max(high_price) OVER (PARTITION BY user_id ORDER BY trade_date
       |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS up_raw,
       |    min(low_price) OVER (PARTITION BY user_id ORDER BY trade_date
       |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS lo_raw
       |  FROM ohlc WINDOW pk AS (PARTITION BY user_id ORDER BY trade_date)
       |), c AS (
       |  SELECT user_id, trade_date, close_price,
       |    CASE WHEN rn >= 20 THEN up_raw END AS dc_upper,
       |    CASE WHEN rn >= 20 THEN lo_raw END AS dc_lower,
       |    round(CASE WHEN rn >= 20
       |      THEN (up_raw + lo_raw) / 2.0 END, 6) AS dc_mid
       |  FROM w
       |)
       |SELECT user_id, trade_date, close_price, dc_upper, dc_lower, dc_mid,
       |  close_price > lag(dc_upper) OVER pk AS brk_up,
       |  close_price < lag(dc_lower) OVER pk AS brk_down
       |FROM c WINDOW pk AS (PARTITION BY user_id ORDER BY trade_date)
       |ORDER BY user_id, trade_date""".stripMargin

  /** CCI-20 — the Commodity Channel Index over the validated daily
    * OHLC: typical price tp = (H+L+C)/3; CCI = (tp − SMA20(tp)) /
    * (0.015 · meanDev) where meanDev is the mean ABSOLUTE deviation
    * of the window's 20 typical prices from the CURRENT session's
    * SMA (Lambert's original definition — deviation from one center,
    * not each row's own). NULL till 20 sessions and on a flat window
    * (meanDev = 0 — no dispersion to normalize against, the
    * stochastic flat-band convention).
    *
    * The mean deviation needs the window's raw members, not a
    * distributive aggregate — `collect_list` over the 20-row frame
    * plus an ordered `aggregate` fold keeps it inside codegen on
    * day rows (symbols × days, never ticks; 20 doubles per row is a
    * constant). Oracle replays the identical left fold via
    * `list_reduce(list_transform(...))`; tp, SMA, and meanDev all
    * round to 6 before any division, so both engines divide the
    * same doubles.
    */
  def cci(spark: SparkSession, dir: String): DataFrame =
    cciOfDaily(validDailyOhlc(spark, dir))

  /** The CCI pipeline over an arbitrary daily OHLC frame — the
    * ScaleProbe entry.
    */
  private[graft] def cciOfDaily(daily: DataFrame): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    val w20 = wRn.rowsBetween(-19, 0)
    daily
      .withColumn("tp", round(
        (col("high_price") + col("low_price") + col("close_price")) / 3.0, 6))
      .withColumn("rn", row_number().over(wRn))
      .withColumn("tps", collect_list("tp").over(w20))
      // SMA via the same ordered fold as the deviation pass — a
      // windowed avg() would sum in engine-specific order (DuckDB's
      // moving frames use a segment tree) and diverge in the last
      // bit right at the round-6 boundary at larger SFs
      // the fold tier's scaled display round (matches DuckDB's
      // float rounding at decimal midpoints, the atrWilder idiom)
      .withColumn("sma_raw", expr(
        "round(aggregate(tps, 0.0D, (a, x) -> a + x) / 20.0D" +
          " * 1000000.0D, 0) / 1000000.0D"))
      .withColumn("sma_tp", when(col("rn") >= 20, col("sma_raw")))
      .withColumn("mean_dev", when(col("rn") >= 20, expr(
        "round(aggregate(tps, 0.0D, (acc, x) -> acc + abs(x - sma_raw))" +
          " / 20.0D * 1000000.0D, 0) / 1000000.0D")))
      .withColumn("cci",
        when(col("mean_dev") > 0, expr(
          "round((tp - sma_tp) / (0.015D * mean_dev)" +
            " * 1000000.0D, 0) / 1000000.0D")))
      .select("user_id", "trade_date", "tp", "sma_tp", "mean_dev", "cci")
  }

  def cciSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), t AS (
       |  SELECT user_id, trade_date,
       |    round((high_price + low_price + close_price) / 3.0, 6) AS tp
       |  FROM ohlc
       |), w AS (
       |  SELECT user_id, trade_date, tp,
       |    row_number() OVER pk AS rn,
       |    round(list_reduce(list_prepend(0.0, list(tp) OVER w20),
       |      (a, x) -> a + x) / 20.0, 6) AS sma_raw,
       |    list(tp) OVER w20 AS tps
       |  FROM t WINDOW pk AS (PARTITION BY user_id ORDER BY trade_date),
       |    w20 AS (PARTITION BY user_id ORDER BY trade_date
       |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
       |), m AS (
       |  SELECT user_id, trade_date, tp,
       |    CASE WHEN rn >= 20 THEN sma_raw END AS sma_tp,
       |    CASE WHEN rn >= 20 THEN round(list_reduce(
       |      list_prepend(0.0, list_transform(tps, x -> abs(x - sma_raw))),
       |      (acc, x) -> acc + x) / 20.0, 6) END AS mean_dev
       |  FROM w
       |)
       |SELECT user_id, trade_date, tp, sma_tp, mean_dev,
       |  round(CASE WHEN mean_dev > 0
       |    THEN (tp - sma_tp) / (0.015 * mean_dev) END, 6) AS cci
       |FROM m ORDER BY user_id, trade_date""".stripMargin

  /** AROON-25 — time-since-extreme trend gauge over the validated
    * daily OHLC: with a 25-session lookback (window = current + 25
    * prior sessions), aroonUp = 100·(25 − sessionsSinceHigh)/25 and
    * aroonDown likewise for the low; the oscillator is their spread.
    * Ties resolve to the MOST RECENT extreme (both engines pin the
    * tiebreak structurally, not by engine accident); NULL until the
    * lookback fills (session 26).
    *
    * "Sessions since the high" is an argmax over the frame — ORDERED
    * struct max/min ((high, rn) max / (low, −rn) min) keeps it a
    * plain distributive window aggregate on day rows: no self-join,
    * no collect, mergeable partials at any scale. All outputs are
    * exact multiples of 4 (4·(25−s)) so hash parity costs nothing.
    */
  def aroon(spark: SparkSession, dir: String): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    val w26 = wRn.rowsBetween(-25, 0)
    validDailyOhlc(spark, dir)
      .withColumn("rn", row_number().over(wRn))
      .withColumn("hi_rn",
        max(struct(col("high_price"), col("rn"))).over(w26).getField("rn"))
      .withColumn("lo_rn",
        -min(struct(col("low_price"), (-col("rn")).as("nrn"))).over(w26)
          .getField("nrn"))
      .withColumn("aroon_up",
        when(col("rn") >= 26, (lit(25) - (col("rn") - col("hi_rn"))) * 4.0))
      .withColumn("aroon_down",
        when(col("rn") >= 26, (lit(25) - (col("rn") - col("lo_rn"))) * 4.0))
      .withColumn("aroon_osc",
        when(col("rn") >= 26, (col("hi_rn") - col("lo_rn")) * 4.0))
      .select("user_id", "trade_date", "high_price", "low_price",
        "aroon_up", "aroon_down", "aroon_osc")
  }

  def aroonSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), n AS (
       |  SELECT user_id, trade_date, high_price, low_price,
       |    row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
       |  FROM ohlc
       |), w AS (
       |  SELECT user_id, trade_date, high_price, low_price, rn,
       |    (max(struct_pack(h := high_price, rn := rn)) OVER w26).rn AS hi_rn,
       |    -((min(struct_pack(l := low_price, nrn := -rn)) OVER w26).nrn) AS lo_rn
       |  FROM n WINDOW w26 AS (PARTITION BY user_id ORDER BY trade_date
       |      ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)
       |)
       |SELECT user_id, trade_date, high_price, low_price,
       |  CASE WHEN rn >= 26 THEN (25 - (rn - hi_rn)) * 4.0 END AS aroon_up,
       |  CASE WHEN rn >= 26 THEN (25 - (rn - lo_rn)) * 4.0 END AS aroon_down,
       |  CASE WHEN rn >= 26 THEN (hi_rn - lo_rn) * 4.0 END AS aroon_osc
       |FROM w ORDER BY user_id, trade_date""".stripMargin

  /** MOMENTUM PACK — the rate-of-change family in one wide daily row
    * next to the envelope/fold tiers: Williams %R-14
    * (−100·(hi14 − close)/(hi14 − lo14), the stochastic's inverted
    * sibling sharing its 14-bar extremes, NULL on a flat band),
    * ROC-12 (percent change vs the close 12 sessions back) and
    * MOM-10 (absolute change vs 10 back, exact double subtraction —
    * carried verbatim, no round needed). Each column goes live only
    * when its own lookback fills — the tier's null-till-full
    * convention.
    *
    * Pure lag/extreme windows over day rows after the one shared
    * symbol shuffle; %R and ROC divisions use the scaled display
    * round (DuckDB-aligned midpoints). The oracle appends `+ 0.0`
    * after each round: DuckDB's round preserves IEEE -0.0 (close at
    * the 14-bar high ⇒ numerator -0.0) while Spark's BigDecimal round
    * emits +0.0 — value-equal but byte-distinct under the driver hash.
    */
  def momentum(spark: SparkSession, dir: String): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    val w14 = wRn.rowsBetween(-13, 0)
    validDailyOhlc(spark, dir)
      .withColumn("rn", row_number().over(wRn))
      .withColumn("hi14", max("high_price").over(w14))
      .withColumn("lo14", min("low_price").over(w14))
      .withColumn("willr",
        when(col("rn") >= 14 && col("hi14") > col("lo14"), expr(
          "round(-100.0D * (hi14 - close_price) / (hi14 - lo14)" +
            " * 1000000.0D, 0) / 1000000.0D")))
      .withColumn("close_12", lag("close_price", 12).over(wRn))
      .withColumn("roc_12", expr(
        "round(100.0D * (close_price - close_12) / close_12" +
          " * 1000000.0D, 0) / 1000000.0D"))
      .withColumn("mom_10",
        col("close_price") - lag("close_price", 10).over(wRn))
      .select("user_id", "trade_date", "close_price", "willr",
        "roc_12", "mom_10")
  }

  def momentumSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), w AS (
       |  SELECT user_id, trade_date, close_price,
       |    row_number() OVER pk AS rn,
       |    max(high_price) OVER w14 AS hi14,
       |    min(low_price) OVER w14 AS lo14,
       |    lag(close_price, 12) OVER pk AS close_12,
       |    lag(close_price, 10) OVER pk AS close_10
       |  FROM ohlc WINDOW pk AS (PARTITION BY user_id ORDER BY trade_date),
       |    w14 AS (PARTITION BY user_id ORDER BY trade_date
       |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
       |)
       |SELECT user_id, trade_date, close_price,
       |  round(CASE WHEN rn >= 14 AND hi14 > lo14
       |    THEN -100.0 * (hi14 - close_price) / (hi14 - lo14) END, 6)
       |    + 0.0 AS willr,
       |  round(100.0 * (close_price - close_12) / close_12, 6) + 0.0 AS roc_12,
       |  close_price - close_10 AS mom_10
       |FROM w ORDER BY user_id, trade_date""".stripMargin

  /** ICHIMOKU CLOUD at quarter scale (3/6/12, displacement 6 — the
    * standard 9/26/52 never goes live on this corpus' 22-30-session
    * symbols; the structure, not the constants, is the operator):
    * tenkan = 3-bar (max high + min low)/2, kijun = 6-bar midline,
    * senkou A = (tenkan + kijun)/2 displaced 6 FORWARD (today shows
    * the cloud computed 6 sessions ago — lag), senkou B = 12-bar
    * midline displaced 6 forward, chikou = close displaced 6 BACK
    * (lead — NULL on each symbol's last 6 sessions by construction).
    *
    * Pure extreme/lag/lead windows over day rows, one symbol-keyed
    * shuffle; every output is midpoint arithmetic on the round-4
    * OHLC extremes — identical IEEE ops on both engines, so values
    * carry verbatim with NO display round at all.
    */
  def ichimoku(spark: SparkSession, dir: String): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    def mid(n: Int) = {
      val w = wRn.rowsBetween(1 - n, 0)
      (max("high_price").over(w) + min("low_price").over(w)) / 2.0
    }
    validDailyOhlc(spark, dir)
      .withColumn("rn", row_number().over(wRn))
      .withColumn("tenkan", when(col("rn") >= 3, mid(3)))
      .withColumn("kijun", when(col("rn") >= 6, mid(6)))
      .withColumn("senkou_a",
        lag((col("tenkan") + col("kijun")) / 2.0, 6).over(wRn))
      .withColumn("senkou_b", lag(when(col("rn") >= 12, mid(12)), 6).over(wRn))
      .withColumn("chikou", lead("close_price", 6).over(wRn))
      .select("user_id", "trade_date", "close_price", "tenkan", "kijun",
        "senkou_a", "senkou_b", "chikou")
  }

  def ichimokuSql: String = {
    def mid(n: Int) =
      s"""(max(high_price) OVER (PARTITION BY user_id ORDER BY trade_date
         |      ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW)
         |   + min(low_price) OVER (PARTITION BY user_id ORDER BY trade_date
         |      ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW)) / 2.0""".stripMargin
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), w AS (
       |  SELECT user_id, trade_date, close_price,
       |    row_number() OVER pk AS rn,
       |    ${mid(3)} AS t3,
       |    ${mid(6)} AS k6,
       |    ${mid(12)} AS b12
       |  FROM ohlc WINDOW pk AS (PARTITION BY user_id ORDER BY trade_date)
       |), c AS (
       |  SELECT user_id, trade_date, close_price, rn,
       |    CASE WHEN rn >= 3 THEN t3 END AS tenkan,
       |    CASE WHEN rn >= 6 THEN k6 END AS kijun,
       |    CASE WHEN rn >= 12 THEN b12 END AS sb
       |  FROM w
       |)
       |SELECT user_id, trade_date, close_price, tenkan, kijun,
       |  lag((tenkan + kijun) / 2.0, 6) OVER pk AS senkou_a,
       |  lag(sb, 6) OVER pk AS senkou_b,
       |  lead(close_price, 6) OVER pk AS chikou
       |FROM c WINDOW pk AS (PARTITION BY user_id ORDER BY trade_date)
       |ORDER BY user_id, trade_date""".stripMargin
  }

  /** PARABOLIC SAR — Wilder's stop-and-reverse trail, the fold
    * tier's only MULTI-FIELD state machine: per symbol the state
    * (trend, sar, extreme point, acceleration factor) evolves per
    * session — sar steps toward the EP by af (af grows 0.02 per new
    * extreme, capped 0.2), clamps to the prior session's opposite
    * extreme, and on penetration REVERSES (sar := prior EP, af
    * resets, trend flips). Simplifications, documented as the
    * operator's contract: trend seeds off close₂ vs close₁ (ties →
    * up), the clamp uses one prior bar (not Wilder's two), and the
    * post-reversal sar is not re-bounded by the current bar.
    * Session 1 carries no state; output = (sar, trend_up, reversal).
    *
    * Scale shape: the adx/atrWilder pattern — ONE symbol-keyed
    * shuffle into a sorted bar array, then a single O(days)
    * `aggregate` fold whose accumulator carries the 4-field state
    * plus the emitted series; the oracle replays the identical
    * float-op sequence per day via `list_reduce` prefix folds over
    * the SAME state struct (O(days²), oracle-only) → bit-identical
    * under the scaled display round. Hash-exact at both SFs.
    */
  def psar(spark: SparkSession, dir: String): DataFrame =
    psarOfDaily(validDailyOhlc(spark, dir))

  /** The SAR state machine over an arbitrary daily OHLC frame — the
    * ScaleProbe entry.
    */
  private[graft] def psarOfDaily(daily: DataFrame): DataFrame = {
    val nsr = "(a.sar + a.af * (a.ep - a.sar))"
    val nsc = s"IF(a.up, least($nsr, a.pl), greatest($nsr, a.ph))"
    val rev = s"IF(a.up, b.lo < $nsc, b.hi > $nsc)"
    val upP =
      s"CASE WHEN a.up IS NULL THEN b.cls >= a.pc WHEN $rev THEN NOT a.up ELSE a.up END"
    val sarP = "CASE WHEN a.up IS NULL THEN " +
      "IF(b.cls >= a.pc, least(a.pl, b.lo), greatest(a.ph, b.hi)) " +
      s"WHEN $rev THEN a.ep ELSE $nsc END"
    val epP = "CASE WHEN a.up IS NULL THEN " +
      "IF(b.cls >= a.pc, greatest(a.ph, b.hi), least(a.pl, b.lo)) " +
      s"WHEN $rev THEN IF(a.up, b.lo, b.hi) " +
      "ELSE CASE WHEN a.up AND b.hi > a.ep THEN b.hi " +
      "WHEN NOT a.up AND b.lo < a.ep THEN b.lo ELSE a.ep END END"
    val afP = s"CASE WHEN a.up IS NULL OR $rev THEN 0.02D " +
      "ELSE CASE WHEN (a.up AND b.hi > a.ep) OR (NOT a.up AND b.lo < a.ep) " +
      "THEN least(a.af + 0.02D, 0.2D) ELSE a.af END END"
    val revOut = s"CASE WHEN a.up IS NULL THEN false ELSE $rev END"
    val stT = "STRUCT<sar: DOUBLE, up: BOOLEAN, rev: BOOLEAN>"
    val fold =
      s"""aggregate(
         |  slice(bars, 2, size(bars) - 1),
         |  named_struct(
         |    'up', CAST(NULL AS BOOLEAN), 'sar', CAST(NULL AS DOUBLE),
         |    'ep', CAST(NULL AS DOUBLE), 'af', CAST(NULL AS DOUBLE),
         |    'ph', element_at(bars, 1).hi, 'pl', element_at(bars, 1).lo,
         |    'pc', element_at(bars, 1).cls,
         |    'out', CAST(array() AS ARRAY<$stT>)),
         |  (a, b) -> named_struct(
         |    'up', $upP, 'sar', $sarP, 'ep', $epP, 'af', $afP,
         |    'ph', b.hi, 'pl', b.lo, 'pc', b.cls,
         |    'out', concat(a.out, array(named_struct(
         |      'sar', $sarP, 'up', $upP, 'rev', $revOut)))),
         |  acc -> concat(array(CAST(NULL AS $stT)), acc.out))""".stripMargin
    daily
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(
        col("trade_date").as("ddate"), col("high_price").as("hi"),
        col("low_price").as("lo"), col("close_price").as("cls"))))
        .as("bars"))
      .withColumn("states", expr(fold))
      .select(col("user_id"), expr("inline(arrays_zip(bars, states))"))
      .select(col("user_id"), col("bars.ddate").as("trade_date"),
        col("bars.cls").as("close_price"),
        expr("round(states.sar * 1000000.0D, 0) / 1000000.0D").as("psar"),
        col("states.up").as("trend_up"),
        col("states.rev").as("reversal"))
  }

  /** The SAR replay CTE pair (`n`, `st`) over an `ohlc` CTE — the
    * identical transition as the Spark fold, replayed via a
    * RECURSIVE CTE: all symbols advance one session per iteration,
    * the state is a plain row, every expression an ordinary column
    * reference. (A list_reduce prefix-fold formulation — the adx
    * oracle's shape — returns field-inconsistent states on this
    * lambda once the source list passes ~20 elements in DuckDB
    * 1.0.0: within one application `up` took the reversal branch
    * while `sar` evaluated least(NULL, pl). Row-recursion sidesteps
    * the lambda evaluator entirely.) Shared by [[psarSql]] and
    * [[signalConfluenceSql]] so the state machine has ONE SQL
    * definition.
    */
  private def psarCteSql: String = {
    val nsr = "(a.sar + a.af * (a.ep - a.sar))"
    val nsc = s"CASE WHEN a.up THEN least($nsr, a.pl) ELSE greatest($nsr, a.ph) END"
    val rev = s"CASE WHEN a.up THEN b.lo < ($nsc) ELSE b.hi > ($nsc) END"
    s"""n AS (
       |  SELECT user_id, trade_date, high_price AS hi, low_price AS lo,
       |    close_price AS cls,
       |    row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
       |  FROM ohlc
       |), st AS (
       |  SELECT b2.user_id, 2::BIGINT AS rn,
       |    (b2.cls >= b1.cls) AS up,
       |    CASE WHEN b2.cls >= b1.cls THEN least(b1.lo, b2.lo)
       |         ELSE greatest(b1.hi, b2.hi) END AS sar,
       |    CASE WHEN b2.cls >= b1.cls THEN greatest(b1.hi, b2.hi)
       |         ELSE least(b1.lo, b2.lo) END AS ep,
       |    0.02::DOUBLE AS af, false AS rv, b2.hi AS ph, b2.lo AS pl
       |  FROM n b1 JOIN n b2
       |    ON b1.user_id = b2.user_id AND b1.rn = 1 AND b2.rn = 2
       |  UNION ALL
       |  SELECT a.user_id, a.rn + 1,
       |    CASE WHEN $rev THEN NOT a.up ELSE a.up END,
       |    CASE WHEN $rev THEN a.ep ELSE ($nsc) END,
       |    CASE WHEN $rev THEN (CASE WHEN a.up THEN b.lo ELSE b.hi END)
       |         ELSE CASE WHEN a.up AND b.hi > a.ep THEN b.hi
       |              WHEN NOT a.up AND b.lo < a.ep THEN b.lo
       |              ELSE a.ep END END,
       |    CASE WHEN $rev THEN 0.02::DOUBLE
       |         ELSE CASE WHEN (a.up AND b.hi > a.ep)
       |                     OR (NOT a.up AND b.lo < a.ep)
       |              THEN least(a.af + 0.02::DOUBLE, 0.2::DOUBLE)
       |              ELSE a.af END END,
       |    $rev, b.hi, b.lo
       |  FROM st a JOIN n b ON b.user_id = a.user_id AND b.rn = a.rn + 1
       |)""".stripMargin
  }

  def psarSql: String =
    s"""WITH RECURSIVE ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), $psarCteSql
       |SELECT n.user_id, n.trade_date, n.cls AS close_price,
       |  round(st.sar * 1000000.0, 0) / 1000000.0 AS psar,
       |  st.up AS trend_up, st.rv AS reversal
       |FROM n LEFT JOIN st ON st.user_id = n.user_id AND st.rn = n.rn
       |ORDER BY n.user_id, n.trade_date""".stripMargin

  /** SIGNAL CONFLUENCE SCREENER — the daily tier's capstone report:
    * seven indicator families vote one TREND-FOLLOWING signal each
    * (documented: overbought momentum counts as bullish confirmation
    * here, not as a contrarian reversal) and the screener reports
    * the per-side counts a dashboard ranks by:
    *   close vs SMA-20 · Bollinger 2σ band break · stochastic-14
    *   80/20 zone · CCI-20 ±100 zone · Aroon-26 dominance ·
    *   Donchian-20 breakout vs the prior channel · SAR trend.
    * Each signal is an INT 1/0, NULL until its own lookback fills —
    * and the output carries ONLY integers: every float feeds a
    * comparison computed from engine-identical doubles (ordered
    * folds for SMA/variance/mean-deviation, multiplication instead
    * of division for the zone tests: %K > 80 ⟺ (close−lo14)·100 >
    * 80·(hi14−lo14), CCI > 100 ⟺ (tp−smaTP) > 1.5·meanDev), so hash
    * parity holds with NO display rounding anywhere.
    *
    * Scale shape: one window pass over the shared daily frame (all
    * extremes/folds off the same symbol partitioning) joined once,
    * on day rows, with the [[psar]] fold (day-row equi-join). The
    * oracle composes the SAME ohlc kernel, the SAME recursive SAR
    * CTE ([[psarCteSql]] — one SQL definition of the state machine),
    * and the window CTEs.
    */
  def signalConfluence(spark: SparkSession, dir: String): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    val w14 = wRn.rowsBetween(-13, 0)
    val w20 = wRn.rowsBetween(-19, 0)
    val w26 = wRn.rowsBetween(-25, 0)
    def live(n: Int, c: org.apache.spark.sql.Column) =
      when(col("rn") >= n, c.cast("int"))
    val sig = validDailyOhlc(spark, dir)
      .withColumn("tp", round(
        (col("high_price") + col("low_price") + col("close_price")) / 3.0, 6))
      .withColumn("rn", row_number().over(wRn))
      .withColumn("cls20", collect_list("close_price").over(w20))
      .withColumn("tps", collect_list("tp").over(w20))
      .withColumn("sma", expr("aggregate(cls20, 0.0D, (a, x) -> a + x) / 20.0D"))
      .withColumn("sma_tp", expr("aggregate(tps, 0.0D, (a, x) -> a + x) / 20.0D"))
      .withColumn("md", expr(
        "aggregate(tps, 0.0D, (acc, x) -> acc + abs(x - sma_tp)) / 20.0D"))
      .withColumn("sd", sqrt(expr(
        "aggregate(cls20, 0.0D, (acc, x) -> acc + (x - sma) * (x - sma)) / 20.0D")))
      .withColumn("hi14", max("high_price").over(w14))
      .withColumn("lo14", min("low_price").over(w14))
      .withColumn("hi_rn",
        max(struct(col("high_price"), col("rn"))).over(w26).getField("rn"))
      .withColumn("lo_rn",
        -min(struct(col("low_price"), (-col("rn")).as("nrn"))).over(w26)
          .getField("nrn"))
      .withColumn("up20", max("high_price").over(w20))
      .withColumn("dn20", min("low_price").over(w20))
      .withColumn("prev_up", lag("up20", 1).over(wRn))
      .withColumn("prev_dn", lag("dn20", 1).over(wRn))
      .withColumn("sma_bull", live(20, col("close_price") > col("sma")))
      .withColumn("boll_up",
        live(20, col("close_price") > col("sma") + lit(2.0) * col("sd")))
      .withColumn("boll_dn",
        live(20, col("close_price") < col("sma") - lit(2.0) * col("sd")))
      .withColumn("stoch_hot", when(col("rn") >= 14 && col("hi14") > col("lo14"),
        ((col("close_price") - col("lo14")) * 100.0 >
          lit(80.0) * (col("hi14") - col("lo14"))).cast("int")))
      .withColumn("stoch_cold", when(col("rn") >= 14 && col("hi14") > col("lo14"),
        ((col("close_price") - col("lo14")) * 100.0 <
          lit(20.0) * (col("hi14") - col("lo14"))).cast("int")))
      .withColumn("cci_hot", when(col("rn") >= 20 && col("md") > 0,
        (col("tp") - col("sma_tp") > lit(1.5) * col("md")).cast("int")))
      .withColumn("cci_cold", when(col("rn") >= 20 && col("md") > 0,
        (col("tp") - col("sma_tp") < lit(-1.5) * col("md")).cast("int")))
      .withColumn("aroon_bull", live(26, col("hi_rn") > col("lo_rn")))
      .withColumn("aroon_bear", live(26, col("lo_rn") > col("hi_rn")))
      .withColumn("brk_up", live(21, col("close_price") > col("prev_up")))
      .withColumn("brk_dn", live(21, col("close_price") < col("prev_dn")))
    val trend = psar(spark, dir)
      .select(col("user_id"), col("trade_date"),
        col("trend_up").cast("int").as("psar_bull"),
        (!col("trend_up")).cast("int").as("psar_bear"))
    def score(cols: String*) =
      cols.map(c => coalesce(col(c), lit(0))).reduce(_ + _)
    sig.join(trend, Seq("user_id", "trade_date"))
      .withColumn("bull_score", score("sma_bull", "boll_up", "stoch_hot",
        "cci_hot", "aroon_bull", "brk_up", "psar_bull"))
      .withColumn("bear_score", score("boll_dn", "stoch_cold", "cci_cold",
        "aroon_bear", "brk_dn", "psar_bear") +
        coalesce(lit(1) - col("sma_bull"), lit(0)))
      .withColumn("net_score", col("bull_score") - col("bear_score"))
      .select("user_id", "trade_date", "sma_bull", "boll_up", "boll_dn",
        "stoch_hot", "stoch_cold", "cci_hot", "cci_cold", "aroon_bull",
        "aroon_bear", "brk_up", "brk_dn", "psar_bull", "psar_bear",
        "bull_score", "bear_score", "net_score")
  }

  def signalConfluenceSql: String =
    s"""WITH RECURSIVE ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), $psarCteSql, b AS (
       |  SELECT user_id, trade_date, high_price, low_price, close_price,
       |    round((high_price + low_price + close_price) / 3.0, 6) AS tp,
       |    row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn
       |  FROM ohlc
       |), w AS (
       |  SELECT user_id, trade_date, close_price, tp, rn,
       |    list(close_price) OVER w20 AS cls20,
       |    list(tp) OVER w20 AS tps,
       |    max(high_price) OVER w14 AS hi14,
       |    min(low_price) OVER w14 AS lo14,
       |    (max(struct_pack(h := high_price, rn := rn)) OVER w26).rn AS hi_rn,
       |    -((min(struct_pack(l := low_price, nrn := -rn)) OVER w26).nrn) AS lo_rn,
       |    max(high_price) OVER w20 AS up20,
       |    min(low_price) OVER w20 AS dn20
       |  FROM b WINDOW
       |    w14 AS (PARTITION BY user_id ORDER BY trade_date
       |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
       |    w20 AS (PARTITION BY user_id ORDER BY trade_date
       |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
       |    w26 AS (PARTITION BY user_id ORDER BY trade_date
       |      ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)
       |), x AS (
       |  SELECT *,
       |    list_reduce(list_prepend(0.0, cls20), (a, v) -> a + v) / 20.0 AS sma,
       |    list_reduce(list_prepend(0.0, tps), (a, v) -> a + v) / 20.0 AS sma_tp,
       |    lag(up20) OVER pk AS prev_up,
       |    lag(dn20) OVER pk AS prev_dn
       |  FROM w WINDOW pk AS (PARTITION BY user_id ORDER BY trade_date)
       |), y AS (
       |  SELECT *,
       |    list_reduce(list_prepend(0.0,
       |      list_transform(tps, v -> abs(v - sma_tp))), (a, v) -> a + v)
       |      / 20.0 AS md,
       |    sqrt(list_reduce(list_prepend(0.0,
       |      list_transform(cls20, v -> (v - sma) * (v - sma))), (a, v) -> a + v)
       |      / 20.0) AS sd
       |  FROM x
       |), sg AS (
       |  SELECT user_id, trade_date,
       |    CASE WHEN rn >= 20 THEN (close_price > sma)::INT END AS sma_bull,
       |    CASE WHEN rn >= 20 THEN (close_price > sma + 2.0 * sd)::INT END AS boll_up,
       |    CASE WHEN rn >= 20 THEN (close_price < sma - 2.0 * sd)::INT END AS boll_dn,
       |    CASE WHEN rn >= 14 AND hi14 > lo14 THEN
       |      ((close_price - lo14) * 100.0 > 80.0 * (hi14 - lo14))::INT END AS stoch_hot,
       |    CASE WHEN rn >= 14 AND hi14 > lo14 THEN
       |      ((close_price - lo14) * 100.0 < 20.0 * (hi14 - lo14))::INT END AS stoch_cold,
       |    CASE WHEN rn >= 20 AND md > 0 THEN
       |      (tp - sma_tp > 1.5 * md)::INT END AS cci_hot,
       |    CASE WHEN rn >= 20 AND md > 0 THEN
       |      (tp - sma_tp < -1.5 * md)::INT END AS cci_cold,
       |    CASE WHEN rn >= 26 THEN (hi_rn > lo_rn)::INT END AS aroon_bull,
       |    CASE WHEN rn >= 26 THEN (lo_rn > hi_rn)::INT END AS aroon_bear,
       |    CASE WHEN rn >= 21 THEN (close_price > prev_up)::INT END AS brk_up,
       |    CASE WHEN rn >= 21 THEN (close_price < prev_dn)::INT END AS brk_dn
       |  FROM y
       |), p AS (
       |  SELECT n.user_id, n.trade_date, st.up::INT AS psar_bull,
       |    (NOT st.up)::INT AS psar_bear
       |  FROM n LEFT JOIN st ON st.user_id = n.user_id AND st.rn = n.rn
       |)
       |SELECT sg.*, p.psar_bull, p.psar_bear,
       |  coalesce(sma_bull, 0) + coalesce(boll_up, 0) + coalesce(stoch_hot, 0)
       |    + coalesce(cci_hot, 0) + coalesce(aroon_bull, 0)
       |    + coalesce(brk_up, 0) + coalesce(psar_bull, 0) AS bull_score,
       |  coalesce(boll_dn, 0) + coalesce(stoch_cold, 0) + coalesce(cci_cold, 0)
       |    + coalesce(aroon_bear, 0) + coalesce(brk_dn, 0)
       |    + coalesce(psar_bear, 0) + coalesce(1 - sma_bull, 0) AS bear_score,
       |  (coalesce(sma_bull, 0) + coalesce(boll_up, 0) + coalesce(stoch_hot, 0)
       |    + coalesce(cci_hot, 0) + coalesce(aroon_bull, 0)
       |    + coalesce(brk_up, 0) + coalesce(psar_bull, 0))
       |  - (coalesce(boll_dn, 0) + coalesce(stoch_cold, 0) + coalesce(cci_cold, 0)
       |    + coalesce(aroon_bear, 0) + coalesce(brk_dn, 0)
       |    + coalesce(psar_bear, 0) + coalesce(1 - sma_bull, 0)) AS net_score
       |FROM sg JOIN p ON p.user_id = sg.user_id AND p.trade_date = sg.trade_date
       |ORDER BY sg.user_id, sg.trade_date""".stripMargin

  /** ADX — Wilder's directional-movement system, the capstone of the
    * fold tier: per session (from session 2) the directional moves
    * +DM/−DM and the true range each Wilder-smooth at 14; the
    * directional indicators ±DI = 100·smoothed(±DM)/smoothed(TR)
    * (0 on a zero-TR band — both engines, so DX stays total); DX =
    * 100·|+DI − −DI|/(+DI + −DI) (0 when both DIs are 0); ADX is a
    * SECOND Wilder-14 smoothing over the DX series — live from
    * session 28 (the corpus holds 28-30-session symbols at every SF,
    * so the oracle exercises real ADX values, not just warmup NULLs).
    *
    * Four [[wilderRunExpr]] folds compose per symbol — three parallel
    * over the session-2+ series, one dependent over DX — all O(days)
    * appends after ONE symbol-keyed shuffle; the oracle replays every
    * fold per day via `list_reduce` prefix folds (O(days²),
    * oracle-only) → BIT-identical values under the shared scaled
    * display round. Hash-exact at all three SFs.
    */
  def adx(spark: SparkSession, dir: String): DataFrame =
    adxOfDaily(validDailyOhlc(spark, dir))

  /** The ADX pipeline over an arbitrary (user_id, trade_date,
    * high_price, low_price, close_price) daily frame — the crafted-
    * series spec entry.
    */
  private[graft] def adxOfDaily(daily: DataFrame): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    val sr = "round(%s * 1000000.0D, 0) / 1000000.0D"
    daily
      .withColumn("prev_hi", lag("high_price", 1).over(wRn))
      .withColumn("prev_lo", lag("low_price", 1).over(wRn))
      .withColumn("prev_close", lag("close_price", 1).over(wRn))
      .withColumn("dmp", round(
        when(col("high_price") - col("prev_hi") > col("prev_lo") - col("low_price") &&
          col("high_price") - col("prev_hi") > 0,
          col("high_price") - col("prev_hi")).otherwise(lit(0.0)), 6))
      .withColumn("dmm", round(
        when(col("prev_lo") - col("low_price") > col("high_price") - col("prev_hi") &&
          col("prev_lo") - col("low_price") > 0,
          col("prev_lo") - col("low_price")).otherwise(lit(0.0)), 6))
      .withColumn("tr2", round(greatest(
        col("high_price") - col("low_price"),
        abs(col("high_price") - col("prev_close")),
        abs(col("low_price") - col("prev_close"))), 6))
      .groupBy("user_id")
      .agg(array_sort(collect_list(
        struct(col("trade_date"), col("dmp"), col("dmm"), col("tr2"))))
        .as("days0"))
      // session-2+ series (session 1 has no previous bar)
      .withColumn("dps",
        expr("transform(slice(days0, 2, size(days0) - 1), d -> d.dmp)"))
      .withColumn("dms",
        expr("transform(slice(days0, 2, size(days0) - 1), d -> d.dmm)"))
      .withColumn("trs",
        expr("transform(slice(days0, 2, size(days0) - 1), d -> d.tr2)"))
      .withColumn("sdp", expr(wilderRunExpr("dps", 14)))
      .withColumn("sdm", expr(wilderRunExpr("dms", 14)))
      .withColumn("str", expr(wilderRunExpr("trs", 14)))
      .withColumn("dip", expr("zip_with(sdp, str, (p, t) -> " +
        "CASE WHEN p IS NULL THEN NULL WHEN t = 0D THEN 0D " +
        "ELSE 100.0D * p / t END)"))
      .withColumn("dim0", expr("zip_with(sdm, str, (m, t) -> " +
        "CASE WHEN m IS NULL THEN NULL WHEN t = 0D THEN 0D " +
        "ELSE 100.0D * m / t END)"))
      .withColumn("dx", expr("zip_with(dip, dim0, (p, m) -> " +
        "CASE WHEN p IS NULL THEN NULL WHEN p + m = 0D THEN 0D " +
        "ELSE 100.0D * abs(p - m) / (p + m) END)"))
      .withColumn("dxs", expr("CASE WHEN size(dx) >= 14 " +
        "THEN slice(dx, 14, size(dx) - 13) ELSE array() END"))
      .withColumn("adxs", expr(wilderRunExpr("dxs", 14)))
      .withColumn("dip_f", expr(
        "transform(concat(array(CAST(NULL AS DOUBLE)), dip), x -> " +
          sr.format("x") + ")"))
      .withColumn("dim_f", expr(
        "transform(concat(array(CAST(NULL AS DOUBLE)), dim0), x -> " +
          sr.format("x") + ")"))
      .withColumn("dx_f", expr(
        "transform(concat(array(CAST(NULL AS DOUBLE)), dx), x -> " +
          sr.format("x") + ")"))
      .withColumn("adx_f", expr(
        "transform(sequence(1, size(days0)), t -> CASE WHEN t >= 28 " +
          "AND t - 14 <= size(adxs) THEN " +
          sr.format("element_at(adxs, t - 14)") + " END)"))
      .select(col("user_id"),
        expr("inline(arrays_zip(days0, dip_f, dim_f, dx_f, adx_f))"))
      .select(col("user_id"), col("days0.trade_date").as("trade_date"),
        col("dip_f").as("di_plus"), col("dim_f").as("di_minus"),
        col("dx_f").as("dx"), col("adx_f").as("adx"))
  }

  def adxSql: String = {
    def wf(seed: String, arr: String, j: String) =
      s"list_reduce(list_prepend($seed, $arr[15:$j]), (a, x) -> (a * 13.0 + x) / 14.0)"
    val sp = wf("seed_p", "dps", "j")
    val sm = wf("seed_m", "dms", "j")
    val st = wf("seed_t", "trs", "j")
    val dip = s"CASE WHEN ($st) = 0 THEN 0.0 ELSE 100.0 * ($sp) / ($st) END"
    val dim = s"CASE WHEN ($st) = 0 THEN 0.0 ELSE 100.0 * ($sm) / ($st) END"
    val dx =
      s"CASE WHEN ($dip) + ($dim) = 0 THEN 0.0 " +
        s"ELSE 100.0 * abs(($dip) - ($dim)) / (($dip) + ($dim)) END"
    def atDay(e: String) = e.replace("j", "(t - 1)")
    val adxK = wf("seed_adx", "dxs", "k").replace("k", "(t - 14)")
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), w AS (
       |  SELECT user_id, trade_date, high_price, low_price, close_price,
       |    lag(high_price) OVER pk AS prev_hi,
       |    lag(low_price) OVER pk AS prev_lo,
       |    lag(close_price) OVER pk AS prev_close
       |  FROM ohlc WINDOW pk AS (PARTITION BY user_id ORDER BY trade_date)
       |), d AS (
       |  SELECT user_id, trade_date,
       |    round(CASE WHEN (high_price - prev_hi) > (prev_lo - low_price)
       |      AND (high_price - prev_hi) > 0
       |      THEN high_price - prev_hi ELSE 0 END, 6) AS dmp,
       |    round(CASE WHEN (prev_lo - low_price) > (high_price - prev_hi)
       |      AND (prev_lo - low_price) > 0
       |      THEN prev_lo - low_price ELSE 0 END, 6) AS dmm,
       |    round(greatest(high_price - low_price,
       |      abs(high_price - prev_close),
       |      abs(low_price - prev_close)), 6) AS tr2,
       |    (prev_close IS NOT NULL) AS has_prev
       |  FROM w
       |), g AS (
       |  SELECT user_id,
       |    list(trade_date ORDER BY trade_date) AS dts,
       |    list(dmp ORDER BY trade_date) FILTER (WHERE has_prev) AS dps,
       |    list(dmm ORDER BY trade_date) FILTER (WHERE has_prev) AS dms,
       |    list(tr2 ORDER BY trade_date) FILTER (WHERE has_prev) AS trs
       |  FROM d GROUP BY user_id
       |), s AS (
       |  SELECT user_id, dts, dps, dms, trs,
       |    CASE WHEN len(dps) >= 14
       |      THEN list_reduce(dps[1:14], (a, x) -> a + x) / 14.0 END AS seed_p,
       |    CASE WHEN len(dms) >= 14
       |      THEN list_reduce(dms[1:14], (a, x) -> a + x) / 14.0 END AS seed_m,
       |    CASE WHEN len(trs) >= 14
       |      THEN list_reduce(trs[1:14], (a, x) -> a + x) / 14.0 END AS seed_t
       |  FROM g
       |), f AS (
       |  SELECT *, CASE WHEN len(dps) >= 14
       |    THEN list_transform(generate_series(14, len(dps)), j -> $dx)
       |    ELSE [] END AS dxs
       |  FROM s
       |), f2 AS (
       |  SELECT *, CASE WHEN len(dxs) >= 14
       |    THEN list_reduce(dxs[1:14], (a, x) -> a + x) / 14.0 END AS seed_adx
       |  FROM f
       |)
       |SELECT user_id, unnest(dts) AS trade_date,
       |  unnest(list_transform(generate_series(1, len(dts)), t ->
       |    CASE WHEN t >= 15 THEN round(${atDay(dip)}, 6) END)) AS di_plus,
       |  unnest(list_transform(generate_series(1, len(dts)), t ->
       |    CASE WHEN t >= 15 THEN round(${atDay(dim)}, 6) END)) AS di_minus,
       |  unnest(list_transform(generate_series(1, len(dts)), t ->
       |    CASE WHEN t >= 15 THEN round(${atDay(dx)}, 6) END)) AS dx,
       |  unnest(list_transform(generate_series(1, len(dts)), t ->
       |    CASE WHEN t >= 28 AND t - 14 <= len(dxs)
       |      THEN round($adxK, 6) END)) AS adx
       |FROM f2
       |ORDER BY user_id, trade_date""".stripMargin
  }

  def atrWilderSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), t AS (
       |  SELECT user_id, trade_date, high_price, low_price, close_price,
       |    lag(close_price) OVER (PARTITION BY user_id
       |      ORDER BY trade_date) AS prev_close
       |  FROM ohlc
       |), tr AS (
       |  SELECT user_id, trade_date, round(CASE WHEN prev_close IS NULL
       |    THEN high_price - low_price
       |    ELSE greatest(high_price - low_price,
       |                  abs(high_price - prev_close),
       |                  abs(low_price - prev_close)) END, 6) AS tr
       |  FROM t
       |), g AS (
       |  SELECT user_id,
       |    list(trade_date ORDER BY trade_date) AS dts,
       |    list(tr ORDER BY trade_date) AS trs
       |  FROM tr GROUP BY user_id
       |), s AS (
       |  SELECT user_id, dts, trs,
       |    CASE WHEN len(trs) >= 14
       |      THEN list_reduce(trs[1:14], (a, x) -> a + x) / 14.0 END AS seed
       |  FROM g
       |)
       |SELECT user_id, unnest(dts) AS trade_date, unnest(trs) AS tr,
       |  unnest(list_transform(generate_series(1, len(trs)), i ->
       |    CASE WHEN i < 14 THEN NULL
       |    ELSE round(list_reduce(list_prepend(seed, trs[15:i]),
       |                           (a, x) -> (a * 13.0 + x) / 14.0), 6)
       |    END)) AS atr_wilder
       |FROM s
       |ORDER BY user_id, trade_date""".stripMargin

  /** Daily VWAP per symbol — the execution-quality benchmark price:
    * Σ(price·volume)/Σ(volume) over each session's validated ticks,
    * with the tick's `props.k` payload playing volume (the JSON
    * side-channel [[jsonExtract]] already parses — the synthetic
    * corpus' stand-in for the reference tick message's volume field,
    * producer.py's message schema). Zero/absent-volume ticks carry no
    * weight and are excluded.
    *
    * Cross-engine exactness: a double Σ(price·vol) is accumulation-
    * order-dependent and DID straddle the 6-dp rounding boundary at
    * sf0.1, so the weighted sum runs EXACT — prices scale to integer
    * micros (round(value·1e6): ticks sit within 1e-8 of an integer,
    * so the engines' half-up/half-away split can never bite) and sum
    * as DECIMAL(38,0) — exact, order-independent, overflow-free to
    * 1e38 micro-lots. The quotient then rounds AT SCALE 0 in
    * micro-units, not at scale 6 in dollars: an exactly-dyadic
    * quotient (65.2171875 at sf0.1) hits the half boundary, where
    * DuckDB's scaled round multiplies by 10⁶ first (injecting ulp
    * noise below the half) while Spark rounds the exact double — at
    * scale 0 there is no scaling multiply and positive half-up ==
    * half-away, so the engines agree on every representable input.
    *
    * Scale shape: ONE partial aggregate — the JSON parse and the
    * weight products are map-side, the shuffle carries (symbol, day)
    * partials only. The 100 TB shape by construction.
    */
  def vwap(spark: SparkSession, dir: String): DataFrame =
    validTicksVol(spark, dir)
      .filter(col("vol") > 0)
      .groupBy(col("user_id"), to_date(col("ts")).as("trade_date"))
      .agg(
        (round(
          sum(round(col("value") * 1e6, 0).cast("decimal(38,0)") * col("vol"))
            .cast("double") / sum("vol").cast("double"), 0) / 1e6)
          .as("vwap"),
        sum("vol").as("volume"),
        count(lit(1)).as("n_ticks"))

  def vwapSql: String =
    """SELECT user_id, CAST(ts AS DATE) AS trade_date,
      |  round(CAST(sum(round(value * 1000000)::DECIMAL(38,0) * vol) AS DOUBLE)
      |    / CAST(sum(vol) AS DOUBLE)) / 1000000 AS vwap,
      |  sum(vol)::BIGINT AS volume, count(*) AS n_ticks
      |FROM (
      |  SELECT user_id, ts, value,
      |    json_extract(props, '$.k')::BIGINT AS vol
      |  FROM events
      |  WHERE value IS NOT NULL AND value > 0 AND NOT isnan(value)
      |    AND user_id IS NOT NULL
      |)
      |WHERE vol IS NOT NULL AND vol > 0
      |GROUP BY 1, 2 ORDER BY user_id, trade_date""".stripMargin

  /** On-Balance Volume per symbol — the volume-flow confirmation
    * indicator next to [[vwap]]: each session's volume (Σ parsed
    * `props.k`; ticks without a payload weigh 0) adds on an up-close,
    * subtracts on a down-close, carries on a flat close; OBV is the
    * running total (session 1 contributes 0 — no prior close to
    * compare, the zero-baseline convention). The close is the same
    * last-by-(ts, event_id) rule every daily surface shares.
    *
    * All-integer volume arithmetic → exact on both engines; the sign
    * compares raw close doubles, identical by construction.
    *
    * Scale shape: one (symbol, day) partial aggregate (close via
    * max_by, volume map-side), then symbol-keyed lag + running-sum
    * windows over day rows — the [[drawdown]] shape.
    */
  /** Validated ticks WITH the parsed volume payload — the ONE
    * definition shared by every volume-consuming surface (obv, vwap's
    * siblings, the profile, money flow, the heatmap), so tick
    * validity and the props.k parse cannot drift between them.
    */
  private[graft] def validTicksVol(spark: SparkSession,
      dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(validTick)
      .withColumn("vol", coalesce(
        get_json_object(col("props"), "$.k").cast("long"), lit(0L)))

  def obv(spark: SparkSession, dir: String): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    val wRun = wRn.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    validTicksVol(spark, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("trade_date"))
      .agg(max_by(col("value"), struct(col("ts"), col("event_id")))
          .as("close_price"),
        sum("vol").as("volume"))
      .withColumn("prev_close", lag("close_price", 1).over(wRn))
      .withColumn("signed_vol",
        when(col("prev_close").isNull, lit(0L))
          .when(col("close_price") > col("prev_close"), col("volume"))
          .when(col("close_price") < col("prev_close"), -col("volume"))
          .otherwise(lit(0L)))
      .withColumn("obv", sum("signed_vol").over(wRun))
      .select("user_id", "trade_date", "close_price", "volume",
        "signed_vol", "obv")
  }

  def obvSql: String =
    """WITH v AS (
      |  SELECT user_id, ts, event_id, value,
      |    coalesce(json_extract(props, '$.k')::BIGINT, 0) AS vol
      |  FROM events
      |  WHERE value IS NOT NULL AND value > 0 AND NOT isnan(value)
      |    AND user_id IS NOT NULL
      |), d AS (
      |  SELECT user_id, trade_date,
      |    max(CASE WHEN rn = 1 THEN value END) AS close_price,
      |    sum(vol)::BIGINT AS volume
      |  FROM (
      |    SELECT user_id, CAST(ts AS DATE) AS trade_date, value, vol,
      |      row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |                         ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM v)
      |  GROUP BY 1, 2
      |), s AS (
      |  SELECT *,
      |    lag(close_price) OVER (PARTITION BY user_id
      |      ORDER BY trade_date) AS prev_close
      |  FROM d
      |), sv AS (
      |  SELECT *, CASE
      |    WHEN prev_close IS NULL THEN 0
      |    WHEN close_price > prev_close THEN volume
      |    WHEN close_price < prev_close THEN -volume
      |    ELSE 0 END AS signed_vol
      |  FROM s
      |)
      |SELECT user_id, trade_date, close_price, volume, signed_vol,
      |  sum(signed_vol) OVER (PARTITION BY user_id ORDER BY trade_date
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS obv
      |FROM sv ORDER BY user_id, trade_date""".stripMargin

  /** FORCE INDEX (Elder, EMA-13) — price change weighted by the
    * session's traded volume: FI_t = (close_t − close_{t−1}) ·
    * volume_t (undefined on a symbol's first session), smoothed by an
    * EMA-13 seeded at the first FI (the tier's EMA convention) and
    * displayed once 13 FI values exist (session 14). Shares [[obv]]'s
    * exact daily close + parsed-volume base so "volume" can never
    * mean two things across the volume tier.
    *
    * Cross-engine exactness: FI is two IEEE ops ((a − b)·v) on shared
    * inputs — bit-identical UNROUNDED fold input on both engines; the
    * oracle replays the EMA via `list_reduce` prefix folds (O(days²),
    * oracle-only) and both sides round only at display. The oracle
    * appends `+ 0.0` after each round: a down-close on zero volume
    * makes fi = -0.0, which DuckDB's round preserves but Spark's
    * BigDecimal round normalizes to +0.0 — byte-distinct otherwise.
    *
    * Scale shape: one symbol-keyed shuffle from the daily partial agg
    * into sorted arrays, O(days) fold, re-explode — the [[atrWilder]]
    * shape on the volume base.
    */
  def forceIndex(spark: SparkSession, dir: String): DataFrame =
    forceIndexOfDaily(
      validTicksVol(spark, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("trade_date"))
        .agg(max_by(col("value"), struct(col("ts"), col("event_id")))
            .as("close_price"),
          sum("vol").as("volume")))

  private[graft] def forceIndexOfDaily(daily: DataFrame): DataFrame = {
    val srdA = (c: String) =>
      s"transform($c, x -> round(x * 1000000.0D, 0) / 1000000.0D)"
    daily
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("trade_date"),
        col("close_price"), col("volume")))).as("days"))
      .withColumn("cls", expr("transform(days, d -> d.close_price)"))
      .withColumn("vols", expr("transform(days, d -> CAST(d.volume AS DOUBLE))"))
      .withColumn("fis", expr(
        """transform(slice(cls, 2, size(cls) - 1), (x, i) ->
          |  (x - element_at(cls, i + 1)) * element_at(vols, i + 2))"""
          .stripMargin))
      .withColumn("ema", expr(emaRunExpr("fis", 13)))
      .withColumn("fi", expr(
        s"concat(array(CAST(NULL AS DOUBLE)), ${srdA("fis")})"))
      .withColumn("fi_ema13", expr(
        s"""concat(array(CAST(NULL AS DOUBLE)),
           |  transform(ema, (x, i) -> CASE WHEN i >= 12
           |    THEN round(x * 1000000.0D, 0) / 1000000.0D END))"""
          .stripMargin))
      .select(col("user_id"), expr("inline(arrays_zip(days, fi, fi_ema13))"))
      .select(col("user_id"), col("days.trade_date").as("trade_date"),
        col("days.close_price").as("close_price"),
        col("days.volume").as("volume"), col("fi"), col("fi_ema13"))
  }

  def forceIndexSql: String =
    """WITH v AS (
      |  SELECT user_id, ts, event_id, value,
      |    coalesce(json_extract(props, '$.k')::BIGINT, 0) AS vol
      |  FROM events
      |  WHERE value IS NOT NULL AND value > 0 AND NOT isnan(value)
      |    AND user_id IS NOT NULL
      |), d AS (
      |  SELECT user_id, trade_date,
      |    max(CASE WHEN rn = 1 THEN value END) AS close_price,
      |    sum(vol)::BIGINT AS volume
      |  FROM (
      |    SELECT user_id, CAST(ts AS DATE) AS trade_date, value, vol,
      |      row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |                         ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM v)
      |  GROUP BY 1, 2
      |), g AS (
      |  SELECT user_id,
      |    list(trade_date ORDER BY trade_date) AS dts,
      |    list(close_price ORDER BY trade_date) AS cls,
      |    list(volume ORDER BY trade_date) AS vol_l,
      |    list(volume::DOUBLE ORDER BY trade_date) AS vols
      |  FROM d GROUP BY user_id
      |), f AS (
      |  SELECT user_id, dts, cls, vol_l,
      |    list_transform(generate_series(2, len(cls)), i ->
      |      (cls[i] - cls[i - 1]) * vols[i]) AS fis
      |  FROM g
      |)
      |SELECT user_id, unnest(dts) AS trade_date, unnest(cls) AS close_price,
      |  unnest(vol_l) AS volume,
      |  unnest(list_transform(generate_series(1, len(cls)), j ->
      |    CASE WHEN j >= 2 THEN round(fis[j - 1], 6) + 0.0 END)) AS fi,
      |  unnest(list_transform(generate_series(1, len(cls)), j ->
      |    CASE WHEN j >= 14 THEN round(list_reduce(fis[1:j - 1], (a, x) ->
      |      x * (2.0 / 14.0) + a * (1.0 - 2.0 / 14.0)), 6) + 0.0
      |    END)) AS fi_ema13
      |FROM f ORDER BY user_id, trade_date""".stripMargin

  /** HEIKIN-ASHI candles — the smoothed candle transform every
    * charting layer offers next to raw OHLC: haClose = (O+H+L+C)/4,
    * haOpen = midpoint of the PREVIOUS HA body (seeded (O₁+C₁)/2),
    * haHigh/haLow = the session extreme vs the HA body. The haOpen
    * recursion is a one-value fold over the haClose series — the
    * EMA recurrence's shape — and every output is IEEE-exact
    * dyadic-midpoint arithmetic on shared inputs: values carry
    * verbatim, NO display round anywhere.
    *
    * One symbol shuffle into sorted arrays, O(days) fold, re-explode
    * (the atrWilder shape); oracle replays via the psar-style
    * recursive CTE (simple two-field recursion).
    */
  def heikinAshi(spark: SparkSession, dir: String): DataFrame = {
    validDailyOhlc(spark, dir)
      .withColumn("ha_close", (col("open_price") + col("high_price")
        + col("low_price") + col("close_price")) / 4.0)
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(
        col("trade_date").as("ddate"), col("open_price").as("o"),
        col("high_price").as("hi"), col("low_price").as("lo"),
        col("close_price").as("c"), col("ha_close").as("hac"))))
        .as("days"))
      .withColumn("haos", expr(
        "aggregate(slice(days, 1, size(days) - 1), " +
          "array((element_at(days, 1).o + element_at(days, 1).c) / 2.0D), " +
          "(acc, d) -> concat(acc, " +
          "array((element_at(acc, -1) + d.hac) / 2.0D)))"))
      .select(col("user_id"), expr("inline(arrays_zip(days, haos))"))
      .select(col("user_id"), col("days.ddate").as("trade_date"),
        col("haos").as("ha_open"), col("days.hac").as("ha_close"),
        greatest(col("days.hi"), col("haos"), col("days.hac")).as("ha_high"),
        least(col("days.lo"), col("haos"), col("days.hac")).as("ha_low"))
  }

  def heikinAshiSql: String =
    s"""WITH RECURSIVE ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), n AS (
       |  SELECT user_id, trade_date, open_price, high_price, low_price,
       |    close_price,
       |    row_number() OVER (PARTITION BY user_id ORDER BY trade_date) AS rn,
       |    (open_price + high_price + low_price + close_price) / 4.0 AS hac
       |  FROM ohlc
       |), st AS (
       |  SELECT user_id, rn, (open_price + close_price) / 2.0 AS hao, hac
       |  FROM n WHERE rn = 1
       |  UNION ALL
       |  SELECT b.user_id, b.rn, (a.hao + a.hac) / 2.0, b.hac
       |  FROM st a JOIN n b ON b.user_id = a.user_id AND b.rn = a.rn + 1
       |)
       |SELECT n.user_id, n.trade_date, st.hao AS ha_open, n.hac AS ha_close,
       |  greatest(n.high_price, st.hao, n.hac) AS ha_high,
       |  least(n.low_price, st.hao, n.hac) AS ha_low
       |FROM n JOIN st ON st.user_id = n.user_id AND st.rn = n.rn
       |ORDER BY n.user_id, n.trade_date""".stripMargin

  /** FLOOR-TRADER PIVOT POINTS — tomorrow's support/resistance grid
    * from yesterday's bar: P = (H+L+C)/3 of the PREVIOUS session,
    * R1 = 2P − prevL, S1 = 2P − prevH, R2 = P + (prevH − prevL),
    * S2 = P − (prevH − prevL), plus the session's close position vs
    * its pivot (above_pivot). Pure lag arithmetic on day rows —
    * IEEE-identical on both engines, carried verbatim (P's /3 is
    * the only non-dyadic op and both engines evaluate the identical
    * division). NULL on each symbol's first session.
    */
  def pivotPoints(spark: SparkSession, dir: String): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    validDailyOhlc(spark, dir)
      .withColumn("ph", lag("high_price", 1).over(wRn))
      .withColumn("pl", lag("low_price", 1).over(wRn))
      .withColumn("pc", lag("close_price", 1).over(wRn))
      .withColumn("pivot_pt", (col("ph") + col("pl") + col("pc")) / 3.0)
      .withColumn("r1", lit(2.0) * col("pivot_pt") - col("pl"))
      .withColumn("s1", lit(2.0) * col("pivot_pt") - col("ph"))
      .withColumn("r2", col("pivot_pt") + (col("ph") - col("pl")))
      .withColumn("s2", col("pivot_pt") - (col("ph") - col("pl")))
      .withColumn("above_pivot", col("close_price") > col("pivot_pt"))
      .select("user_id", "trade_date", "close_price", "pivot_pt",
        "r1", "s1", "r2", "s2", "above_pivot")
  }

  def pivotPointsSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), w AS (
       |  SELECT user_id, trade_date, close_price,
       |    lag(high_price) OVER pk AS ph,
       |    lag(low_price) OVER pk AS pl,
       |    lag(close_price) OVER pk AS pc
       |  FROM ohlc WINDOW pk AS (PARTITION BY user_id ORDER BY trade_date)
       |), p AS (
       |  SELECT *, (ph + pl + pc) / 3.0 AS pivot_pt FROM w
       |)
       |SELECT user_id, trade_date, close_price, pivot_pt,
       |  2.0 * pivot_pt - pl AS r1, 2.0 * pivot_pt - ph AS s1,
       |  pivot_pt + (ph - pl) AS r2, pivot_pt - (ph - pl) AS s2,
       |  close_price > pivot_pt AS above_pivot
       |FROM p ORDER BY user_id, trade_date""".stripMargin

  /** OVERNIGHT GAP REPORT — open vs the previous close: signed gap
    * (verbatim double), gap per-mille in integer micros of the
    * previous close (exact integer division — no float display), the
    * gap direction, and whether the session FILLED the gap (price
    * traded back through the previous close: gap-up fills when the
    * low touches at-or-under it, gap-down when the high touches
    * at-or-over). Lag + comparisons on day rows; first sessions NULL.
    */
  def gapStats(spark: SparkSession, dir: String): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    validDailyOhlc(spark, dir)
      .withColumn("prev_close", lag("close_price", 1).over(wRn))
      .withColumn("gap", col("open_price") - col("prev_close"))
      .withColumn("gap_ppm", expr(
        "CAST(round((open_price - prev_close) * 1e6, 0) AS BIGINT)" +
          " DIV CAST(round(prev_close * 1e6, 0) AS BIGINT) * 1000 +" +
          " CAST(round((open_price - prev_close) * 1e6, 0) AS BIGINT)" +
          " % CAST(round(prev_close * 1e6, 0) AS BIGINT) * 1000" +
          " DIV CAST(round(prev_close * 1e6, 0) AS BIGINT)"))
      .withColumn("gap_up", col("gap") > 0)
      .withColumn("gap_filled",
        when(col("gap").isNull, lit(null).cast("boolean"))
          .when(col("gap") > 0, col("low_price") <= col("prev_close"))
          .when(col("gap") < 0, col("high_price") >= col("prev_close"))
          .otherwise(lit(true)))
      .select("user_id", "trade_date", "open_price", "prev_close",
        "gap", "gap_ppm", "gap_up", "gap_filled")
  }

  def gapStatsSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), w AS (
       |  SELECT user_id, trade_date, open_price, high_price, low_price,
       |    lag(close_price) OVER (PARTITION BY user_id
       |      ORDER BY trade_date) AS prev_close
       |  FROM ohlc
       |), g AS (
       |  SELECT *, open_price - prev_close AS gap,
       |    round((open_price - prev_close) * 1e6, 0)::BIGINT AS gm,
       |    round(prev_close * 1e6, 0)::BIGINT AS pm
       |  FROM w
       |)
       |SELECT user_id, trade_date, open_price, prev_close, gap,
       |  gm // pm * 1000 + gm % pm * 1000 // pm AS gap_ppm,
       |  gap > 0 AS gap_up,
       |  CASE WHEN gap IS NULL THEN NULL
       |       WHEN gap > 0 THEN low_price <= prev_close
       |       WHEN gap < 0 THEN high_price >= prev_close
       |       ELSE true END AS gap_filled
       |FROM g ORDER BY user_id, trade_date""".stripMargin

  /** VOLUME PROFILE — where the volume traded: per symbol, ticks
    * bucket into the q_price_histogram price grid (50-wide, clamped
    * to 10 buckets) weighted by parsed volume; the POINT OF CONTROL
    * is the highest-volume bucket (ties → lowest bucket, pinned via
    * integer max on (volume, −bucket)). All-integer volume
    * arithmetic → exact on both engines.
    *
    * Scale shape: ONE (symbol, bucket) partial aggregate — map-side
    * combine, shuffle volume is symbols × 10 buckets — then a
    * symbol-keyed window over that bounded table for the POC.
    */
  def volumeProfile(spark: SparkSession, dir: String): DataFrame = {
    val wSym = Window.partitionBy("user_id")
    validTicksVol(spark, dir)
      .withColumn("bucket",
        least(greatest(floor(col("value") / 50.0), lit(0L)), lit(9L)))
      .groupBy("user_id", "bucket")
      .agg(sum("vol").as("volume"), count(lit(1)).as("n_ticks"))
      .withColumn("best",
        max(struct(col("volume").as("v"), (-col("bucket")).as("nb")))
          .over(wSym))
      .withColumn("poc", col("best").getField("v") === col("volume") &&
        -col("best").getField("nb") === col("bucket"))
      .select(col("user_id"), col("bucket"),
        (col("bucket") * 50L).as("bucket_lo"), col("volume"),
        col("n_ticks"), col("poc"))
  }

  def volumeProfileSql: String =
    """WITH v AS (
      |  SELECT user_id,
      |    coalesce(json_extract(props, '$.k')::BIGINT, 0) AS vol,
      |    least(greatest(floor(value / 50.0)::BIGINT, 0), 9) AS bucket
      |  FROM events
      |  WHERE value IS NOT NULL AND value > 0 AND NOT isnan(value)
      |    AND user_id IS NOT NULL
      |), b AS (
      |  SELECT user_id, bucket, sum(vol)::BIGINT AS volume,
      |    count(*) AS n_ticks
      |  FROM v GROUP BY 1, 2
      |), p AS (
      |  SELECT *, max(struct_pack(v := volume, nb := -bucket))
      |    OVER (PARTITION BY user_id) AS best
      |  FROM b
      |)
      |SELECT user_id, bucket, bucket * 50 AS bucket_lo, volume, n_ticks,
      |  best.v = volume AND -best.nb = bucket AS poc
      |FROM p ORDER BY user_id, bucket""".stripMargin

  /** DAILY WILDER RSI-14 — the canonical Wilder-smoothed RSI over
    * daily closes (the reference's per-tick RSI takes a simple mean
    * of the last 14 deltas — technical_indicators.py:74-92 — served
    * by q_rsi; this is its daily fold-tier dual): session-2+ gains
    * and losses (each rounded 6, the adx DM convention) Wilder-
    * smooth at 14, RSI = 100·g/(g+l) — algebraically 100 −
    * 100/(1+RS) but ONE division, so both engines divide identical
    * doubles; a flat 14-window (g = l = 0) reads 50 by convention,
    * g-only reads 100, l-only 0. Live from session 15.
    *
    * Scale shape: the [[atrWilder]] pattern — one symbol shuffle
    * into sorted close arrays, two parallel [[wilderRunExpr]] folds,
    * re-explode. Oracle replays both folds per day via list_reduce
    * prefix folds (O(days²), oracle-only; the SIMPLE linear IIR
    * lambda — unaffected by the DuckDB list_reduce defect psar hit).
    */
  def rsiWilder(spark: SparkSession, dir: String): DataFrame = {
    val sr = "round(%s * 1000000.0D, 0) / 1000000.0D"
    validDailyOhlc(spark, dir)
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(
        col("trade_date").as("ddate"), col("close_price").as("cls"))))
        .as("days"))
      .withColumn("deltas", expr(
        "zip_with(slice(days, 2, size(days) - 1), " +
          "slice(days, 1, size(days) - 1), (b, a) -> b.cls - a.cls)"))
      .withColumn("gains", expr(
        "transform(deltas, d -> round(CASE WHEN d > 0D THEN d ELSE 0D END, 6))"))
      .withColumn("losses", expr(
        "transform(deltas, d -> round(CASE WHEN d < 0D THEN -d ELSE 0D END, 6))"))
      .withColumn("gw", expr(wilderRunExpr("gains", 14)))
      .withColumn("lw", expr(wilderRunExpr("losses", 14)))
      .withColumn("rsis", expr(
        "zip_with(gw, lw, (g, l) -> CASE WHEN g IS NULL THEN NULL " +
          "WHEN g + l = 0D THEN 50.0D ELSE " +
          sr.format("100.0D * g / (g + l)") + " END)"))
      .withColumn("rsi_f", expr(
        "concat(array(CAST(NULL AS DOUBLE)), rsis)"))
      .select(col("user_id"), expr("inline(arrays_zip(days, rsi_f))"))
      .select(col("user_id"), col("days.ddate").as("trade_date"),
        col("days.cls").as("close_price"), col("rsi_f").as("rsi_14"))
  }

  def rsiWilderSql: String = {
    def wf(arr: String) =
      s"list_reduce(list_prepend(" +
        s"list_reduce($arr[1:14], (a, x) -> a + x) / 14.0, " +
        s"$arr[15:(t - 1)]), (a, x) -> (a * 13.0 + x) / 14.0)"
    val g = wf("gains")
    val l = wf("losses")
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), q AS (
       |  SELECT user_id,
       |    list(trade_date ORDER BY trade_date) AS dts,
       |    list(close_price ORDER BY trade_date) AS cls
       |  FROM ohlc GROUP BY user_id
       |), g AS (
       |  SELECT user_id, dts, cls,
       |    list_transform(generate_series(2, len(cls)), i ->
       |      round(CASE WHEN cls[i] - cls[i-1] > 0
       |        THEN cls[i] - cls[i-1] ELSE 0.0 END, 6)) AS gains,
       |    list_transform(generate_series(2, len(cls)), i ->
       |      round(CASE WHEN cls[i] - cls[i-1] < 0
       |        THEN cls[i-1] - cls[i] ELSE 0.0 END, 6)) AS losses
       |  FROM q
       |)
       |SELECT user_id, unnest(dts) AS trade_date, unnest(cls) AS close_price,
       |  unnest(list_transform(generate_series(1, len(cls)), t ->
       |    CASE WHEN t < 15 THEN NULL
       |    WHEN ($g) + ($l) = 0 THEN 50.0
       |    ELSE round(100.0 * ($g) / (($g) + ($l)) * 1000000.0, 0) / 1000000.0
       |    END)) AS rsi_14
       |FROM g
       |ORDER BY user_id, trade_date""".stripMargin
  }

  /** STOCHASTIC RSI (7, 3, 3) — the stochastic oscillator applied to
    * [[rsiWilder]]'s RSI-14 series instead of price (Chande & Kroll):
    * stoch = 100·(RSI − min₇RSI)/(max₇RSI − min₇RSI) over the
    * trailing 7 sessions, %K = SMA-3(stoch), %D = SMA-3(%K). Runs at
    * quarter scale like ichimoku (the standard 14-window would first
    * fire at session 28 — past most of this corpus's 22-30-session
    * symbols; the structure, not the constants, is the operator).
    * CONSUMES the q_rsi_wilder frame verbatim — one RSI definition
    * across the tier, so the stoch tier's hash parity inherits the
    * RSI tier's. Null convention: each stage requires its window FULL
    * of live inputs (7 RSIs → session 21, 3 stochs → 23, 3 %Ks → 25)
    * and stoch is NULL on a flat 7-session RSI band (max = min,
    * nothing to normalize against) — which also voids the dependent
    * %K/%D windows (stricter than [[stochastic]]'s skip-NULLs %D;
    * documented).
    *
    * Cross-engine exactness: min/max pick from the RSI doubles both
    * engines already agree on bit-for-bit; stoch is two subtractions,
    * one multiply, one divide on those — identical correctly-rounded
    * IEEE ops — rounded 6 before the SMAs, whose 3-element frame-order
    * sums agree like [[stochastic]]'s %D.
    *
    * Scale shape: [[rsiWilder]]'s one symbol-keyed shuffle serves all
    * five windows here (same user_id × trade_date sort) — day-sized
    * rows, no new exchange.
    */
  def stochRsi(spark: SparkSession, dir: String): DataFrame =
    stochRsiOf(rsiWilder(spark, dir))

  private[graft] def stochRsiOf(rsi: DataFrame): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    val w7 = wRn.rowsBetween(-6, 0)
    val w3 = wRn.rowsBetween(-2, 0)
    rsi
      .withColumn("nrsi", count("rsi_14").over(w7))
      .withColumn("mn7", min("rsi_14").over(w7))
      .withColumn("mx7", max("rsi_14").over(w7))
      .withColumn("stoch_rsi", round(
        when(col("nrsi") === 7 && col("mx7") > col("mn7"),
          (col("rsi_14") - col("mn7")) /
            (col("mx7") - col("mn7")) * 100.0), 6))
      .withColumn("pct_k", round(
        when(count("stoch_rsi").over(w3) === 3,
          avg("stoch_rsi").over(w3)), 6))
      .withColumn("pct_d", round(
        when(count("pct_k").over(w3) === 3, avg("pct_k").over(w3)), 6))
      .select("user_id", "trade_date", "close_price", "rsi_14",
        "stoch_rsi", "pct_k", "pct_d")
  }

  def stochRsiSql: String =
    s"""WITH rw AS (
       |${rsiWilderSql}
       |), s AS (
       |  SELECT user_id, trade_date, close_price, rsi_14,
       |    count(rsi_14) OVER (PARTITION BY user_id ORDER BY trade_date
       |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS nrsi,
       |    min(rsi_14) OVER (PARTITION BY user_id ORDER BY trade_date
       |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS mn7,
       |    max(rsi_14) OVER (PARTITION BY user_id ORDER BY trade_date
       |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS mx7
       |  FROM rw
       |), t AS (
       |  SELECT user_id, trade_date, close_price, rsi_14,
       |    round(CASE WHEN nrsi = 7 AND mx7 > mn7
       |      THEN (rsi_14 - mn7) / (mx7 - mn7) * 100.0 END, 6) AS stoch_rsi
       |  FROM s
       |), k AS (
       |  SELECT *,
       |    round(CASE WHEN count(stoch_rsi) OVER w3 = 3
       |      THEN avg(stoch_rsi) OVER w3 END, 6) AS pct_k
       |  FROM t
       |  WINDOW w3 AS (PARTITION BY user_id ORDER BY trade_date
       |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
       |)
       |SELECT user_id, trade_date, close_price, rsi_14, stoch_rsi, pct_k,
       |  round(CASE WHEN count(pct_k) OVER w3 = 3
       |    THEN avg(pct_k) OVER w3 END, 6) AS pct_d
       |FROM k
       |WINDOW w3 AS (PARTITION BY user_id ORDER BY trade_date
       |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
       |ORDER BY user_id, trade_date""".stripMargin

  /** SUPERTREND (10, 3) — the band-carry trailing stop next to
    * [[psar]]: basic bands hl2 ± 3·ATR-10 tighten into FINAL bands
    * that only ratchet toward price (the previous band carries
    * unless the new basic band improves it or the previous close
    * already crossed), and the stop flips between the two bands on a
    * close-through. Seeded at session 10 (first live ATR) on the
    * upper band (downtrend — the conventional cold start,
    * documented). Output: the stop, its side, and the final bands.
    *
    * Scale shape: TWO chained folds after one symbol shuffle — the
    * shared [[wilderRunExpr]] ATR-10 (the keltner fold) feeding an
    * index-driven band-carry fold with (fub, flb, stop, prev-close)
    * state; oracle = the ATR prefix fold (safe simple lambda) + the
    * psar-style recursive CTE for the carry. Only the emitted stop
    * and bands take the scaled display round.
    */
  def supertrend(spark: SparkSession, dir: String): DataFrame =
    supertrendOfTr(dailyTrBase(spark, dir))

  /** The band-carry machine over an arbitrary [[dailyTrBase]]-shaped
    * frame — the crafted-flip spec's entry.
    */
  private[graft] def supertrendOfTr(trBase: DataFrame): DataFrame = {
    val sr = "round(%s * 1000000.0D, 0) / 1000000.0D"
    val ub = "((element_at(days, i).hi + element_at(days, i).lo) / 2.0D" +
      " + 3.0D * element_at(atrs, i))"
    val lb = "((element_at(days, i).hi + element_at(days, i).lo) / 2.0D" +
      " - 3.0D * element_at(atrs, i))"
    val fubP = s"CASE WHEN $ub < a.fub OR a.pc > a.fub THEN $ub ELSE a.fub END"
    val flbP = s"CASE WHEN $lb > a.flb OR a.pc < a.flb THEN $lb ELSE a.flb END"
    val stP = s"CASE WHEN a.st = a.fub THEN " +
      s"(CASE WHEN element_at(days, i).cls <= ($fubP) THEN ($fubP) ELSE ($flbP) END) " +
      s"ELSE (CASE WHEN element_at(days, i).cls >= ($flbP) THEN ($flbP) ELSE ($fubP) END) END"
    val outT = "STRUCT<st: DOUBLE, up: BOOLEAN, fub: DOUBLE, flb: DOUBLE>"
    val fold =
      s"""CASE WHEN size(days) >= 10 THEN aggregate(
         |  sequence(11, size(days)),
         |  named_struct(
         |    'fub', (element_at(days, 10).hi + element_at(days, 10).lo) / 2.0D
         |      + 3.0D * element_at(atrs, 10),
         |    'flb', (element_at(days, 10).hi + element_at(days, 10).lo) / 2.0D
         |      - 3.0D * element_at(atrs, 10),
         |    'st', (element_at(days, 10).hi + element_at(days, 10).lo) / 2.0D
         |      + 3.0D * element_at(atrs, 10),
         |    'pc', element_at(days, 10).cls,
         |    'out', array(named_struct(
         |      'st', (element_at(days, 10).hi + element_at(days, 10).lo) / 2.0D
         |        + 3.0D * element_at(atrs, 10),
         |      'up', false,
         |      'fub', (element_at(days, 10).hi + element_at(days, 10).lo) / 2.0D
         |        + 3.0D * element_at(atrs, 10),
         |      'flb', (element_at(days, 10).hi + element_at(days, 10).lo) / 2.0D
         |        - 3.0D * element_at(atrs, 10)))),
         |  (a, i) -> named_struct(
         |    'fub', $fubP, 'flb', $flbP, 'st', $stP,
         |    'pc', element_at(days, i).cls,
         |    'out', concat(a.out, array(named_struct(
         |      'st', $stP, 'up', ($stP) = ($flbP),
         |      'fub', $fubP, 'flb', $flbP)))),
         |  acc -> concat(
         |    transform(sequence(1, 9), x -> CAST(NULL AS $outT)), acc.out))
         |ELSE transform(sequence(1, size(days)), x -> CAST(NULL AS $outT))
         |END""".stripMargin
    trBase
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(
        col("trade_date").as("ddate"), col("high_price").as("hi"),
        col("low_price").as("lo"), col("close_price").as("cls"),
        col("tr")))).as("days"))
      .withColumn("trs", expr("transform(days, d -> d.tr)"))
      .withColumn("atrs", expr(wilderRunExpr("trs", 10)))
      .withColumn("sts", expr(fold))
      .select(col("user_id"), expr("inline(arrays_zip(days, sts))"))
      .select(col("user_id"), col("days.ddate").as("trade_date"),
        col("days.cls").as("close_price"),
        expr(sr.format("sts.st")).as("supertrend"),
        col("sts.up").as("trend_up"),
        expr(sr.format("sts.fub")).as("upper_band"),
        expr(sr.format("sts.flb")).as("lower_band"))
  }

  def supertrendSql: String = {
    val atrAt = "list_reduce(list_prepend(" +
      "list_reduce(trs[1:10], (a, x) -> a + x) / 10.0, " +
      "trs[11:t]), (a, x) -> (a * 9.0 + x) / 10.0)"
    val ubY = "(y.hl2 + 3.0 * y.atr)"
    val lbY = "(y.hl2 - 3.0 * y.atr)"
    val fubP = s"CASE WHEN $ubY < a.fub OR a.pc > a.fub THEN $ubY ELSE a.fub END"
    val flbP = s"CASE WHEN $lbY > a.flb OR a.pc < a.flb THEN $lbY ELSE a.flb END"
    val stP = s"CASE WHEN a.st = a.fub THEN " +
      s"(CASE WHEN y.cls <= ($fubP) THEN ($fubP) ELSE ($flbP) END) " +
      s"ELSE (CASE WHEN y.cls >= ($flbP) THEN ($flbP) ELSE ($fubP) END) END"
    s"""WITH RECURSIVE ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), t0 AS (
       |  SELECT user_id, trade_date, high_price, low_price, close_price,
       |    lag(close_price) OVER pk AS prev_close
       |  FROM ohlc WINDOW pk AS (PARTITION BY user_id ORDER BY trade_date)
       |), tr AS (
       |  SELECT user_id, trade_date, high_price, low_price, close_price,
       |    round(CASE WHEN prev_close IS NULL
       |      THEN high_price - low_price
       |      ELSE greatest(high_price - low_price,
       |                    abs(high_price - prev_close),
       |                    abs(low_price - prev_close)) END, 6) AS trv
       |  FROM t0
       |), g AS (
       |  SELECT user_id,
       |    list(trade_date ORDER BY trade_date) AS dts,
       |    list(high_price ORDER BY trade_date) AS his,
       |    list(low_price ORDER BY trade_date) AS los,
       |    list(close_price ORDER BY trade_date) AS cls,
       |    list(trv ORDER BY trade_date) AS trs
       |  FROM tr GROUP BY user_id
       |), n AS (
       |  SELECT user_id, unnest(dts) AS trade_date,
       |    unnest(cls) AS cls,
       |    unnest(list_transform(generate_series(1, len(dts)), t ->
       |      (his[t] + los[t]) / 2.0)) AS hl2,
       |    unnest(list_transform(generate_series(1, len(dts)), t ->
       |      CASE WHEN t >= 10 THEN $atrAt END)) AS atr,
       |    unnest(generate_series(1, len(dts))) AS rn
       |  FROM g
       |), st AS (
       |  SELECT user_id, rn, hl2 + 3.0 * atr AS fub, hl2 - 3.0 * atr AS flb,
       |    hl2 + 3.0 * atr AS st, cls AS pc
       |  FROM n WHERE rn = 10
       |  UNION ALL
       |  SELECT a.user_id, a.rn + 1, $fubP, $flbP, $stP, y.cls
       |  FROM st a JOIN n y ON y.user_id = a.user_id AND y.rn = a.rn + 1
       |)
       |SELECT n.user_id, n.trade_date, n.cls AS close_price,
       |  round(st.st * 1000000.0, 0) / 1000000.0 AS supertrend,
       |  st.st = st.flb AS trend_up,
       |  round(st.fub * 1000000.0, 0) / 1000000.0 AS upper_band,
       |  round(st.flb * 1000000.0, 0) / 1000000.0 AS lower_band
       |FROM n LEFT JOIN st ON st.user_id = n.user_id AND st.rn = n.rn
       |ORDER BY n.user_id, n.trade_date""".stripMargin
  }

  /** EWMA VOLATILITY — the RiskMetrics exponentially-weighted
    * variance (λ = 0.94) over daily log returns, annualized √252:
    * the recency-weighted dual of q_volatility's equal-weight
    * population std (producer history semantics). σ²_t = λ·σ²_{t−1}
    * + (1−λ)·r_t², seeded at the first return's square; returns are
    * ln(c_t/c_{t−1}) rounded 6 (the fold tier's input-rounding
    * convention) so both engines fold identical doubles. Live from
    * session 2.
    *
    * The atrWilder shape: one symbol shuffle, one O(days) fold, the
    * oracle replays via list_reduce prefix folds (simple linear IIR
    * — safe from the DuckDB lambda defect).
    */
  def ewmaVol(spark: SparkSession, dir: String): DataFrame = {
    val sr = "round(%s * 1000000.0D, 0) / 1000000.0D"
    validDailyOhlc(spark, dir)
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(
        col("trade_date").as("ddate"), col("close_price").as("cls"))))
        .as("days"))
      .withColumn("rets", expr(
        "zip_with(slice(days, 2, size(days) - 1), " +
          "slice(days, 1, size(days) - 1), " +
          "(b, a) -> round(ln(b.cls / a.cls), 6))"))
      .withColumn("vars", expr(
        """CASE WHEN size(rets) >= 1 THEN aggregate(
          |  slice(rets, 2, size(rets) - 1),
          |  array(element_at(rets, 1) * element_at(rets, 1)),
          |  (acc, r) -> concat(acc, array(
          |    0.94D * element_at(acc, -1) + 0.06D * r * r)))
          |ELSE array() END""".stripMargin))
      .withColumn("vol_f", expr(
        "concat(array(CAST(NULL AS DOUBLE)), transform(vars, v -> " +
          sr.format("sqrt(v * 252.0D)") + "))"))
      .select(col("user_id"), expr("inline(arrays_zip(days, vol_f))"))
      .select(col("user_id"), col("days.ddate").as("trade_date"),
        col("days.cls").as("close_price"),
        col("vol_f").as("ewma_vol"))
  }

  def ewmaVolSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), q AS (
       |  SELECT user_id,
       |    list(trade_date ORDER BY trade_date) AS dts,
       |    list(close_price ORDER BY trade_date) AS cls
       |  FROM ohlc GROUP BY user_id
       |), g AS (
       |  SELECT user_id, dts, cls,
       |    list_transform(generate_series(2, len(cls)), i ->
       |      round(ln(cls[i] / cls[i-1]), 6)) AS rets
       |  FROM q
       |)
       |SELECT user_id, unnest(dts) AS trade_date, unnest(cls) AS close_price,
       |  unnest(list_transform(generate_series(1, len(cls)), t ->
       |    CASE WHEN t < 2 THEN NULL
       |    ELSE round(sqrt(list_reduce(
       |      list_prepend(rets[1] * rets[1], rets[2:(t - 1)]),
       |      (a, r) -> 0.94 * a + 0.06 * r * r) * 252.0)
       |      * 1000000.0, 0) / 1000000.0
       |    END)) AS ewma_vol
       |FROM g
       |ORDER BY user_id, trade_date""".stripMargin

  /** MONEY FLOW — the volume-flow pair next to [[obv]]/[[vwap]]:
    * MFI-14 (volume-weighted RSI: positive/negative typical-price
    * money flows over a 14-session window, MFI = 100·pos/(pos+neg),
    * NULL till 15 sessions and when no flow moved) and the Chaikin
    * A/D line (close-location multiplier ((C−L)−(H−C))/(H−L), 0 on
    * flat bars, times volume, accumulated per symbol).
    *
    * Exactness discipline (the [[vwap]] micro-units trick): typical
    * price and the A/D multiplier quantize to integer MICROS before
    * multiplying by the integer volume, so every window/running sum
    * is exact Long arithmetic — order-independent by construction,
    * plain window sums on both engines, and the only floats are one
    * final division each (deterministic given identical integers).
    * No ordered-fold workaround needed anywhere.
    *
    * Scale shape: one (symbol, day) partial aggregate (volume and
    * OHLC map-side), then symbol-keyed lag/rolling windows over day
    * rows — the [[obv]] shape.
    */
  def moneyFlow(spark: SparkSession, dir: String): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    val w14 = wRn.rowsBetween(-13, 0)
    val wRun = wRn.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    validTicksVol(spark, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("trade_date"))
      .agg(round(max("value"), 4).as("hi"),
        round(min("value"), 4).as("lo"),
        max_by(col("value"), struct(col("ts"), col("event_id")))
          .as("close_price"),
        sum("vol").as("volume"))
      .withColumn("tpm", round(
        (col("hi") + col("lo") + col("close_price")) / 3.0 * 1e6, 0)
        .cast("long"))
      .withColumn("rn", row_number().over(wRn))
      .withColumn("prev_tpm", lag("tpm", 1).over(wRn))
      // flows multiply and sum as DECIMAL(38,0) — the vwap overflow
      // discipline: tpm·volume can pass Long at production volumes,
      // where Spark's Long sum would wrap while DuckDB's BIGINT sum
      // promotes to HUGEINT
      .withColumn("pos_mf",
        when(col("prev_tpm").isNotNull && col("tpm") > col("prev_tpm"),
          col("tpm").cast("decimal(38,0)") * col("volume"))
          .otherwise(lit(0L).cast("decimal(38,0)")))
      .withColumn("neg_mf",
        when(col("prev_tpm").isNotNull && col("tpm") < col("prev_tpm"),
          col("tpm").cast("decimal(38,0)") * col("volume"))
          .otherwise(lit(0L).cast("decimal(38,0)")))
      .withColumn("pos14", sum("pos_mf").over(w14))
      .withColumn("neg14", sum("neg_mf").over(w14))
      .withColumn("mfi", expr(
        "CASE WHEN rn >= 15 AND pos14 + neg14 > 0 THEN " +
          "round(100.0D * CAST(pos14 AS DOUBLE)" +
          " / CAST(pos14 + neg14 AS DOUBLE)" +
          " * 1000000.0D, 0) / 1000000.0D END"))
      .withColumn("multm",
        when(col("hi") > col("lo"), round(
          ((col("close_price") - col("lo")) - (col("hi") - col("close_price")))
            / (col("hi") - col("lo")) * 1e6, 0).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("ad_line",
        sum(col("multm").cast("decimal(38,0)") * col("volume")).over(wRun)
          .cast("double") / 1e6)
      .select("user_id", "trade_date", "close_price", "volume",
        "mfi", "ad_line")
  }

  def moneyFlowSql: String =
    """WITH v AS (
      |  SELECT user_id, ts, event_id, value,
      |    coalesce(json_extract(props, '$.k')::BIGINT, 0) AS vol
      |  FROM events
      |  WHERE value IS NOT NULL AND value > 0 AND NOT isnan(value)
      |    AND user_id IS NOT NULL
      |), d AS (
      |  SELECT user_id, trade_date,
      |    round(max(value), 4) AS hi, round(min(value), 4) AS lo,
      |    max(CASE WHEN rn = 1 THEN value END) AS close_price,
      |    sum(vol)::BIGINT AS volume
      |  FROM (
      |    SELECT user_id, CAST(ts AS DATE) AS trade_date, value, vol,
      |      row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |                         ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM v)
      |  GROUP BY 1, 2
      |), t AS (
      |  SELECT *,
      |    round((hi + lo + close_price) / 3.0 * 1e6, 0)::BIGINT AS tpm,
      |    row_number() OVER pk AS rn,
      |    CASE WHEN hi > lo THEN
      |      round(((close_price - lo) - (hi - close_price)) / (hi - lo)
      |        * 1e6, 0)::BIGINT ELSE 0 END AS multm
      |  FROM d WINDOW pk AS (PARTITION BY user_id ORDER BY trade_date)
      |), f AS (
      |  SELECT *, lag(tpm) OVER pk AS prev_tpm FROM t
      |  WINDOW pk AS (PARTITION BY user_id ORDER BY trade_date)
      |), m AS (
      |  SELECT *,
      |    CASE WHEN prev_tpm IS NOT NULL AND tpm > prev_tpm
      |      THEN tpm * volume ELSE 0 END AS pos_mf,
      |    CASE WHEN prev_tpm IS NOT NULL AND tpm < prev_tpm
      |      THEN tpm * volume ELSE 0 END AS neg_mf
      |  FROM f
      |), s AS (
      |  SELECT *,
      |    sum(pos_mf) OVER w14 AS pos14,
      |    sum(neg_mf) OVER w14 AS neg14,
      |    sum(multm * volume) OVER (PARTITION BY user_id ORDER BY trade_date
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ad_m
      |  FROM m WINDOW w14 AS (PARTITION BY user_id ORDER BY trade_date
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
      |)
      |SELECT user_id, trade_date, close_price, volume,
      |  CASE WHEN rn >= 15 AND pos14 + neg14 > 0 THEN
      |    round(100.0 * pos14 / (pos14 + neg14) * 1000000.0, 0) / 1000000.0
      |  END AS mfi,
      |  ad_m / 1e6 AS ad_line
      |FROM s ORDER BY user_id, trade_date""".stripMargin

  /** CHAIKIN OSCILLATOR (3, 10) — momentum of the accumulation/
    * distribution line: EMA-3(AD) − EMA-10(AD) over [[moneyFlow]]'s
    * integer-micros A/D line — CONSUMING that query's output frame
    * verbatim, so "the A/D line" is one definition across the volume
    * tier. Both EMAs seed at the first AD value; displayed once the
    * slower smoothing is live (session 10).
    *
    * Cross-engine exactness: the AD doubles are already hash-proven
    * identical (q_money_flow); the two folds consume them unrounded
    * and the oracle replays both via `list_reduce` prefix folds —
    * difference bit-identical before the display round.
    *
    * Scale shape: [[moneyFlow]]'s one symbol shuffle feeds the
    * arrays re-keyed on the same user_id — day-sized rows, folds in
    * place.
    */
  def chaikinOsc(spark: SparkSession, dir: String): DataFrame = {
    moneyFlow(spark, dir)
      .select("user_id", "trade_date", "close_price", "ad_line")
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("trade_date"),
        col("close_price"), col("ad_line")))).as("days"))
      .withColumn("ads", expr("transform(days, d -> d.ad_line)"))
      .withColumn("e3", expr(emaRunExpr("ads", 3)))
      .withColumn("e10", expr(emaRunExpr("ads", 10)))
      .withColumn("chaikin_osc", expr(
        """transform(zip_with(e3, e10, (a, b) -> a - b), (x, i) ->
          |  CASE WHEN i >= 9
          |    THEN round(x * 1000000.0D, 0) / 1000000.0D END)""".stripMargin))
      .select(col("user_id"), expr("inline(arrays_zip(days, chaikin_osc))"))
      .select(col("user_id"), col("days.trade_date").as("trade_date"),
        col("days.close_price").as("close_price"),
        col("days.ad_line").as("ad_line"), col("chaikin_osc"))
  }

  def chaikinOscSql: String = {
    def fold(p: Int) =
      s"list_reduce(ads[1:i], (a, x) -> x * (2.0 / ${p + 1}.0) " +
        s"+ a * (1.0 - 2.0 / ${p + 1}.0))"
    s"""WITH mf AS (
       |${moneyFlowSql}
       |), g AS (
       |  SELECT user_id,
       |    list(trade_date ORDER BY trade_date) AS dts,
       |    list(close_price ORDER BY trade_date) AS cls,
       |    list(ad_line ORDER BY trade_date) AS ads
       |  FROM mf GROUP BY user_id
       |)
       |SELECT user_id, unnest(dts) AS trade_date, unnest(cls) AS close_price,
       |  unnest(ads) AS ad_line,
       |  unnest(list_transform(generate_series(1, len(ads)), i ->
       |    CASE WHEN i >= 10
       |      THEN round(${fold(3)} - ${fold(10)}, 6) END)) AS chaikin_osc
       |FROM g ORDER BY user_id, trade_date""".stripMargin
  }

  /** Per-symbol market BETA — systematic co-movement against the
    * equal-weight market factor: the market return each session is
    * the cross-sectional mean of that day's symbol returns (the
    * symbol's own return included — the standard equal-weight index
    * convention), beta = cov(r_s, r_m)/var(r_m) over the symbol's
    * traded sessions, with the market correlation alongside. Symbols
    * with < `minDays` sessions are dropped (the [[returnCorr]]
    * support floor).
    *
    * Cross-engine exactness: the cross-sectional mean rounds to 12
    * decimals, so both engines' moment aggregates consume identical
    * (ret, mret) pairs; the population-moment quotients round to 6 —
    * the accumulation-order residual sits ~8 orders below the
    * rounding point.
    *
    * Scale shape: returns compact to symbol×days once
    * ([[dailyReturnsOf]] — map-side max_by partials); the market leg
    * is a dates-sized aggregate broadcast back (the daily
    * cross-section is itself a partial agg — no date-keyed corpus
    * shuffle); the beta collapse is one symbol-keyed aggregate.
    */
  def beta(spark: SparkSession, dir: String, minDays: Int = 15): DataFrame = {
    val rets = dailyReturnsOf(validTicks(spark, dir))
    val mkt = rets.groupBy("trade_date")
      .agg(round(avg("ret"), 12).as("mret"))
    rets.join(broadcast(mkt), Seq("trade_date"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_days"),
        round(covar_pop(col("ret"), col("mret")) /
          var_pop(col("mret")), 6).as("beta"),
        round(corr(col("ret"), col("mret")), 6).as("corr_mkt"))
      .filter(col("n_days") >= minDays)
  }

  def betaSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), rets AS (
       |  SELECT user_id, trade_date,
       |    close_price / lag(close_price) OVER (PARTITION BY user_id
       |      ORDER BY trade_date) - 1.0 AS ret
       |  FROM ohlc
       |), r AS (
       |  SELECT user_id, trade_date, ret FROM rets WHERE ret IS NOT NULL
       |), m AS (
       |  SELECT trade_date, round(avg(ret), 12) AS mret FROM r GROUP BY 1
       |)
       |SELECT user_id, count(*) AS n_days,
       |  round(covar_pop(ret, mret) / var_pop(mret), 6) AS beta,
       |  round(corr(ret, mret), 6) AS corr_mkt
       |FROM r JOIN m USING (trade_date)
       |GROUP BY user_id HAVING count(*) >= 15
       |ORDER BY user_id""".stripMargin

  /** HISTORICAL VaR / EXPECTED SHORTFALL — the tail-risk pair
    * completing the risk tier ([[sharpe]] prices average risk,
    * [[drawdown]]/[[ulcerIndex]] path risk; this prices the TAIL):
    * per symbol over daily simple returns, the 5% historical
    * value-at-risk (the interpolated 0.05 quantile of returns — a
    * LOSS when negative) and the expected shortfall (mean of the
    * returns at or below the VaR — the coherent measure Basel moved
    * to, answering "how bad is it WHEN it's bad"). Tail session
    * count alongside; ≥ 15-session floor ([[beta]]'s).
    *
    * Cross-engine exactness: returns round once to INTEGER MICROS;
    * the quantile interpolates over those exact values identically
    * in both engines (the [[anomalyTicks]] percentile convention; at
    * 100 TB the per-symbol day counts stay bounded, so no sketch
    * swap is needed here); ES compares each Long against the
    * quantile double and averages an exact integer subset — one
    * scale-0 division.
    *
    * Scale shape: the ohlc partial agg then ONE symbol-keyed
    * two-pass aggregate (quantile model broadcast back, the beta
    * shape) — day-sized rows.
    */
  def varEs(spark: SparkSession, dir: String, minDays: Int = 15): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    val rm = round((col("close_price") / lag("close_price", 1).over(wRn)
      - 1.0) * 1e6, 0).cast("long")
    val rets = ohlcBy(spark, dir, to_date(col("ts")).as("trade_date"),
      "trade_date", validated = true)
      .select(col("user_id"), rm.as("rm"))
      .filter(col("rm").isNotNull)
    val q = rets.groupBy("user_id")
      .agg(percentile(col("rm"), lit(0.05)).as("qm"),
        count(lit(1)).as("n"))
      .filter(col("n") >= minDays)
    rets.join(broadcast(q), Seq("user_id"))
      .groupBy("user_id")
      .agg(max("n").as("n_days"),
        (round(max("qm"), 0) / 1e6).as("var_5"),
        sum(when(col("rm").cast("double") <= col("qm"), 1L)
          .otherwise(0L)).as("n_tail"),
        (round(sum(when(col("rm").cast("double") <= col("qm"),
          col("rm")).otherwise(0L)).cast("double")
          / sum(when(col("rm").cast("double") <= col("qm"), 1L)
            .otherwise(0L)), 0) / 1e6).as("es_5"))
  }

  def varEsSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), r AS (
       |  SELECT user_id,
       |    round((close_price / lag(close_price, 1) OVER (
       |      PARTITION BY user_id ORDER BY trade_date) - 1.0) * 1e6, 0)
       |      ::BIGINT AS rm
       |  FROM ohlc
       |), q AS (
       |  SELECT user_id, quantile_cont(rm, 0.05) AS qm, count(*) AS n
       |  FROM r WHERE rm IS NOT NULL
       |  GROUP BY user_id HAVING count(*) >= 15
       |)
       |SELECT r.user_id, max(n) AS n_days,
       |  round(max(qm), 0) / 1e6 AS var_5,
       |  sum(CASE WHEN rm::DOUBLE <= qm THEN 1 ELSE 0 END)::BIGINT
       |    AS n_tail,
       |  round(sum(CASE WHEN rm::DOUBLE <= qm THEN rm ELSE 0 END)::DOUBLE
       |    / sum(CASE WHEN rm::DOUBLE <= qm THEN 1 ELSE 0 END), 0) / 1e6
       |    AS es_5
       |FROM r JOIN q ON q.user_id = r.user_id
       |WHERE rm IS NOT NULL
       |GROUP BY r.user_id
       |ORDER BY r.user_id""".stripMargin

  /** STREAK STATISTICS — up/down run lengths over daily closes via
    * the classic GAPS-AND-ISLANDS decomposition (rn − rn-within-sign
    * is constant inside a run), the one window idiom the tier didn't
    * yet exercise: per symbol, the longest winning and losing
    * streaks, the run counts per side, and the mean run length — the
    * momentum-persistence panel next to [[weekdayReturns]]'
    * seasonality. Flat sessions (return exactly 0 after the micro
    * round) break streaks into their own runs and report neither
    * side.
    *
    * Cross-engine exactness: the sign comes from integer-micros
    * returns ([[sharpe]]'s discipline), so runs are EXACT integer
    * groupings; every output is an integer except the mean run
    * length (one scale-0 rounded division).
    *
    * Scale shape: one symbol-keyed shuffle; both row numbers share
    * the sort; the island aggregate keys on (symbol, sign, island) —
    * still day-bounded — and the final collapse is symbol-keyed.
    */
  def streaks(spark: SparkSession, dir: String): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    val wSg = Window.partitionBy("user_id", "sg").orderBy("trade_date")
    val rm = round((col("close_price") / lag("close_price", 1).over(wRn)
      - 1.0) * 1e6, 0).cast("long")
    ohlcBy(spark, dir, to_date(col("ts")).as("trade_date"), "trade_date",
      validated = true)
      .select(col("user_id"), col("trade_date"), rm.as("rm"))
      .filter(col("rm").isNotNull)
      .withColumn("sg", signum(col("rm")).cast("int"))
      .withColumn("isl",
        row_number().over(wRn) - row_number().over(wSg))
      .groupBy("user_id", "sg", "isl")
      .agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(
        max(when(col("sg") === 1, col("len")).otherwise(0L))
          .as("max_up_streak"),
        max(when(col("sg") === -1, col("len")).otherwise(0L))
          .as("max_down_streak"),
        sum(when(col("sg") === 1, 1L).otherwise(0L)).as("n_up_runs"),
        sum(when(col("sg") === -1, 1L).otherwise(0L)).as("n_down_runs"),
        count(lit(1)).as("n_runs"),
        sum("len").as("n_sessions"),
        (round(sum("len").cast("double") / count(lit(1)) * 1e6, 0) / 1e6)
          .as("mean_run_len"))
  }

  def streaksSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), r AS (
       |  SELECT user_id, trade_date,
       |    round((close_price / lag(close_price, 1) OVER (
       |      PARTITION BY user_id ORDER BY trade_date) - 1.0) * 1e6, 0)
       |      ::BIGINT AS rm
       |  FROM ohlc
       |), s AS (
       |  SELECT user_id, trade_date, sign(rm)::INT AS sg,
       |    row_number() OVER (PARTITION BY user_id ORDER BY trade_date)
       |      - row_number() OVER (PARTITION BY user_id, sign(rm)
       |          ORDER BY trade_date) AS isl
       |  FROM r WHERE rm IS NOT NULL
       |), runs AS (
       |  SELECT user_id, sg, isl, count(*) AS len
       |  FROM s GROUP BY 1, 2, 3
       |)
       |SELECT user_id,
       |  max(CASE WHEN sg = 1 THEN len ELSE 0 END)::BIGINT
       |    AS max_up_streak,
       |  max(CASE WHEN sg = -1 THEN len ELSE 0 END)::BIGINT
       |    AS max_down_streak,
       |  sum(CASE WHEN sg = 1 THEN 1 ELSE 0 END)::BIGINT AS n_up_runs,
       |  sum(CASE WHEN sg = -1 THEN 1 ELSE 0 END)::BIGINT AS n_down_runs,
       |  count(*) AS n_runs,
       |  sum(len)::BIGINT AS n_sessions,
       |  round(sum(len)::DOUBLE / count(*) * 1e6, 0) / 1e6 AS mean_run_len
       |FROM runs GROUP BY user_id
       |ORDER BY user_id""".stripMargin

  /** AMIHUD ILLIQUIDITY — the price-impact-per-dollar liquidity
    * measure (Amihud 2002): per symbol, the mean over traded
    * sessions of |daily return| / dollar volume, scaled ×10⁶ (impact
    * per million traded — the paper's convention). High ILLIQ = thin
    * book (a small trade moves price); the liquidity screen next to
    * [[sharpe]]'s risk pack. Sessions without positive traded volume
    * carry no signal and are excluded; ≥ 5 measured sessions floor.
    *
    * Cross-engine exactness: returns round once to integer micros
    * ([[sharpe]]'s discipline); dollar volume is the EXACT
    * DECIMAL/HUGEINT Σ(price-micros × volume) ([[vwap]]'s
    * accounting); each session ratio is the identical two-divide
    * sequence, and the mean's association residual sits ~9 orders
    * below the display round.
    *
    * Scale shape: two (symbol, day) partial aggregates (ohlc closes;
    * dollar volume) equi-joined on their shared key, then ONE symbol
    * collapse — day-sized rows throughout.
    */
  def amihud(spark: SparkSession, dir: String, minDays: Int = 5): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    val rm = round((col("close_price") / lag("close_price", 1).over(wRn)
      - 1.0) * 1e6, 0).cast("long")
    val rets = ohlcBy(spark, dir, to_date(col("ts")).as("trade_date"),
      "trade_date", validated = true)
      .select(col("user_id"), col("trade_date"), rm.as("rm"))
    val dv = validTicksVol(spark, dir)
      .filter(col("vol") > 0)
      .groupBy(col("user_id"), to_date(col("ts")).as("trade_date"))
      .agg((sum(round(col("value") * 1e6, 0).cast("decimal(38,0)")
        * col("vol")).cast("double") / 1e6).as("dollar_vol"))
    rets.join(dv, Seq("user_id", "trade_date"))
      .filter(col("rm").isNotNull && col("dollar_vol") > 0.0)
      .select(col("user_id"),
        (abs(col("rm")).cast("double") / 1e6 / col("dollar_vol"))
          .as("ratio"), col("dollar_vol"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_days"),
        (round(sum("ratio") / count(lit(1)) * 1e6 * 1e6, 0) / 1e6)
          .as("illiq"),
        (round(sum("dollar_vol") / count(lit(1)) * 1e6, 0) / 1e6)
          .as("avg_dollar_vol"))
      .filter(col("n_days") >= minDays)
  }

  def amihudSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), r AS (
       |  SELECT user_id, trade_date,
       |    round((close_price / lag(close_price, 1) OVER (
       |      PARTITION BY user_id ORDER BY trade_date) - 1.0) * 1e6, 0)
       |      ::BIGINT AS rm
       |  FROM ohlc
       |), dv AS (
       |  SELECT user_id, CAST(ts AS DATE) AS trade_date,
       |    CAST(sum(round(value * 1000000)::DECIMAL(38,0) * vol) AS DOUBLE)
       |      / 1e6 AS dollar_vol
       |  FROM (
       |    SELECT user_id, ts, value,
       |      json_extract(props, '$$.k')::BIGINT AS vol
       |    FROM events
       |    WHERE value IS NOT NULL AND value > 0 AND NOT isnan(value)
       |      AND user_id IS NOT NULL
       |  ) WHERE vol IS NOT NULL AND vol > 0
       |  GROUP BY user_id, CAST(ts AS DATE)
       |), j AS (
       |  SELECT r.user_id,
       |    CAST(abs(rm) AS DOUBLE) / 1e6 / dollar_vol AS ratio, dollar_vol
       |  FROM r JOIN dv ON dv.user_id = r.user_id
       |    AND dv.trade_date = r.trade_date
       |  WHERE rm IS NOT NULL AND dollar_vol > 0.0
       |)
       |SELECT user_id, count(*) AS n_days,
       |  round(sum(ratio) / count(*) * 1e6 * 1e6, 0) / 1e6 AS illiq,
       |  round(sum(dollar_vol) / count(*) * 1e6, 0) / 1e6 AS avg_dollar_vol
       |FROM j GROUP BY user_id HAVING count(*) >= 5
       |ORDER BY user_id""".stripMargin

  /** WEEKDAY-RETURN SEASONALITY — the return-side dual of
    * q_activity_heatmap's volume surface: per (symbol, ISO weekday),
    * session count, up-session count, and mean daily simple return —
    * the day-of-week-effect panel every seasonality study starts
    * from. Weekday derives PORTABLY as ((days-since-epoch + 3) mod 7)
    * + 1 (Mon = 1; 1970-01-01 was a Thursday) — exact integer
    * arithmetic instead of the engines' differing dayofweek
    * conventions.
    *
    * Cross-engine exactness: returns round once to INTEGER MICROS
    * ([[sharpe]]'s discipline) so the group sums are exact; mean =
    * one scale-0 rounded division.
    *
    * Scale shape: the ohlc partial agg then ONE (symbol, weekday)
    * aggregate over day rows — output is symbols × ≤7.
    */
  def weekdayReturns(spark: SparkSession, dir: String): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    val rm = round((col("close_price") / lag("close_price", 1).over(wRn)
      - 1.0) * 1e6, 0).cast("long")
    ohlcBy(spark, dir, to_date(col("ts")).as("trade_date"), "trade_date",
      validated = true)
      .select(col("user_id"),
        ((datediff(col("trade_date"), lit("1970-01-01")) + 3) % 7 + 1)
          .cast("long").as("weekday"),
        rm.as("rm"))
      .filter(col("rm").isNotNull)
      .groupBy("user_id", "weekday")
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("rm") > 0, 1L).otherwise(0L)).as("up_days"),
        sum("rm").as("srm"))
      .select(col("user_id"), col("weekday"), col("n_days"), col("up_days"),
        (round(col("srm").cast("double") / col("n_days"), 0) / 1e6)
          .as("avg_ret"))
  }

  def weekdayReturnsSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), r AS (
       |  SELECT user_id,
       |    (((date_diff('day', DATE '1970-01-01', trade_date) + 3) % 7) + 1)
       |      ::BIGINT AS weekday,
       |    round((close_price / lag(close_price, 1) OVER (
       |      PARTITION BY user_id ORDER BY trade_date) - 1.0) * 1e6, 0)
       |      ::BIGINT AS rm
       |  FROM ohlc
       |)
       |SELECT user_id, weekday, count(*) AS n_days,
       |  sum(CASE WHEN rm > 0 THEN 1 ELSE 0 END)::BIGINT AS up_days,
       |  round(sum(rm)::DOUBLE / count(*), 0) / 1e6 AS avg_ret
       |FROM r WHERE rm IS NOT NULL
       |GROUP BY user_id, weekday
       |ORDER BY user_id, weekday""".stripMargin

  /** KAMA (10, 2, 30) — Kaufman's ADAPTIVE moving average, the fold
    * tier's only DATA-DEPENDENT smoothing: the efficiency ratio
    * ER = |close_t − close_{t−10}| / Σ₁₀|session deltas| ∈ [0, 1]
    * (1 = straight-line move, 0 = pure churn) sets the smoothing
    * constant SC = (ER·(2/3 − 2/31) + 2/31)² between EMA-2 (fast,
    * trending) and EMA-30 (slow, choppy), and
    * KAMA_t = KAMA_{t−1} + SC·(close_t − KAMA_{t−1}) — where the
    * [[tema]] chain smooths with a FIXED constant, KAMA's constant
    * is itself a function of the window. Seeded at the first live ER
    * (session 11) with KAMA = close; ER reads 0 on a flat 10-session
    * band (nothing moved, slowest smoothing).
    *
    * Cross-engine exactness: deltas/change/window sum/ER all round 6
    * ([[vortex]]'s association-proofing), so the fold consumes
    * engine-identical (close, er) pairs; the smoothing constants are
    * written as the same literal arithmetic (2.0/3.0 − 2.0/31.0) in
    * both plans; the recursion is the identical op sequence, display
    * round last — oracle = ER windows + the psar-style RECURSIVE CTE.
    *
    * Scale shape: one symbol-keyed shuffle serves the ER windows AND
    * the sorted-array fold (same user_id key), O(days) state.
    */
  def kama(spark: SparkSession, dir: String): DataFrame = {
    val sr = "round(%s * 1000000.0D, 0) / 1000000.0D"
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    val w10 = wRn.rowsBetween(-9, 0)
    val x = "(d.er * (2.0D / 3.0D - 2.0D / 31.0D) + 2.0D / 31.0D)"
    val base = ohlcBy(spark, dir, to_date(col("ts")).as("trade_date"),
      "trade_date", validated = true)
      .withColumn("rn", row_number().over(wRn))
      .withColumn("delta", round(
        abs(col("close_price") - lag("close_price", 1).over(wRn)), 6))
      .withColumn("chg", round(
        abs(col("close_price") - lag("close_price", 10).over(wRn)), 6))
      .withColumn("vol10", round(sum("delta").over(w10), 6))
      .withColumn("er", when(col("rn") >= 11,
        when(col("vol10") > 0.0,
          round(col("chg") / col("vol10"), 6)).otherwise(0.0)))
    base
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(
        col("trade_date").as("ddate"), col("close_price").as("cls"),
        col("er")))).as("days"))
      .withColumn("kamas", expr(
        s"""CASE WHEN size(days) >= 11 THEN aggregate(
           |  slice(days, 12, size(days) - 11),
           |  array(element_at(days, 11).cls),
           |  (acc, d) -> concat(acc, array(
           |    element_at(acc, -1) + ($x) * ($x)
           |      * (d.cls - element_at(acc, -1)))))
           |ELSE CAST(array() AS ARRAY<DOUBLE>) END""".stripMargin))
      .withColumn("kamas_f", expr(
        """CASE WHEN size(days) >= 11
          |  THEN concat(array_repeat(CAST(NULL AS DOUBLE), 10), kamas)
          |  ELSE array_repeat(CAST(NULL AS DOUBLE), size(days)) END"""
          .stripMargin))
      .select(col("user_id"), expr("inline(arrays_zip(days, kamas_f))"))
      .select(col("user_id"), col("days.ddate").as("trade_date"),
        col("days.cls").as("close_price"), col("days.er").as("er"),
        expr(sr.format("kamas_f")).as("kama"))
  }

  def kamaSql: String = {
    val x = "(y.er * (2.0 / 3.0 - 2.0 / 31.0) + 2.0 / 31.0)"
    s"""WITH RECURSIVE ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), n0 AS (
       |  SELECT user_id, trade_date, close_price AS cls,
       |    row_number() OVER w AS rn,
       |    round(abs(close_price - lag(close_price, 1) OVER w), 6) AS delta,
       |    round(abs(close_price - lag(close_price, 10) OVER w), 6) AS chg
       |  FROM ohlc
       |  WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)
       |), n AS (
       |  SELECT user_id, trade_date, cls, rn,
       |    CASE WHEN rn >= 11 THEN
       |      CASE WHEN round(sum(delta) OVER w10, 6) > 0.0
       |        THEN round(chg / round(sum(delta) OVER w10, 6), 6)
       |        ELSE 0.0 END
       |      END AS er
       |  FROM n0
       |  WINDOW w10 AS (PARTITION BY user_id ORDER BY trade_date
       |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
       |), st AS (
       |  SELECT user_id, rn, cls AS kama FROM n WHERE rn = 11
       |  UNION ALL
       |  SELECT a.user_id, a.rn + 1,
       |    a.kama + ($x) * ($x) * (y.cls - a.kama)
       |  FROM st a JOIN n y ON y.user_id = a.user_id AND y.rn = a.rn + 1
       |)
       |SELECT n.user_id, n.trade_date, n.cls AS close_price, n.er,
       |  round(st.kama * 1000000.0, 0) / 1000000.0 AS kama
       |FROM n LEFT JOIN st ON st.user_id = n.user_id AND st.rn = n.rn
       |ORDER BY n.user_id, n.trade_date""".stripMargin
  }

  /** CHOPPINESS INDEX (14) — Dreiss' trend-vs-range regime gauge:
    * CHOP = 100·log₁₀(Σ₁₄TR / (hi₁₄ − lo₁₄)) / log₁₀(14) ∈ [0, 100]
    * — near 100 when the 14-session path wanders inside its range
    * (Σ TR ≫ range), near 0 on a straight directional run (Σ TR ≈
    * range). The regime filter a screener consults BEFORE trusting
    * the trend indicators ([[adx]]'s value-free cousin — no
    * direction, only "is there a trend to follow"). NULL till 14
    * sessions and on a flat band (range 0).
    *
    * Cross-engine exactness: TR rounds 6 before the window sum and
    * the SUM rounds 6 ([[vortex]]'s association-proofing); the range
    * subtracts round-4 extremes exactly; log₁₀(14) is ONE constant
    * computed once on the driver and inlined into BOTH engines'
    * plans, so the only remaining ops are a divide, a log₁₀ of the
    * identical double, and the display round.
    *
    * Scale shape: [[dailyTrBase]]'s one symbol-keyed shuffle; the TR
    * sum and both extremes share the sort, day-sized rows.
    */
  def choppiness(spark: SparkSession, dir: String): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    val w14 = wRn.rowsBetween(-13, 0)
    val sumTr = round(sum("tr").over(w14), 6)
    val range = max("high_price").over(w14) - min("low_price").over(w14)
    dailyTrBase(spark, dir)
      .select(col("user_id"), col("trade_date"), col("close_price"),
        col("tr"),
        round(when(col("rn") >= 14 && range > 0.0 && sumTr > 0.0,
          lit(100.0) * log10(sumTr / range) / lit(Log10Of14)), 6)
          .as("chop_14"))
  }

  /** log₁₀(14), computed once — inlined into both engines' plans so
    * neither libm's log₁₀ enters twice.
    */
  private val Log10Of14: Double = math.log10(14.0)

  def choppinessSql: String = {
    val c = java.lang.Double.toString(Log10Of14)
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), t AS (
       |  SELECT user_id, trade_date, high_price, low_price, close_price,
       |    row_number() OVER w AS rn,
       |    lag(close_price) OVER w AS prev_close
       |  FROM ohlc
       |  WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)
       |), tr AS (
       |  SELECT *, round(CASE WHEN prev_close IS NULL
       |    THEN high_price - low_price
       |    ELSE greatest(high_price - low_price,
       |                  abs(high_price - prev_close),
       |                  abs(low_price - prev_close)) END, 6) AS tr
       |  FROM t
       |), s AS (
       |  SELECT user_id, trade_date, close_price, tr, rn,
       |    round(sum(tr) OVER w14, 6) AS sum_tr,
       |    max(high_price) OVER w14 - min(low_price) OVER w14 AS rng
       |  FROM tr
       |  WINDOW w14 AS (PARTITION BY user_id ORDER BY trade_date
       |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
       |)
       |SELECT user_id, trade_date, close_price, tr,
       |  round(CASE WHEN rn >= 14 AND rng > 0.0 AND sum_tr > 0.0
       |    THEN 100.0 * log10(sum_tr / rng) / $c END, 6) AS chop_14
       |FROM s ORDER BY user_id, trade_date""".stripMargin
  }

  /** BALANCE OF POWER (14) — per session, BOP = (close − open) /
    * (high − low) ∈ [−1, 1] (who controlled the session's range: the
    * open→close drive as a share of the traded band; 0 by convention
    * on a flat band), SMA-14 smoothed. The only indicator in the tier
    * consuming the OPEN leg — first print by (ts, event_id), the
    * [[dailyOhlc]] rule.
    *
    * Cross-engine exactness: BOP rounds once to INTEGER MICROS at
    * scale 0, so the SMA is an exact Long window sum divided once —
    * [[kst]]'s discipline, and NOT [[atr]]'s round-6 avg: BOP micros
    * are exact decimals, so sum/14 lands ON the 6th-decimal half
    * boundary whenever the window's micro mass ≢ 0 (mod 14) — a
    * round(avg, 6) formulation diverges systematically there (found
    * by the oracle at both SFs; the integer form closes it).
    *
    * Scale shape: one symbol-keyed shuffle from the ohlc partial agg,
    * two windows sharing the sort.
    */
  def balanceOfPower(spark: SparkSession, dir: String): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    val w14 = wRn.rowsBetween(-13, 0)
    ohlcBy(spark, dir, to_date(col("ts")).as("trade_date"), "trade_date",
      validated = true)
      .withColumn("rn", row_number().over(wRn))
      .withColumn("bopm", round(
        when(col("high_price") > col("low_price"),
          (col("close_price") - col("open_price")) /
            (col("high_price") - col("low_price"))).otherwise(0.0)
          * 1e6, 0).cast("long"))
      .select(col("user_id"), col("trade_date"), col("close_price"),
        (col("bopm").cast("double") / 1e6).as("bop"),
        when(col("rn") >= 14,
          round(sum("bopm").over(w14).cast("double") / 14.0, 0) / 1e6)
          .as("bop_sma_14"))
  }

  def balanceOfPowerSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), b AS (
       |  SELECT user_id, trade_date, close_price,
       |    row_number() OVER w AS rn,
       |    round(CASE WHEN high_price > low_price
       |      THEN (close_price - open_price) / (high_price - low_price)
       |      ELSE 0.0 END * 1e6, 0)::BIGINT AS bopm
       |  FROM ohlc
       |  WINDOW w AS (PARTITION BY user_id ORDER BY trade_date)
       |)
       |SELECT user_id, trade_date, close_price,
       |  bopm::DOUBLE / 1e6 AS bop,
       |  CASE WHEN rn >= 14 THEN
       |    round((sum(bopm) OVER (PARTITION BY user_id ORDER BY trade_date
       |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))::DOUBLE
       |      / 14.0, 0) / 1e6 END AS bop_sma_14
       |FROM b ORDER BY user_id, trade_date""".stripMargin

  /** ULCER INDEX (14) — Martin's drawdown-depth risk gauge, the
    * windowed dual of [[drawdown]]'s full-history maximum: per session,
    * pct_dd = 100·(close/max₁₄(close) − 1) ∈ [−100, 0] (the running
    * 14-session peak includes the current close, so a fresh high
    * reads 0), and ulcer₁₄ = √(Σ₁₄ pct_dd²/14) — quadratic-mean
    * drawdown, punishing deep sustained dips where [[sharpe]]'s σ
    * treats up and down alike. NULL till 14 sessions.
    *
    * Cross-engine exactness: pct_dd rounds once to INTEGER MICROS at
    * scale 0 (bounded by ±1e8, so the squared window sum is exact
    * Long with 10⁴× headroom); the emitted ulcer is one division,
    * one √, one scale-down on the exact sum — identical IEEE ops both
    * engines.
    *
    * Scale shape: ONE symbol-keyed shuffle (the ohlc partial agg);
    * running max, the squared sum, and the row count share the one
    * partition-sort over day rows.
    */
  def ulcerIndex(spark: SparkSession, dir: String): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    val w14 = wRn.rowsBetween(-13, 0)
    ohlcBy(spark, dir, to_date(col("ts")).as("trade_date"), "trade_date",
      validated = true)
      .withColumn("rn", row_number().over(wRn))
      .withColumn("ddm", round(
        (col("close_price") / max("close_price").over(w14) - 1.0)
          * 100.0 * 1e6, 0).cast("long"))
      .select(col("user_id"), col("trade_date"), col("close_price"),
        (col("ddm").cast("double") / 1e6).as("pct_dd"),
        when(col("rn") >= 14,
          sqrt(sum(col("ddm") * col("ddm")).over(w14).cast("double")
            / 14.0) / 1e6).as("ulcer_14"))
  }

  def ulcerIndexSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), t AS (
       |  SELECT user_id, trade_date, close_price,
       |    row_number() OVER w AS rn,
       |    round((close_price / max(close_price) OVER w14 - 1.0)
       |      * 100.0 * 1e6, 0)::BIGINT AS ddm
       |  FROM ohlc
       |  WINDOW w AS (PARTITION BY user_id ORDER BY trade_date),
       |    w14 AS (PARTITION BY user_id ORDER BY trade_date
       |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
       |)
       |SELECT user_id, trade_date, close_price,
       |  ddm::DOUBLE / 1e6 AS pct_dd,
       |  CASE WHEN rn >= 14 THEN
       |    sqrt((sum(ddm * ddm) OVER w14)::DOUBLE / 14.0) / 1e6 END
       |    AS ulcer_14
       |FROM t
       |WINDOW w14 AS (PARTITION BY user_id ORDER BY trade_date
       |  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
       |ORDER BY user_id, trade_date""".stripMargin

  /** RISK-ADJUSTED RETURN PACK — the per-symbol performance summary
    * next to [[beta]] (systematic risk) and [[drawdown]] (path risk):
    * over daily simple returns, annualized return mean·252,.
    * population volatility σ·√252, SHARPE = √252·mean/σ (rf = 0,
    * documented), and SORTINO = √252·mean/σ_d with downside deviation
    * σ_d = √(Σ min(r,0)²/n) (the full-count convention — zeros for
    * up days stay in the denominator's n). Sharpe NULL on a constant
    * series (σ = 0), sortino NULL when no session lost money (σ_d =
    * 0 — nothing to normalize by). Symbols with < 15 return sessions
    * drop (the [[beta]] support floor).
    *
    * Cross-engine exactness: returns round once to INTEGER MICROS at
    * scale 0 ([[kst]]'s discipline), so n, Σr, Σr², and Σ min(r,0)²
    * are EXACT integer aggregates with no accumulation order to
    * disagree about — unlike the var_pop/covar_pop route, which
    * leans on the moments sitting far above the rounding point. The
    * micro scale cancels inside both ratios; every emitted float is
    * a fixed sequence of correctly-rounded IEEE ops on those exact
    * sums, written identically in both engines, rounded 6 at display.
    *
    * Scale shape: ticks compact to symbol×days map-side (the ohlc
    * partial agg), then ONE symbol-keyed aggregate over day rows —
    * no window, no join, no second shuffle.
    */
  def sharpe(spark: SparkSession, dir: String, minDays: Int = 15): DataFrame = {
    // the rsiWilder display round: scale to micros, round at scale 0
    // (where both engines' half conventions agree), scale back
    def sr6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      round(c * 1e6, 0) / 1e6
    val wRn = Window.partitionBy("user_id").orderBy("trade_date")
    val rm = round((col("close_price") / lag("close_price", 1).over(wRn)
      - 1.0) * 1e6, 0).cast("long")
    val n = col("n").cast("double")
    val mean = col("sr") / n
    val varP = col("sr2") / n - mean * mean
    val dvar = col("sn2") / n
    val ann = lit(math.sqrt(252.0))
    ohlcBy(spark, dir, to_date(col("ts")).as("trade_date"), "trade_date",
      validated = true)
      .select(col("user_id"), rm.as("rm"))
      .filter(col("rm").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum("rm").cast("double").as("sr"),
        // square in DECIMAL(38,0): the corpus carries >3000× single-
        // session moves whose squared micros overflow Int64 — the
        // decimal lane (DuckDB dual: HUGEINT) keeps the sums exact
        sum(col("rm").cast("decimal(19,0)") * col("rm"))
          .cast("double").as("sr2"),
        sum(when(col("rm") < 0,
          col("rm").cast("decimal(19,0)") * col("rm"))
          .otherwise(lit(0).cast("decimal(38,0)")))
          .cast("double").as("sn2"))
      .filter(col("n") >= minDays)
      .select(col("user_id"), col("n").as("n_days"),
        sr6(mean * 252.0 / 1e6).as("ann_return"),
        sr6(sqrt(varP) * ann / 1e6).as("ann_vol"),
        sr6(when(varP > 0.0, ann * mean / sqrt(varP))).as("sharpe"),
        sr6(sqrt(dvar) * ann / 1e6).as("downside_vol"),
        sr6(when(col("sn2") > 0.0, ann * mean / sqrt(dvar)))
          .as("sortino"))
  }

  def sharpeSql: String = {
    val ann = "sqrt(252.0)"
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), r AS (
       |  SELECT user_id,
       |    round((close_price / lag(close_price, 1) OVER (
       |      PARTITION BY user_id ORDER BY trade_date) - 1.0) * 1e6, 0)::BIGINT
       |      AS rm
       |  FROM ohlc
       |), a AS (
       |  SELECT user_id, count(*) AS n,
       |    sum(rm)::DOUBLE AS sr,
       |    sum(rm::HUGEINT * rm)::DOUBLE AS sr2,
       |    sum(CASE WHEN rm < 0 THEN rm::HUGEINT * rm ELSE 0 END)::DOUBLE
       |      AS sn2
       |  FROM r WHERE rm IS NOT NULL GROUP BY user_id HAVING count(*) >= 15
       |)
       |SELECT user_id, n AS n_days,
       |  round(sr / n::DOUBLE * 252.0 / 1e6 * 1e6, 0) / 1e6 AS ann_return,
       |  round(sqrt(sr2 / n::DOUBLE - (sr / n::DOUBLE) * (sr / n::DOUBLE))
       |    * $ann / 1e6 * 1e6, 0) / 1e6 AS ann_vol,
       |  round(CASE WHEN sr2 / n::DOUBLE - (sr / n::DOUBLE) * (sr / n::DOUBLE)
       |      > 0.0
       |    THEN $ann * (sr / n::DOUBLE)
       |      / sqrt(sr2 / n::DOUBLE - (sr / n::DOUBLE) * (sr / n::DOUBLE))
       |    END * 1e6, 0) / 1e6 AS sharpe,
       |  round(sqrt(sn2 / n::DOUBLE) * $ann / 1e6 * 1e6, 0) / 1e6
       |    AS downside_vol,
       |  round(CASE WHEN sn2 > 0.0
       |    THEN $ann * (sr / n::DOUBLE) / sqrt(sn2 / n::DOUBLE) END * 1e6, 0)
       |    / 1e6 AS sortino
       |FROM a ORDER BY user_id""".stripMargin
  }

  /** Duplicate (key, ts) suppression keeping the first-arrived row
    * (producer.py:243-252). One shuffle on user_id.
    */
  def dedupTicks(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "ts").orderBy("event_id")
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .select("event_id", "ts", "user_id", "event_type", "value")
  }

  def dedupTicksSql: String =
    """SELECT event_id, ts, user_id, event_type, value FROM (
      |  SELECT event_id, ts, user_id, event_type, value,
      |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
      |  FROM events) WHERE rn = 1
      |ORDER BY event_id""".stripMargin

  /** MAX(trade_datetime) per company (producer.py:226-231). Map-side
    * partial max then one tiny shuffle.
    */
  def latestPerKey(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(max("ts").as("latest_ts"), count(lit(1)).as("n_ticks"))

  def latestPerKeySql: String =
    """SELECT user_id, max(ts) AS latest_ts, count(*) AS n_ticks
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Latest row per (company, day) — the DISTINCT ON of
    * get_latest_realtime_per_date() (current_schema.sql:134-162).
    */
  def latestPerDay(spark: SparkSession, dir: String): DataFrame = {
    val day = to_date(col("ts")).as("trade_date")
    val w = Window.partitionBy(col("user_id"), col("trade_date"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), day, col("user_id"), col("value"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  def latestPerDaySql: String =
    """SELECT event_id, ts, trade_date, user_id, value FROM (
      |  SELECT event_id, ts, CAST(ts AS DATE) AS trade_date, user_id, value,
      |    row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |                       ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1
      |ORDER BY user_id, trade_date""".stripMargin

  /** Daily OHLC rollup — migrate_realtime_to_historical()'s SELECT
    * (current_schema.sql:165-200): per (company, day) open/close by
    * time order, high/low, tick count.
    */
  def dailyOhlc(spark: SparkSession, dir: String): DataFrame =
    ohlcBy(spark, dir, to_date(col("ts")).as("trade_date"), "trade_date")

  def dailyOhlcSql: String =
    ohlcSql("CAST(ts AS DATE)", "trade_date") +
      "\nORDER BY user_id, trade_date"

  /** Hourly candles for the dashboard's candlestick view
    * (dashboard/app.py:249-309).
    */
  def candles(spark: SparkSession, dir: String): DataFrame =
    ohlcBy(spark, dir, date_trunc("hour", col("ts")).as("bucket"), "bucket")

  def candlesSql: String =
    ohlcSql("date_trunc('hour', ts)", "bucket") + "\nORDER BY user_id, bucket"

  /** Unordered OHLC rollup base (callers add their own ORDER BY or
    * consume it unsorted — the validTicks/validateTicks pattern).
    *
    * open/close resolve as min_by/max_by over the unique (ts,
    * event_id) tick order — ONE partial AGGREGATE with map-side
    * combine, so shuffle volume is (symbol, bucket) partials per map
    * task, never ticks (the [[dailyReturnsOf]] close rule; until
    * round 9 this kernel window-sorted every tick inside the shuffle
    * — identical output, 100× the shuffle at 100 TB). The SQL dual
    * keeps its first/last_value window formulation: the oracle
    * defines the semantics, the aggregate is the scale shape.
    */
  private def ohlcBy(spark: SparkSession, dir: String,
      bucketExpr: org.apache.spark.sql.Column, bucketName: String,
      validated: Boolean = false): DataFrame =
    ohlcByOf(
      if (validated) validTicks(spark, dir) else Tables.events(spark, dir),
      bucketExpr, bucketName)

  /** Daily OHLC kernel over an arbitrary events-shaped input —
    * ScaleProbe's entry ([[dailyOhlc]] is the same kernel bound to the
    * dir tables; both are unordered since the r13 sort sweep).
    */
  private[graft] def dailyOhlcOf(events: DataFrame): DataFrame =
    ohlcByOf(events, to_date(col("ts")).as("trade_date"), "trade_date")

  /** VALIDATED daily OHLC — the base the daily-series indicator tier
    * shares; exposed for the streaming bar engine's parity spec.
    */
  private[graft] def validDailyOhlc(spark: SparkSession,
      dir: String): DataFrame =
    ohlcBy(spark, dir, to_date(col("ts")).as("trade_date"), "trade_date",
      validated = true)

  private def ohlcByOf(src: DataFrame,
      bucketExpr: org.apache.spark.sql.Column, bucketName: String): DataFrame = {
    src
      .select(col("user_id"), bucketExpr, col("ts"), col("event_id"), col("value"))
      .groupBy(col("user_id"), col(bucketName))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open_price"),
        round(max("value"), 4).as("high_price"),
        round(min("value"), 4).as("low_price"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close_price"),
        count(lit(1)).as("n_ticks"),
        round(sum("value"), 4).as("turnover"))
  }

  /** The validated daily-OHLC CTE body — shared with the Forecast
    * oracles so "daily close" is one SQL definition engine-wide.
    */
  private[operators] def validDailyOhlcSql: String =
    ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)

  private def ohlcSql(bucketExpr: String, bucketName: String,
      validated: Boolean = false): String =
    s"""SELECT user_id, $bucketName,
       |  max(open) AS open_price,
       |  round(max(value), 4) AS high_price,
       |  round(min(value), 4) AS low_price,
       |  max(close) AS close_price,
       |  count(*) AS n_ticks,
       |  round(sum(value), 4) AS turnover
       |FROM (
       |  SELECT user_id, $bucketExpr AS $bucketName, value,
       |    first_value(value) OVER (PARTITION BY user_id, $bucketExpr
       |      ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS open,
       |    last_value(value) OVER (PARTITION BY user_id, $bucketExpr
       |      ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close
       |  FROM events${if (validated)
           "\n  WHERE value IS NOT NULL AND value > 0 AND NOT isnan(value)" +
           "\n    AND user_id IS NOT NULL" else ""})
       |GROUP BY user_id, $bucketName""".stripMargin

  /** Dashboard time-window scan (app.py:54-84): last 7 days relative
    * to the latest tick, enriched with the customer dim (broadcast),
    * newest first, limit 1000. Deterministic tiebreak on event_id.
    */
  def timeWindowScan(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val maxTs = ev.agg(max("ts").as("max_ts"))
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    ev.crossJoin(broadcast(maxTs))
      .filter(col("ts") >= col("max_ts") - expr("INTERVAL 7 DAYS"))
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .select("event_id", "ts", "user_id", "c_name", "c_mktsegment", "event_type", "value")
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(1000)
  }

  def timeWindowScanSql: String =
    """SELECT event_id, ts, user_id, c_name, c_mktsegment, event_type, value
      |FROM events JOIN customer ON user_id = c_custkey
      |WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 7 DAY
      |ORDER BY ts DESC, event_id DESC
      |LIMIT 1000""".stripMargin

  /** Distinct ordered symbol list (app.py:206-219). */
  def distinctKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select("user_id").distinct()

  def distinctKeysSql: String =
    "SELECT DISTINCT user_id FROM events ORDER BY user_id"

  /** Tumbling-window aggregate per event_type — the batch dual of the
    * streaming windowed aggregation (graft.streaming).
    */
  def windowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum("value"), 4).as("total"),
        // mean as rounded-sum / count: bit-identical across engines,
        // immune to avg() rounding-boundary hits on 2-decimal prices
        (round(sum("value"), 4) / count(lit(1))).as("mean"),
        round(min("value"), 4).as("lo"),
        round(max("value"), 4).as("hi"))

  def windowAggSql: String =
    """SELECT date_trunc('hour', ts) AS bucket, event_type,
      |  count(*) AS n,
      |  round(sum(value), 4) AS total,
      |  round(sum(value), 4) / count(*) AS mean,
      |  round(min(value), 4) AS lo,
      |  round(max(value), 4) AS hi
      |FROM events
      |GROUP BY date_trunc('hour', ts), event_type
      |ORDER BY bucket, event_type""".stripMargin

  /** Semi-structured props extraction (the consumer's JSON message
    * parsing, consumer/consumer.py:35 + analytics_consumer.py:441):
    * pull `k` out of the JSON props column and aggregate per type.
    */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        count(col("k")).as("n_with_k"),
        sum("k").as("sum_k"),
        (sum("k").cast("double") / count(col("k"))).as("avg_k"),
        min("k").as("min_k"),
        max("k").as("max_k"))

  def jsonExtractSql: String =
    """SELECT event_type, count(*) AS n, count(k) AS n_with_k,
      |  sum(k)::BIGINT AS sum_k, sum(k)::DOUBLE / count(k) AS avg_k,
      |  min(k) AS min_k, max(k) AS max_k
      |FROM (SELECT event_type, json_extract(props, '$.k')::BIGINT AS k
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Exact interpolated percentiles of tick value per event type —
    * OLAP distribution profiling (both engines use the
    * p·(n−1) linear-interpolation definition).
    */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        round(percentile(col("value"), lit(0.5)), 6).as("p50"),
        round(percentile(col("value"), lit(0.9)), 6).as("p90"),
        round(percentile(col("value"), lit(0.99)), 6).as("p99"),
        round(min("value"), 4).as("lo"),
        round(max("value"), 4).as("hi"))

  def percentilesSql: String =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.5), 6) AS p50,
      |  round(quantile_cont(value, 0.9), 6) AS p90,
      |  round(quantile_cont(value, 0.99), 6) AS p99,
      |  round(min(value), 4) AS lo,
      |  round(max(value), 4) AS hi
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Sketch-based percentiles — the 100 TB path for [[percentiles]]:
    * `approx_percentile` keeps a bounded Greenwald-Khanna-style
    * summary per group (O(accuracy) memory, mergeable map-side),
    * where the exact `percentile` aggregate materializes every group
    * value. Rows-only check (sketch outputs are engine-specific);
    * SketchSpec pins the rank error against the exact percentiles.
    */
  def percentilesApprox(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        round(approx_percentile(col("value"), lit(0.5), lit(10000)), 6).as("p50"),
        round(approx_percentile(col("value"), lit(0.9), lit(10000)), 6).as("p90"),
        round(approx_percentile(col("value"), lit(0.99), lit(10000)), 6).as("p99"),
        count(lit(1)).as("n"))

  /** Sketch-based distinct counts — the 100 TB dual of
    * [[distinctKeys]]: HyperLogLog++ per event_type at 1% target
    * error, constant memory and one map-side-combined pass instead of
    * a distinct shuffle. Rows-only; SketchSpec pins the error against
    * the exact counts.
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), rsd = 0.01).as("approx_users"),
        count(lit(1)).as("n_events"))

  /** SKETCH-vs-EXACT CHECK for [[approxDistinct]] (round-11
    * partial-oracle tier): the HLL++ estimate itself is
    * engine-specific, but the EXACT counts and the error-envelope
    * verdict are oracle-gradeable — the oracle recomputes exact
    * per-type distincts and emits the TRUE literal the 3σ bound
    * (SketchSpec's pin, 3 × rsd = 3%) must equal. A register-width or
    * merge regression in the sketch breaks the hash.
    */
  def approxDistinctCheck(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id"), rsd = 0.01).as("a"))
      .select(col("event_type"), col("exact_users"), col("n_events"),
        (abs(col("a") - col("exact_users")).cast("double")
          / col("exact_users").cast("double") <= 0.03)
          .as("hll_within_3sigma"))

  def approxDistinctCheckSql: String =
    """SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_users,
      |  count(*)::BIGINT AS n_events, true AS hll_within_3sigma
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** SKETCH-vs-EXACT CHECK for [[percentilesApprox]]: the honest
    * guarantee of `approx_percentile` is RANK error (≤ 1/accuracy),
    * not value error, so the verdict columns assert the SketchSpec
    * rank window (fraction strictly below ≤ q+ε ∧ fraction at-or-below
    * ≥ q−ε, ε = 0.005) while the exact percentiles ride along as the
    * hash-graded legs. One extra pass over the ticks with the approx
    * row broadcast back — the verification read a deployment runs on
    * a sample, priced at two aggregates.
    */
  def percentilesApproxCheck(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).filter(col("value").isNotNull)
    val approx = ev.groupBy("event_type").agg(
      approx_percentile(col("value"), lit(0.5), lit(10000)).as("a50"),
      approx_percentile(col("value"), lit(0.9), lit(10000)).as("a90"),
      approx_percentile(col("value"), lit(0.99), lit(10000)).as("a99"))
    val eps = 0.005
    def rankOk(a: Column, qt: Double): Column = {
      val n = count(lit(1)).cast("double")
      val below = sum(when(col("value") < a, 1L).otherwise(0L)).cast("double")
      val atOrBelow = sum(when(col("value") <= a, 1L).otherwise(0L))
        .cast("double")
      below <= n * (qt + eps) && atOrBelow >= n * (qt - eps)
    }
    ev.join(broadcast(approx), Seq("event_type"))
      .groupBy("event_type")
      .agg(round(percentile(col("value"), lit(0.5)), 6).as("p50"),
        round(percentile(col("value"), lit(0.9)), 6).as("p90"),
        round(percentile(col("value"), lit(0.99)), 6).as("p99"),
        count(lit(1)).as("n"),
        rankOk(col("a50"), 0.5).as("p50_rank_ok"),
        rankOk(col("a90"), 0.9).as("p90_rank_ok"),
        rankOk(col("a99"), 0.99).as("p99_rank_ok"))
  }

  def percentilesApproxCheckSql: String =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.5), 6) AS p50,
      |  round(quantile_cont(value, 0.9), 6) AS p90,
      |  round(quantile_cont(value, 0.99), 6) AS p99,
      |  count(*)::BIGINT AS n,
      |  true AS p50_rank_ok, true AS p90_rank_ok, true AS p99_rank_ok
      |FROM events WHERE value IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Referential-integrity audit: ticks whose key has no dim row
    * (left anti join) — the ingestion-error surface of the reference's
    * company lookup (producer.py:94-98).
    */
  def orphanTicks(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables.customer(spark, dir).select(col("c_custkey"))
    Tables.events(spark, dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"), "left_anti")
      .select("event_id", "user_id", "event_type")
  }

  def orphanTicksSql: String =
    """SELECT event_id, user_id, event_type
      |FROM events
      |WHERE user_id NOT IN (SELECT c_custkey FROM customer)
      |ORDER BY event_id""".stripMargin

  /** SESSION-GAP report — the data-completeness surface a market
    * warehouse alerts on: for each symbol, every WEEKDAY inside its
    * own [first, last] valid-trading-day span that has zero valid
    * ticks. (Holidays land here by design — absent a holiday
    * calendar, a gap is a gap; growing the calendar is a broadcast
    * anti-join away, same note as [[tradingHoursOf]].)
    *
    * Scale shape: one distinct-shuffle compacts ticks to (symbol,
    * day); spans are a symbol-sized aggregate, the calendar explodes
    * from THAT (rows = symbols × span-days, not ticks), and the
    * anti-join shuffles only the two day-level sides on the same key.
    */
  def sessionGaps(spark: SparkSession, dir: String): DataFrame = {
    val days = validTicksOf(Tables.events(spark, dir))
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val cal = days.groupBy("user_id")
      .agg(min("d").as("d0"), max("d").as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("d"))
      .filter(dayofweek(col("d")).between(2, 6))
    cal.join(days, Seq("user_id", "d"), "left_anti")
      .select(col("user_id"), col("d").as("gap_date"))
  }

  def sessionGapsSql: String =
    """WITH v AS (
      |  SELECT DISTINCT user_id, ts::DATE AS d
      |  FROM events
      |  WHERE value IS NOT NULL AND value > 0 AND NOT isnan(value)
      |    AND user_id IS NOT NULL
      |), s AS (
      |  SELECT user_id, min(d) AS d0, max(d) AS d1 FROM v GROUP BY user_id
      |), cal AS (
      |  SELECT user_id,
      |    unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
      |  FROM s
      |)
      |SELECT cal.user_id, cal.d AS gap_date
      |FROM cal LEFT JOIN v ON v.user_id = cal.user_id AND v.d = cal.d
      |WHERE isodow(cal.d) <= 5 AND v.user_id IS NULL
      |ORDER BY 1, 2""".stripMargin

  /** Weekly OHLCV candles — the dashboard's coarse time-window view
    * (same rollup as [[candles]] at week granularity; both engines
    * start weeks on Monday).
    */
  def weeklyCandles(spark: SparkSession, dir: String): DataFrame =
    ohlcBy(spark, dir, to_date(date_trunc("week", col("ts"))).as("week"), "week")

  def weeklyCandlesSql: String =
    ohlcSql("date_trunc('week', ts)", "week") + "\nORDER BY user_id, week"

  /** Monthly OHLCV candles — the coarsest dashboard window,
    * completing the hourly/daily/weekly/monthly candle ladder on the
    * SAME ohlc kernel (one partial aggregate, map-side combine).
    */
  def monthlyCandles(spark: SparkSession, dir: String): DataFrame =
    ohlcBy(spark, dir, to_date(date_trunc("month", col("ts"))).as("month"),
      "month")

  def monthlyCandlesSql: String =
    ohlcSql("date_trunc('month', ts)", "month") + "\nORDER BY user_id, month"

  /** ACTIVITY HEATMAP — the dashboard's weekday × hour traffic panel
    * over validated ticks: tick count, parsed volume, and the mean
    * price in EXACT integer micros (Σ price-micros as DECIMAL(38,0)
    * divided once — the [[vwap]] accounting, so the float is one
    * deterministic division and hash parity is free). Grid is ≤ 7×24
    * rows out of ONE partial aggregate.
    */
  def activityHeatmap(spark: SparkSession, dir: String): DataFrame =
    validTicksVol(spark, dir)
      .groupBy(dayofweek(col("ts")).as("weekday"), hour(col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_ticks"),
        sum("vol").as("volume"),
        (round(sum(round(col("value") * 1e6, 0).cast("decimal(38,0)"))
          .cast("double") / count(lit(1))) / 1e6).as("avg_price"))

  def activityHeatmapSql: String =
    """SELECT dayofweek(ts) + 1 AS weekday, hour(ts) AS hour,
      |  count(*) AS n_ticks,
      |  sum(coalesce(json_extract(props, '$.k')::BIGINT, 0))::BIGINT AS volume,
      |  round(CAST(sum(round(value * 1000000)::DECIMAL(38,0)) AS DOUBLE)
      |    / count(*)) / 1000000 AS avg_price
      |FROM events
      |WHERE value IS NOT NULL AND value > 0 AND NOT isnan(value)
      |  AND user_id IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Price-distribution histogram per event type: fixed 50-wide value
    * buckets (clamped to [0, 9]) — the dashboard's distribution panel
    * shape. Bucketing is floor arithmetic on the SAME doubles in both
    * engines, so counts are exact.
    */
  def priceHistogram(spark: SparkSession, dir: String): DataFrame =
    validTicks(spark, dir)
      .withColumn("bucket",
        least(greatest(floor(col("value") / 50.0), lit(0L)), lit(9L)))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"),
        round(min("value"), 4).as("lo"),
        round(max("value"), 4).as("hi"))
      .withColumn("bucket_lo", col("bucket") * lit(50L))
      .select("event_type", "bucket", "bucket_lo", "n", "lo", "hi")

  def priceHistogramSql: String =
    """SELECT event_type, bucket, bucket * 50 AS bucket_lo,
      |  count(*) AS n, round(min(value), 4) AS lo, round(max(value), 4) AS hi
      |FROM (
      |  SELECT event_type, value,
      |    least(greatest(floor(value / 50.0)::BIGINT, 0), 9) AS bucket
      |  FROM events
      |  WHERE value IS NOT NULL AND value > 0 AND NOT isnan(value)
      |    AND user_id IS NOT NULL)
      |GROUP BY event_type, bucket
      |ORDER BY event_type, bucket""".stripMargin

  /** Per-industry company statistics (utils/company_manager.py:254-276):
    * industries LEFT JOIN companies → company count + distinct sector
    * count, busiest industries first. Dim-sized data (nation=industry,
    * customer=company, c_mktsegment=sector) — the join broadcasts.
    */
  def industryStats(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir)
      .join(Tables.customer(spark, dir),
        col("n_nationkey") === col("c_nationkey"), "left")
      .groupBy(col("n_nationkey"), col("n_name"))
      .agg(count(col("c_custkey")).as("company_count"),
        countDistinct(col("c_mktsegment")).as("sector_count"))
      .select(col("n_name").as("industry"),
        col("company_count"), col("sector_count"))

  def industryStatsSql: String =
    """SELECT n_name AS industry, count(c_custkey) AS company_count,
      |  count(DISTINCT c_mktsegment) AS sector_count
      |FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
      |GROUP BY n_nationkey, n_name
      |ORDER BY company_count DESC, industry""".stripMargin

  /** Members of ONE industry (get_companies_by_industry,
    * utils/company_manager.py:195-214): companies joined to the
    * industry dim, filtered to the requested industry, ticker order.
    * The filter lands on the DIM side before the broadcast, so the
    * fact scan only tests the broadcast hash — no shuffle at any
    * corpus size (dim mapping: nation=industry, customer=company,
    * c_name=ticker, c_mktsegment=sector).
    */
  def companiesByIndustry(spark: SparkSession, dir: String,
      industry: String = "NATION_7"): DataFrame =
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .filter(col("n_name") === industry)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("company_id"),
        col("c_name").as("company_name"),
        col("c_mktsegment").as("sector"),
        col("c_acctbal").as("account_balance"),
        col("n_name").as("industry"))

  def companiesByIndustrySql: String =
    """SELECT c_custkey AS company_id, c_name AS company_name,
      |  c_mktsegment AS sector, c_acctbal AS account_balance,
      |  n_name AS industry
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |WHERE n_name = 'NATION_7'
      |ORDER BY company_name""".stripMargin

  /** Recent per-company price history (utils/company_manager.py:312-335):
    * the latest `days` daily-OHLC rows per company joined to the dim —
    * a bounded per-key history fetch (row_number per key, not a global
    * limit, so it scales key-parallel).
    */
  def priceHistory(spark: SparkSession, dir: String, days: Int = 7): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("trade_date").desc)
    val dim = Tables.customer(spark, dir).select(col("c_custkey"), col("c_name"))
    ohlcBy(spark, dir, to_date(col("ts")).as("trade_date"), "trade_date")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= days).drop("rn")
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .drop("c_custkey")
  }

  def priceHistorySql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date")}
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY trade_date DESC) AS rn
       |  FROM ohlc)
       |SELECT user_id, trade_date, open_price, high_price, low_price,
       |  close_price, n_ticks, turnover, c_name
       |FROM ranked JOIN customer ON user_id = c_custkey
       |WHERE rn <= 7
       |ORDER BY user_id, trade_date DESC""".stripMargin

  /** CALENDAR-ALIGNED daily price grid with forward fill — the
    * continuous-series surface behind every dashboard line chart and
    * the gap semantics the reference's realtime→historical migration
    * implies (a symbol with no trades on a day carries its last
    * close; current_schema.sql:165-200 only materializes traded
    * days, so consumers re-derive this alignment ad hoc — here it is
    * the engine's job): per symbol, every calendar day from its
    * first to its last session, last observed close carried across
    * gaps, `is_observed` flagging real sessions.
    *
    * Scale shape: the grid is |symbols|·|calendar days| rows — the
    * DENSIFIED series is the output, so that cost is the answer, not
    * overhead; everything keys on user_id (span agg, grid⋈daily
    * join, fill window all share the partitioning, which AQE reuses)
    * and the fill is one running `last(ignoreNulls)` — no self-join,
    * no per-gap scan. Values are carried verbatim (no arithmetic),
    * so cross-engine hash parity is free.
    */
  def priceFfill(spark: SparkSession, dir: String): DataFrame = {
    val daily = ohlcBy(spark, dir, to_date(col("ts")).as("trade_date"),
      "trade_date", validated = true)
      .select(col("user_id"), col("trade_date"), col("close_price"))
    val grid = daily.groupBy("user_id")
      .agg(min("trade_date").as("d0"), max("trade_date").as("d1"))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("trade_date"))
    val w = Window.partitionBy("user_id").orderBy("trade_date")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "trade_date"), "left")
      .withColumn("is_observed", col("close_price").isNotNull)
      .withColumn("filled", last("close_price", ignoreNulls = true).over(w))
      .select(col("user_id"), col("trade_date"),
        col("filled").as("close_price"), col("is_observed"))
  }

  def priceFfillSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), daily AS (
       |  SELECT user_id, trade_date, close_price FROM ohlc
       |), grid AS (
       |  SELECT user_id,
       |    unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS trade_date
       |  FROM (SELECT user_id, min(trade_date) AS d0, max(trade_date) AS d1
       |        FROM daily GROUP BY 1)
       |)
       |SELECT g.user_id, g.trade_date,
       |  last_value(d.close_price IGNORE NULLS) OVER (
       |    PARTITION BY g.user_id ORDER BY g.trade_date
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_price,
       |  d.close_price IS NOT NULL AS is_observed
       |FROM grid g LEFT JOIN daily d
       |  ON g.user_id = d.user_id AND g.trade_date = d.trade_date
       |ORDER BY g.user_id, g.trade_date""".stripMargin

  /** Pairwise RETURN CORRELATION — the co-movement screen of a
    * market-analytics engine: daily close-to-close returns per symbol
    * (from the validated daily OHLC), aligned by date in a
    * self-equi-join, Pearson-correlated per pair (codegen'd corr
    * aggregate), bounded to pairs with ≥ `minDays` common sessions,
    * strongest |ρ| first, top 50.
    *
    * Cross-engine determinism: ordering and the top-N cut use the
    * ROUNDED coefficient (6 dp) with (a_id, b_id) tie-breaks;
    * zero-variance pairs (corr NaN in Spark / NULL in DuckDB) are
    * filtered on both sides.
    *
    * Scale shape: a plain date equi-join would key the shuffle on
    * trade_date alone — parallelism capped at #distinct dates (30 on
    * this corpus) with each task materializing a symbols²-row
    * pair-DATE block. Instead each symbol is compacted to its sorted
    * sparse (session-index, return) series and the pair space is
    * tiled into `buckets`² symbol-bucket tiles (a triangle/theta-join
    * replication: each side is replicated `buckets`× against the
    * OTHER side's bucket id, so a pair meets in exactly ONE tile).
    * The pair stage joins #symbols·buckets compact rows across
    * buckets² parallel tiles and computes each pair's correlation
    * with ONE codegen'd sorted-merge ([[graft.functions.PairMoments]])
    * — work is the unavoidable Ω(pairs·days) FLOPs, but shuffle
    * volume is O(symbols·buckets·days) and nothing date-keyed ever
    * materializes. At a 100× universe raise `buckets` ∝ symbols to
    * hold tile size constant.
    *
    * PAIR-GROWTH ENVELOPE — the one inherently O(S²) surface in the
    * engine, sized explicitly: pairs = S(S−1)/2, and each pair's
    * merge walks two ≥`minDays`-session sparse series (~16 B/obs), so
    * total work ≈ S²/2 · days · 2 ops and the per-tile working set is
    * (2S/buckets)·days·16 B. An equities universe (S ≈ 10⁴, 1y daily)
    * is 5·10⁷ pairs × 250 sessions ≈ 10¹⁰ merge steps — hours·cores,
    * fine as a batch screen. If S ever means "all instruments"
    * (S ≥ 10⁶: options chains, fixed income, crypto pairs), S² is
    * 5·10¹¹ pairs and NO tiling saves it — the escape hatch is to cut
    * the quadratic term, not parallelize it: (a) correlate only a
    * chosen hot set (screen top-liquidity S' ≈ 10⁴ first), (b) a
    * factor/covariance sketch (returns × k random projections, k ≪
    * days, pairs scored on the sketch and only survivors exactified),
    * or (c) blocking by sector/venue so cross-block pairs never
    * materialize. This exact screen stays as the verifier of any of
    * those (ScaleProbe times it across synthetic universe sizes).
    */
  def returnCorr(spark: SparkSession, dir: String,
      minDays: Int = 15): DataFrame =
    returnCorrOf(dailyReturnsOf(validTicks(spark, dir)), minDays)

  /** The bucketed pair screen over an explicit (user_id, trade_date,
    * ret) frame — ScaleProbe drives it with replicated universes.
    *
    * Sparse-series formulation: each symbol is compacted to TWO tiny
    * parallel arrays sorted by session index — epoch-day indices and
    * returns, one entry per session the symbol actually traded. All
    * six pairwise moments over a pair's COMMON sessions (n, Σx, Σy,
    * Σx², Σy², Σxy) come from ONE codegen'd sorted-merge over the two
    * series ([[graft.functions.PairCorr]]), so the pair stage joins
    * #symbols·buckets rows instead of #symbols·#dates rows and emits
    * one row per pair directly — no pair-date materialization, no
    * second aggregation shuffle, no global date grid (epoch days ARE
    * the session index: globally consistent and per-symbol sorted
    * with no date-index join or driver-sized densification — the
    * round-7 dense-grid build probed a Catalyst map per grid slot,
    * a linear GetMapValue scan each, and owned ~2.4 s of the query's
    * 3.1 s at sf0.1).
    */
  private[graft] def returnCorrOf(rets: DataFrame, minDays: Int = 15,
      bucketsIn: Int = 0): DataFrame = {
    // compact FIRST, then materialize: the per-symbol frame is
    // #symbols rows (vs #symbols·#dates for the raw returns), and it
    // feeds three consumers — the bucket-sizing count and both sides
    // of the pair self-join — so the upstream returns pipeline
    // (validated close compaction + lag) executes exactly once.
    // localCheckpoint (not persist) so the blocks are released when
    // the plan is GC'd: the returned frame references the cache
    // lazily, so an explicit unpersist here would race callers'
    // terminal actions.
    val sym = rets
      .withColumn("di", unix_date(col("trade_date")))
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("di"), col("ret")))).as("e"))
      .select(col("user_id"), col("e.di").as("ds"), col("e.ret").as("rs"))
      .localCheckpoint(true)
    // ADAPTIVE tiling (bucketsIn = 0), two regimes: the tile count
    // (buckets²) must at least cover the cluster's parallelism so no
    // core idles (floor: buckets² ≈ 2·defaultParallelism), and past
    // that the bucket SIDE holds near 128 symbols so tile pair-work
    // stays ~constant as the universe grows — buckets scales linearly
    // with symbols (the scaladoc's "raise buckets ∝ symbols"). Shuffle
    // volume is symbols·buckets compact rows, and the result is
    // bucket-count INVARIANT (every pair still meets in exactly one
    // tile — spec-asserted), so the knob tunes parallelism only, never
    // values. The count is free next to the Ω(pairs·days) pair stage:
    // sym is already checkpointed.
    val buckets = if (bucketsIn > 0) bucketsIn
    else {
      // 1-job count over the materialized checkpoint (a DataFrame
      // count() would re-enter AQE: exchange + final = 2 jobs)
      val nSym = Dedup.checkpointedCount(sym)
      // canonical tiles ⇒ ~buckets²/2 tasks, so the parallelism floor
      // solves buckets²/2 ≈ 2·defaultParallelism
      val parFloor = math.ceil(math.sqrt(
        4.0 * rets.sparkSession.sparkContext.defaultParallelism)).toInt
      math.max(parFloor, math.ceil(nSym / 128.0).toInt)
    }
    // CANONICAL tile addressing (ab ≤ bb): a symbol in bucket s joins
    // as the LEFT side of tiles (s, s..B-1) and the RIGHT side of
    // tiles (0..s, s), so each unordered pair meets in exactly one
    // tile with a fixed orientation — vs replicating BOTH sides B×
    // against every opposite bucket and discarding half the join
    // output to a triangle cut, this ships half the replicated rows
    // through the exchange and performs half the join work. Only the
    // diagonal tiles (s, s) see both orientations and need the id cut;
    // correlation is symmetric under swap (every sum and product
    // commutes in IEEE754), so emitting least/greatest ids afterwards
    // is bit-identical to computing the ordered pair directly.
    // Pin the tile distribution of the STREAM side explicitly: the
    // checkpointed sym frame inherits the (AQE-coalesced) partition
    // count of the compaction aggregate — a handful of partitions —
    // and when the planner broadcasts the other side, the Ω(pairs·days)
    // PairCorr merge work runs at that starved parallelism (measured:
    // ~2.0 s wall at 32 cores against 1.0 s with the tile exchange
    // pinned). Keyed by the tile address, so under a sort-merge plan
    // at larger scale the same exchange doubles as the join's
    // clustering requirement.
    val tileParts = rets.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
      .max(rets.sparkSession.sparkContext.defaultParallelism)
    val a = sym.toDF("l_id", "l_ds", "l_rs")
      .withColumn("ab", pmod(hash(col("l_id")), lit(buckets)))
      .withColumn("bb", explode(sequence(col("ab"), lit(buckets - 1))))
      .repartition(tileParts, col("ab"), col("bb"))
    val b = sym.toDF("r_id", "r_ds", "r_rs")
      .withColumn("bb", pmod(hash(col("r_id")), lit(buckets)))
      .withColumn("ab", explode(sequence(lit(0), col("bb"))))
    // ONE fused merge per candidate pair ([[graft.functions.PairCorr]]
    // — its scaladoc records the three measured re-evaluation traps
    // that rule out a moments-primitive + Column-arithmetic tail).
    // Invalid pairs (short overlap / zero variance — the oracle's
    // HAVING drops both) come back NULL and sort NULLS LAST, so the
    // only pre-limit predicate is the cheap diagonal cut.
    val paired = a.join(b, Seq("ab", "bb"))
      .filter(col("ab") =!= col("bb") || col("l_id") < col("r_id"))
      .withColumn("pc", graft.functions.PairCorr.pair_corr(
        col("l_ds"), col("l_rs"), col("r_ds"), col("r_rs"), minDays))
    paired
      .select(least(col("l_id"), col("r_id")).as("a_id"),
        greatest(col("l_id"), col("r_id")).as("b_id"),
        col("pc")(0).cast("long").as("n_days"),
        round(col("pc")(1), 6).as("correlation"))
      .orderBy(abs(col("correlation")).desc_nulls_last,
        col("a_id"), col("b_id"))
      .limit(50)
      // the invalid-pair cut: post-limit so it CANNOT be pushed back
      // through the sort into the join (pushdown never crosses a
      // Limit); with ≥50 valid pairs it is a no-op, with fewer it
      // drops the NULL tail exactly as the oracle's HAVING does
      .filter(col("correlation").isNotNull)
  }

  /** Daily close-to-close returns from an explicit validated tick
    * frame — the [[returnCorr]] input shape for synthetic universes
    * (same close semantics as [[ohlcBy]]: last value by (ts,
    * event_id) per (symbol, day), unrounded).
    */
  private[graft] def dailyReturnsOf(ticks: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("trade_date")
    ticks
      .select(col("user_id"), to_date(col("ts")).as("trade_date"),
        col("ts"), col("event_id"), col("value"))
      // close = the value at max (ts, event_id): identical to the
      // last_value window the oracle keeps, but as a max_by AGGREGATE
      // the map side pre-combines each partition down to one row per
      // (symbol, day) before the shuffle — no all-ticks sort, and
      // shuffle volume drops from every tick to #symbols·#days rows
      .groupBy("user_id", "trade_date")
      .agg(max_by(col("value"), struct(col("ts"), col("event_id")))
        .as("close_price"))
      // validated source ⇒ close > 0, so no zero-divisor guard needed;
      // the oracle dual carries the identical shape
      .withColumn("prev", lag("close_price", 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("user_id"), col("trade_date"),
        (col("close_price") / col("prev") - 1.0).as("ret"))
  }

  def returnCorrSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), rets AS (
       |  SELECT user_id, trade_date,
       |    close_price / lag(close_price) OVER (PARTITION BY user_id
       |      ORDER BY trade_date) - 1.0 AS ret
       |  FROM ohlc
       |), r AS (
       |  SELECT user_id, trade_date, ret FROM rets WHERE ret IS NOT NULL
       |), pairs AS (
       |  SELECT a.user_id AS a_id, b.user_id AS b_id,
       |    count(*)::BIGINT AS n_days,
       |    round(corr(a.ret, b.ret), 6) AS correlation
       |  FROM r a JOIN r b
       |    ON a.trade_date = b.trade_date AND a.user_id < b.user_id
       |  GROUP BY 1, 2
       |  HAVING count(*) >= 15 AND corr(a.ret, b.ret) IS NOT NULL
       |)
       |SELECT a_id, b_id, n_days, correlation FROM pairs
       |ORDER BY abs(correlation) DESC, a_id, b_id LIMIT 50""".stripMargin

  /** Hierarchical rollup: (event_type, day) with subtotals and a grand
    * total — OLAP grouping-sets coverage.
    */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .rollup(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total"))

  def rollupAggSql: String =
    """SELECT event_type, CAST(ts AS DATE) AS day,
      |  count(*) AS n, round(sum(value), 4) AS total
      |FROM events
      |GROUP BY ROLLUP(event_type, CAST(ts AS DATE))
      |ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""".stripMargin

  /** Wide pivot: mean tick value per user × event_type — the
    * dashboard's per-symbol breakdown shape.
    */
  def pivotTypes(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type", types)
      .agg(round(sum("value"), 4) / count(col("value")))
  }

  def pivotTypesSql: String =
    """SELECT user_id,
      |  round(sum(CASE WHEN event_type = 'click' THEN value END), 4)
      |    / count(CASE WHEN event_type = 'click' THEN value END) AS click,
      |  round(sum(CASE WHEN event_type = 'error' THEN value END), 4)
      |    / count(CASE WHEN event_type = 'error' THEN value END) AS error,
      |  round(sum(CASE WHEN event_type = 'purchase' THEN value END), 4)
      |    / count(CASE WHEN event_type = 'purchase' THEN value END) AS purchase,
      |  round(sum(CASE WHEN event_type = 'signup' THEN value END), 4)
      |    / count(CASE WHEN event_type = 'signup' THEN value END) AS signup,
      |  round(sum(CASE WHEN event_type = 'view' THEN value END), 4)
      |    / count(CASE WHEN event_type = 'view' THEN value END) AS view
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Top daily movers: rank symbols per day by intraday change
    * (close vs open from the daily OHLC rollup), keep the top 3 —
    * the dashboard's movers panel shape.
    *
    * Builds on the VALIDATED, UNORDERED ohlc base: validation rules
    * out open_price = 0 (whose x/0 semantics differ between Spark —
    * NULL — and DuckDB — ∞ — and would rank a bad tick first), and
    * skipping dailyOhlc's output ORDER BY avoids a global sort the
    * ranking window would immediately destroy.
    */
  def topMovers(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Window.partitionBy("trade_date")
      .orderBy(col("change_pct").desc, col("user_id"))
    ohlcBy(spark, dir, to_date(col("ts")).as("trade_date"), "trade_date",
        validated = true)
      .withColumn("change_pct",
        round((col("close_price") - col("open_price")) / col("open_price") * 100.0, 6))
      .withColumn("mover_rank", row_number().over(byDay))
      .filter(col("mover_rank") <= 3)
      .select("trade_date", "mover_rank", "user_id", "open_price",
        "close_price", "change_pct")
  }

  def topMoversSql: String =
    s"""WITH ohlc AS (
       |${ohlcSql("CAST(ts AS DATE)", "trade_date", validated = true)}
       |), ranked AS (
       |  SELECT trade_date, user_id, open_price, close_price,
       |    round((close_price - open_price) / open_price * 100.0, 6) AS change_pct
       |  FROM ohlc
       |)
       |SELECT trade_date, row_number() OVER (PARTITION BY trade_date
       |    ORDER BY change_pct DESC, user_id) AS mover_rank,
       |  user_id, open_price, close_price, change_pct
       |FROM ranked
       |QUALIFY mover_rank <= 3
       |ORDER BY trade_date, mover_rank""".stripMargin

  /** Gap-based sessionization per user (2 h inactivity gap) — the
    * batch dual of streaming session windows. One shuffle on user_id;
    * the running session counter streams over the sorted run.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    // double-epoch on both sides: Spark's long cast floors to seconds
    // while DuckDB's epoch() keeps the fraction — doubles agree exactly.
    val newSession = when(
      col("ts").cast("double") - lag(col("ts"), 1).over(byUser).cast("double") > 7200, 1
    ).otherwise(lit(0))
    Tables.events(spark, dir)
      .withColumn("new_s", coalesce(newSession, lit(0)))
      .withColumn("session_id", sum("new_s")
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        min("ts").as("session_start"),
        max("ts").as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum("value"), 4).as("session_value"))
  }

  def sessionizeSql: String =
    """SELECT user_id, session_id,
      |  min(ts) AS session_start,
      |  max(ts) AS session_end,
      |  count(*) AS n_events,
      |  round(sum(value), 4) AS session_value
      |FROM (
      |  SELECT user_id, ts, value,
      |    (sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
      |  FROM (
      |    SELECT user_id, ts, event_id, value,
      |      CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id)) > 7200 THEN 1 ELSE 0 END AS new_s
      |    FROM events))
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin
}
