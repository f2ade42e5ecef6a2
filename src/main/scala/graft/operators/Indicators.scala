package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Technical indicators from analytics/technical_indicators.py,
  * re-expressed as declarative window plans over the tick stream
  * (user_id = symbol, value = price, ordered by ts then event_id =
  * arrival order, matching the reference's per-symbol price deque).
  *
  * Reference semantics preserved exactly:
  * - every indicator is NULL until its minimum history length
  *   (validate_data, technical_indicators.py:63-65);
  * - RSI-14 = mean gain / mean loss over the last 14 deltas, 100.0
  *   when there are no losses (:74-92);
  * - SMA over the last `period` prices (:101-108);
  * - EMA = recursive fold over the ENTIRE per-symbol history seeded
  *   with the first price (:117-130) — the 1000-cap (:243-252) never
  *   binds at our per-key tick counts;
  * - Bollinger = SMA20 ± 2·population-stddev (np.std, :139-153);
  * - MACD = EMA12 − EMA26 with signal := macd, histogram := 0
  *   (simplified exactly as :163-179);
  * - volatility = population-stddev of ALL returns so far × √252
  *   (:188-196, np.diff over the full history).
  *
  * Scale shape: ONE shuffle on user_id; every window shares the same
  * (user_id | ts, event_id) spec so WindowExec does a single sort and
  * streams each sorted run. Window-aggregate outputs are rounded on
  * both the Spark and oracle side because sliding-frame summation
  * order differs between engines at the ulp level.
  */
object Indicators {

  /** Ticks + per-row indicator building blocks; shared by all
    * indicator queries so Catalyst prunes unused windows per query.
    */
  private def base(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    def sliding(n: Int) = byUser.rowsBetween(-(n - 1), 0)
    val expanding = byUser.rowsBetween(Window.unboundedPreceding, 0)

    val prev = lag(col("value"), 1).over(byUser)
    val delta = col("value") - prev

    // Pin the symbol exchange to the session's shuffle parallelism:
    // the window stage is CPU-bound (a dozen frames per row) over a
    // few KB per symbol run, and AQE's bytes-based coalescing would
    // fold ~1500 runs into a handful of tasks. An explicit count keeps
    // the same single exchange (the windows' clustering requirement is
    // already satisfied) while exempting it from coalescing.
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      .max(spark.sparkContext.defaultParallelism)
    Warehouse.validTicks(spark, dir)
      .repartition(parts, col("user_id"))
      .withColumn("rn", row_number().over(byUser))
      .withColumn("delta", delta)
      .withColumn("gain", when(col("delta") > 0, col("delta")).otherwise(lit(0.0)))
      .withColumn("loss", when(col("delta") < 0, -col("delta")).otherwise(lit(0.0)))
      .withColumn("ret", col("delta") / lag(col("value"), 1).over(byUser))
      .withColumn("avg_gain", avg("gain").over(sliding(14)))
      .withColumn("avg_loss", avg("loss").over(sliding(14)))
      .withColumn("sma20_raw", avg("value").over(sliding(20)))
      .withColumn("sma50_raw", avg("value").over(sliding(50)))
      .withColumn("std20", stddev_pop("value").over(sliding(20)))
      .withColumn("vol_raw", stddev_pop("ret").over(expanding) * sqrt(lit(252.0)))
  }

  private def guard(minRn: Int, c: Column): Column = when(col("rn") >= minRn, c)

  private def rsiCol: Column = guard(15,
    when(col("avg_loss") === 0.0, lit(100.0))
      .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + col("avg_gain") / col("avg_loss"))))

  private val tickCols: Seq[Column] =
    Seq(col("user_id"), col("ts"), col("event_id"), col("value"))

  def sma(spark: SparkSession, dir: String): DataFrame =
    base(spark, dir).select(tickCols :+
      round(guard(20, col("sma20_raw")), 4).as("sma_20") :+
      round(guard(50, col("sma50_raw")), 4).as("sma_50"): _*)

  def rsi(spark: SparkSession, dir: String): DataFrame =
    base(spark, dir).select(tickCols :+
      round(rsiCol, 4).as("rsi_14"): _*)

  def bollinger(spark: SparkSession, dir: String): DataFrame =
    base(spark, dir).select(tickCols :+
      round(guard(20, col("sma20_raw") + lit(2.0) * col("std20")), 4).as("bb_upper") :+
      round(guard(20, col("sma20_raw")), 4).as("bb_middle") :+
      round(guard(20, col("sma20_raw") - lit(2.0) * col("std20")), 4).as("bb_lower"): _*)

  def volatility(spark: SparkSession, dir: String): DataFrame =
    base(spark, dir).select(tickCols :+
      round(guard(21, col("vol_raw")), 4).as("volatility"): _*)

  def priceChange(spark: SparkSession, dir: String): DataFrame =
    base(spark, dir).select(tickCols :+
      round(guard(2, col("delta") / (col("value") - col("delta")) * 100.0), 6)
        .as("price_change_percent"): _*)

  /** EMA via the O(history) single-pass recurrence ([[Recurrence]] /
    * the custom EmaAppend operator) — one hash partition by key, O(1)
    * state per key. The fold arithmetic (`x*k + acc*(1-k)` seeded with
    * the first price) is bit-identical to the declarative expanding
    * collect_list formulation AND to the DuckDB `list_reduce` oracle
    * (RecurrenceSpec proves exact equality), so the oracle is
    * unchanged while the plan drops from O(history²) per key to one
    * streaming pass.
    */
  def ema(spark: SparkSession, dir: String): DataFrame =
    Recurrence.withEmaMacd(Warehouse.validTicks(spark, dir)
      .select("user_id", "ts", "event_id", "value"))
      .select(tickCols :+
        round(col("ema_12_raw"), 6).as("ema_12") :+
        round(col("ema_26_raw"), 6).as("ema_26"): _*)

  def macd(spark: SparkSession, dir: String): DataFrame =
    Recurrence.withEmaMacd(Warehouse.validTicks(spark, dir)
      .select("user_id", "ts", "event_id", "value"))
      .select(tickCols :+
        round(col("macd_raw"), 6).as("macd") :+
        round(col("macd_signal_raw"), 6).as("macd_signal") :+
        col("macd_histogram_raw").as("macd_histogram"): _*)

  /** The flagship wide analytics row — one row per tick with every
    * indicator, mirroring the stock_analytics insert
    * (analytics_consumer.py:304-364, db/current_schema.sql:57-90).
    * EMA/MACD come from the single-pass recurrence appended after the
    * window pass (zero extra shuffle — see [[Recurrence.withEmaMacd]]).
    */
  def analyticsFull(spark: SparkSession, dir: String): DataFrame =
    Recurrence.withEmaMacd(base(spark, dir))
      .select(
        col("user_id"), col("ts"), col("event_id"),
        col("value").as("current_price"),
        round(rsiCol, 4).as("rsi_14"),
        round(guard(20, col("sma20_raw")), 4).as("sma_20"),
        round(guard(50, col("sma50_raw")), 4).as("sma_50"),
        round(col("ema_12_raw"), 6).as("ema_12"),
        round(col("ema_26_raw"), 6).as("ema_26"),
        round(guard(20, col("sma20_raw") + lit(2.0) * col("std20")), 4).as("bb_upper"),
        round(guard(20, col("sma20_raw")), 4).as("bb_middle"),
        round(guard(20, col("sma20_raw") - lit(2.0) * col("std20")), 4).as("bb_lower"),
        round(col("macd_raw"), 6).as("macd"),
        round(col("macd_signal_raw"), 6).as("macd_signal"),
        col("macd_histogram_raw").as("macd_histogram"),
        round(guard(21, col("vol_raw")), 4).as("volatility"),
        round(guard(2, col("delta") / (col("value") - col("delta")) * 100.0), 6)
          .as("price_change_percent"))

  /** Recent-analytics feed (dashboard fetch_analytics_data,
    * app.py:86-120): every indicator column for the trailing 7 days,
    * newest first, bounded, enriched with the broadcast symbol dim —
    * a top-N (TakeOrderedAndProject) over the single-exchange
    * indicator pipeline, cut before anything global sorts.
    */
  def analyticsWindow(spark: SparkSession, dir: String, limit: Int = 1000): DataFrame = {
    val maxTs = Warehouse.validTicks(spark, dir).agg(max("ts").as("max_ts"))
    val dim = graft.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name").as("symbol_name"))
    analyticsFull(spark, dir)
      .crossJoin(broadcast(maxTs))
      .filter(col("ts") >= col("max_ts") - expr("INTERVAL 7 DAYS"))
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .drop("c_custkey", "max_ts")
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(limit)
  }

  /** Extreme-value row filter (analytics_consumer.py:77-95): drop
    * ticks whose RSI is exactly 0/100 or whose volatility is exactly 0
    * (non-trading-hours data-quality guard).
    */
  def filterExtremes(spark: SparkSession, dir: String): DataFrame =
    analyticsFull(spark, dir)
      .filter(!(col("rsi_14").isNotNull && (col("rsi_14") === 100.0 || col("rsi_14") === 0.0)) &&
        !(col("volatility").isNotNull && col("volatility") === 0.0))

  /** Threshold alerts (analytics_consumer.py:226-268): RSI overbought
    * >70 / oversold <30 (HIGH), volatility >0.05 (MEDIUM).
    */
  def alerts(spark: SparkSession, dir: String): DataFrame =
    alertsOf(analyticsFull(spark, dir))

  /** The ONE alert rule set, over indicator rows (user_id, ts,
    * event_id, rsi_14, volatility) whose `rsi_14` and `volatility` are
    * already rounded to 4 places; the batch surfaces and
    * [[graft.streaming.TickStream.alertsStream]] all apply it.
    *
    * Emitted in ONE pass via array-build + inline rather than a union
    * of filters — a union would recompute the whole indicator window
    * stage per branch (measured: 3 exchanges vs 1).
    */
  private[graft] def alertsOf(rows: DataFrame): DataFrame = {
    val rsi = col("rsi_14")
    val vol = col("volatility")
    val alertStructs = array(
      when(rsi.isNotNull && rsi > 70.0,
        struct(lit("RSI_OVERBOUGHT").as("alert_type"), rsi.as("indicator_value"),
          lit(70.0).as("threshold_value"), lit("HIGH").as("severity"))),
      when(rsi.isNotNull && rsi < 30.0,
        struct(lit("RSI_OVERSOLD").as("alert_type"), rsi.as("indicator_value"),
          lit(30.0).as("threshold_value"), lit("HIGH").as("severity"))),
      when(vol.isNotNull && vol > 0.05,
        struct(lit("HIGH_VOLATILITY").as("alert_type"), vol.as("indicator_value"),
          lit(0.05).as("threshold_value"), lit("MEDIUM").as("severity"))))
    rows
      .select(col("user_id"), col("ts"), col("event_id"),
        explode(filter(alertStructs, a => a.isNotNull)).as("alert"))
      .select(col("user_id"), col("ts"), col("event_id"), col("alert.*"))
  }

  /** Recent-alerts feed (dashboard fetch_alerts, app.py:121-144):
    * newest `limit` alerts first, enriched with the broadcast symbol
    * dim. The sort key (ts desc, event_id desc, alert_type asc) is a
    * TOTAL order — (event_id, alert_type) is unique — so the top-N cut
    * is deterministic across engines; the global sort is a top-N
    * (TakeOrderedAndProject), not a full range sort.
    */
  def recentAlerts(spark: SparkSession, dir: String, limit: Int = 50): DataFrame = {
    val dim = graft.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name").as("symbol_name"))
    alerts(spark, dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .drop("c_custkey")
      .orderBy(col("ts").desc, col("event_id").desc, col("alert_type"))
      .limit(limit)
  }

  /** Latest analytics row per symbol — the dashboard's live summary
    * panel (dashboard/app.py:799-845).
    */
  def latestAnalytics(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    analyticsFull(spark, dir)
      .withColumn("rn2", row_number().over(w))
      .filter(col("rn2") === 1).drop("rn2")
  }

  /** Daily analytics rollup — the daily_analytics_summary
    * materialized view (db/enhanced_schema.sql:297-314): per (symbol,
    * day) price/RSI/volatility aggregates enriched with the broadcast
    * dim. In a lakehouse this materializes incrementally via
    * [[graft.sources.Sinks.upsertParquet]] keyed on (trade_date,
    * user_id): a day's update rewrites only the part files of that day.
    */
  def dailySummary(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    analyticsFull(spark, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("trade_date"))
      .agg(
        // averages as rounded-sum / count: sums of 2/4-decimal inputs
        // round to bit-identical doubles on both engines (the scale
        // matches the exact decimal width, so no value lands ON a
        // rounding boundary), and the division is then exact
        (round(sum("current_price"), 4) / count(lit(1))).as("avg_price"),
        round(max("current_price"), 4).as("max_price"),
        round(min("current_price"), 4).as("min_price"),
        (round(sum("rsi_14"), 6) / count(col("rsi_14"))).as("avg_rsi"),
        (round(sum("volatility"), 6) / count(col("volatility"))).as("avg_volatility"),
        count(lit(1)).as("data_points"))
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .select(col("user_id"), col("trade_date"), col("c_name"), col("c_mktsegment"),
        col("avg_price"), col("max_price"), col("min_price"),
        col("avg_rsi"), col("avg_volatility"), col("data_points"))
  }

  // ---------------------------------------------------------------- oracle SQL

  /** Shared DuckDB CTE mirroring [[base]]. */
  private def baseCte: String =
    """WITH ticks AS (
      |  SELECT event_id, ts, user_id, value FROM events
      |  WHERE value IS NOT NULL AND value > 0 AND NOT isnan(value)
      |    AND user_id IS NOT NULL
      |), b AS (
      |  SELECT user_id, ts, event_id, value,
      |    row_number() OVER u AS rn,
      |    value - lag(value) OVER u AS delta,
      |    (value - lag(value) OVER u) / lag(value) OVER u AS ret,
      |    list(value) OVER (u ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lvals
      |  FROM ticks
      |  WINDOW u AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), w AS (
      |  SELECT *,
      |    avg(CASE WHEN delta > 0 THEN delta ELSE 0.0 END)
      |      OVER (u ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS avg_gain,
      |    avg(CASE WHEN delta < 0 THEN -delta ELSE 0.0 END)
      |      OVER (u ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS avg_loss,
      |    avg(value) OVER (u ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS sma20_raw,
      |    avg(value) OVER (u ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS sma50_raw,
      |    stddev_pop(value) OVER (u ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS std20,
      |    stddev_pop(ret) OVER (u ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      * sqrt(252.0) AS vol_raw,
      |    list_reduce(lvals, (acc, x) -> x*(2.0/13.0) + acc*(1.0-2.0/13.0)) AS ema12_raw,
      |    list_reduce(lvals, (acc, x) -> x*(2.0/27.0) + acc*(1.0-2.0/27.0)) AS ema26_raw
      |  FROM b
      |  WINDOW u AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), ind AS (
      |  SELECT user_id, ts, event_id, value, rn, delta,
      |    CASE WHEN rn >= 15 THEN
      |      CASE WHEN avg_loss = 0.0 THEN 100.0
      |           ELSE 100.0 - 100.0/(1.0 + avg_gain/avg_loss) END END AS rsi_raw,
      |    CASE WHEN rn >= 20 THEN sma20_raw END AS sma20,
      |    CASE WHEN rn >= 50 THEN sma50_raw END AS sma50,
      |    CASE WHEN rn >= 12 THEN ema12_raw END AS ema12,
      |    CASE WHEN rn >= 26 THEN ema26_raw END AS ema26,
      |    CASE WHEN rn >= 20 THEN sma20_raw + 2.0*std20 END AS bbu,
      |    CASE WHEN rn >= 20 THEN sma20_raw - 2.0*std20 END AS bbl,
      |    CASE WHEN rn >= 35 THEN ema12_raw - ema26_raw END AS macd_raw,
      |    CASE WHEN rn >= 35 THEN 0.0 END AS macd_hist,
      |    CASE WHEN rn >= 21 THEN vol_raw END AS vol,
      |    CASE WHEN rn >= 2 THEN delta / (value - delta) * 100.0 END AS pct
      |  FROM w
      |)""".stripMargin

  def smaSql: String = baseCte +
    """
      |SELECT user_id, ts, event_id, value,
      |  round(sma20, 4) AS sma_20, round(sma50, 4) AS sma_50
      |FROM ind ORDER BY user_id, event_id""".stripMargin

  def rsiSql: String = baseCte +
    """
      |SELECT user_id, ts, event_id, value, round(rsi_raw, 4) AS rsi_14
      |FROM ind ORDER BY user_id, event_id""".stripMargin

  def bollingerSql: String = baseCte +
    """
      |SELECT user_id, ts, event_id, value,
      |  round(bbu, 4) AS bb_upper, round(sma20, 4) AS bb_middle,
      |  round(bbl, 4) AS bb_lower
      |FROM ind ORDER BY user_id, event_id""".stripMargin

  def volatilitySql: String = baseCte +
    """
      |SELECT user_id, ts, event_id, value, round(vol, 4) AS volatility
      |FROM ind ORDER BY user_id, event_id""".stripMargin

  def priceChangeSql: String = baseCte +
    """
      |SELECT user_id, ts, event_id, value,
      |  round(pct, 6) AS price_change_percent
      |FROM ind ORDER BY user_id, event_id""".stripMargin

  def emaSql: String = baseCte +
    """
      |SELECT user_id, ts, event_id, value,
      |  round(ema12, 6) AS ema_12, round(ema26, 6) AS ema_26
      |FROM ind ORDER BY user_id, event_id""".stripMargin

  def macdSql: String = baseCte +
    """
      |SELECT user_id, ts, event_id, value,
      |  round(macd_raw, 6) AS macd, round(macd_raw, 6) AS macd_signal,
      |  macd_hist AS macd_histogram
      |FROM ind ORDER BY user_id, event_id""".stripMargin

  private def analyticsSelect: String =
    """SELECT user_id, ts, event_id, value AS current_price,
      |  round(rsi_raw, 4) AS rsi_14,
      |  round(sma20, 4) AS sma_20, round(sma50, 4) AS sma_50,
      |  round(ema12, 6) AS ema_12, round(ema26, 6) AS ema_26,
      |  round(bbu, 4) AS bb_upper, round(sma20, 4) AS bb_middle,
      |  round(bbl, 4) AS bb_lower,
      |  round(macd_raw, 6) AS macd, round(macd_raw, 6) AS macd_signal,
      |  macd_hist AS macd_histogram,
      |  round(vol, 4) AS volatility,
      |  round(pct, 6) AS price_change_percent
      |FROM ind""".stripMargin

  def analyticsFullSql: String = baseCte + "\n" + analyticsSelect +
    "\nORDER BY user_id, event_id"

  def analyticsWindowSql: String = baseCte + ", afull AS (\n" + analyticsSelect +
    """
      |)
      |SELECT afull.*, c.c_name AS symbol_name
      |FROM afull JOIN customer c ON afull.user_id = c.c_custkey
      |WHERE afull.ts >= (SELECT max(ts) FROM ticks) - INTERVAL 7 DAY
      |ORDER BY afull.ts DESC, afull.event_id DESC
      |LIMIT 1000""".stripMargin

  def filterExtremesSql: String = baseCte + ", afull AS (\n" + analyticsSelect +
    """
      |)
      |SELECT * FROM afull
      |WHERE NOT (rsi_14 IS NOT NULL AND (rsi_14 = 100.0 OR rsi_14 = 0.0))
      |  AND NOT (volatility IS NOT NULL AND volatility = 0.0)
      |ORDER BY user_id, event_id""".stripMargin

  def latestAnalyticsSql: String = baseCte + ", afull AS (\n" + analyticsSelect +
    """
      |)
      |SELECT * FROM afull
      |QUALIFY row_number() OVER (PARTITION BY user_id
      |  ORDER BY ts DESC, event_id DESC) = 1
      |ORDER BY user_id""".stripMargin

  def dailySummarySql: String = baseCte + ", afull AS (\n" + analyticsSelect +
    """
      |)
      |SELECT user_id, trade_date, c_name, c_mktsegment,
      |  avg_price, max_price, min_price, avg_rsi, avg_volatility, data_points
      |FROM (
      |  SELECT user_id, CAST(ts AS DATE) AS trade_date,
      |    round(sum(current_price), 4) / count(*) AS avg_price,
      |    round(max(current_price), 4) AS max_price,
      |    round(min(current_price), 4) AS min_price,
      |    round(sum(rsi_14), 6) / count(rsi_14) AS avg_rsi,
      |    round(sum(volatility), 6) / count(volatility) AS avg_volatility,
      |    count(*) AS data_points
      |  FROM afull
      |  GROUP BY user_id, CAST(ts AS DATE))
      |JOIN customer ON user_id = c_custkey
      |ORDER BY user_id, trade_date""".stripMargin

  def alertsSql: String = baseCte +
    """
      |SELECT user_id, ts, event_id, alert_type, indicator_value,
      |  threshold_value, severity
      |FROM (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN round(rsi_raw, 4) > 70.0 THEN 'RSI_OVERBOUGHT'
      |         ELSE 'RSI_OVERSOLD' END AS alert_type,
      |    round(rsi_raw, 4) AS indicator_value,
      |    CASE WHEN round(rsi_raw, 4) > 70.0 THEN 70.0 ELSE 30.0 END AS threshold_value,
      |    'HIGH' AS severity
      |  FROM ind
      |  WHERE rsi_raw IS NOT NULL
      |    AND (round(rsi_raw, 4) > 70.0 OR round(rsi_raw, 4) < 30.0)
      |  UNION ALL
      |  SELECT user_id, ts, event_id, 'HIGH_VOLATILITY', round(vol, 4),
      |    0.05, 'MEDIUM'
      |  FROM ind
      |  WHERE vol IS NOT NULL AND round(vol, 4) > 0.05
      |)
      |ORDER BY user_id, event_id, alert_type""".stripMargin

  def recentAlertsSql: String = baseCte +
    """
      |, al AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN round(rsi_raw, 4) > 70.0 THEN 'RSI_OVERBOUGHT'
      |         ELSE 'RSI_OVERSOLD' END AS alert_type,
      |    round(rsi_raw, 4) AS indicator_value,
      |    CASE WHEN round(rsi_raw, 4) > 70.0 THEN 70.0 ELSE 30.0 END AS threshold_value,
      |    'HIGH' AS severity
      |  FROM ind
      |  WHERE rsi_raw IS NOT NULL
      |    AND (round(rsi_raw, 4) > 70.0 OR round(rsi_raw, 4) < 30.0)
      |  UNION ALL
      |  SELECT user_id, ts, event_id, 'HIGH_VOLATILITY', round(vol, 4),
      |    0.05, 'MEDIUM'
      |  FROM ind
      |  WHERE vol IS NOT NULL AND round(vol, 4) > 0.05
      |)
      |SELECT al.user_id, al.ts, al.event_id, al.alert_type,
      |  al.indicator_value, al.threshold_value, al.severity,
      |  c.c_name AS symbol_name
      |FROM al JOIN customer c ON al.user_id = c.c_custkey
      |ORDER BY al.ts DESC, al.event_id DESC, al.alert_type
      |LIMIT 50""".stripMargin
}
