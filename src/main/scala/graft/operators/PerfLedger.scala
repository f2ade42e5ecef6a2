package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Component-performance LEDGER — the reference's ops-metrics leg
  * (db/enhanced_schema.sql:224-235 `analytics_performance`, written by
  * analytics/analytics_consumer.py:194-216 `_log_performance`: one row
  * per processing batch with component_name, timestamp,
  * processing_time_ms, messages_processed, errors_count; the sibling
  * `performance_metrics` table, current_schema.sql:121-129, is the
  * same facts keyed (component, metric_type)). Spark-first the two
  * write paths are:
  *
  *   - BATCH: [[timed]] wraps any driver-side action in the exact
  *     wall-clock + row-count + error-count accounting the reference
  *     loop keeps, producing one [[PerfRec]];
  *   - STREAMING: [[BatchPerfListener]] — a
  *     `StreamingQueryListener` whose per-microbatch
  *     `QueryProgressEvent` IS the reference's per-batch log call
  *     (numInputRows = messages_processed, triggerExecution duration =
  *     processing_time_ms), so the ledger costs the pipeline nothing:
  *     Spark already measures every microbatch.
  *
  * Rows land in an events-shaped DataFrame ([[ledgerOf]]) that
  * persists through the same crash-safe parquet upsert the tick
  * ledgers use ([[graft.sources.Sinks.upsertParquet]] keyed
  * (component_name, ts_ms)); [[rollup]] is the monitoring view a
  * dashboard reads (per component: batches, rows, errors, latency
  * mean/max, throughput).
  *
  * Scale shape: the ledger is ops-metadata — one row per
  * (component, batch), i.e. ~log-of-corpus volume; the rollup is a
  * single tiny aggregate. Timing VALUES are runtime-dependent, so the
  * registered query is rows-only by design; the spec pins the
  * structural facts (row accounting, error counting, reconciliation
  * with the corpus masses).
  */
object PerfLedger {

  /** One ledger row — the analytics_performance record. */
  final case class PerfRec(component_name: String, ts_ms: Long,
      processing_time_ms: Double, rows_processed: Long, errors_count: Long)

  /** Wall-clock instrumentation of one driver-side action: `body`
    * returns the processed-row count; a throw records an error row
    * with zero rows (the reference's errors_count accounting) instead
    * of propagating — monitoring must never break the main flow
    * (analytics_consumer.py:214 keeps the same contract).
    */
  def timed(component: String)(body: => Long): PerfRec = {
    val t0 = System.nanoTime()
    val (rows, errs) =
      try (body, 0L)
      catch { case scala.util.control.NonFatal(_) => (0L, 1L) }
    PerfRec(component, System.currentTimeMillis(),
      (System.nanoTime() - t0) / 1e6, rows, errs)
  }

  def ledgerOf(spark: SparkSession, recs: Seq[PerfRec]): DataFrame = {
    import spark.implicits._
    recs.toDF()
  }

  /** Per-microbatch progress capture: every `QueryProgressEvent`
    * becomes one ledger row (component = query name, rows =
    * numInputRows, processing_time_ms = the triggerExecution span);
    * a query that terminates WITH an exception contributes one error
    * row under its own name, mirroring the reference's per-component
    * errors_count (the terminated event carries only the query id, so
    * names are remembered from each query's start). Drain with
    * [[BatchPerfListener.records]] after `processAllAvailable` +
    * `stop` (events deliver asynchronously — poll, the spec shows
    * the pattern).
    */
  final class BatchPerfListener extends StreamingQueryListener {
    private val buf =
      new java.util.concurrent.ConcurrentLinkedQueue[PerfRec]()
    private val names =
      new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()

    def records: Seq[PerfRec] = {
      val it = buf.iterator()
      val out = Seq.newBuilder[PerfRec]
      while (it.hasNext) out += it.next()
      out.result()
    }

    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit =
      Option(e.name).foreach(names.put(e.id, _))

    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue.toDouble).getOrElse(0.0)
      buf.add(PerfRec(Option(p.name).getOrElse("stream"),
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        ms, p.numInputRows, 0L)): Unit
    }

    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      val name = Option(names.remove(e.id)).getOrElse("stream")
      e.exception.foreach { _ =>
        buf.add(PerfRec(name, System.currentTimeMillis(),
          0.0, 0L, 1L)): Unit
      }
    }
  }

  /** Durable ledger append: merge new records into the standing
    * parquet ledger through the crash-safe parquet upsert, which
    * appends records whose `ts_ms` lie past the ledger's and merges
    * any others (idempotent on (component_name, ts_ms) — a retried
    * flush cannot double-count a batch, the same exactly-once
    * discipline the tick sinks keep).
    */
  def appendLedger(spark: SparkSession, recs: Seq[PerfRec],
      path: String): Unit =
    graft.sources.Sinks.upsertParquet(ledgerOf(spark, recs), path,
      keyCols = Seq("component_name", "ts_ms"), versionCol = "ts_ms")

  /** The ledger as one snapshot of its log (see
    * [[graft.sources.Sinks.readTable]]): a plain parquet read during a
    * merging [[appendLedger]] can see a rewritten file next to the file
    * it replaces and count a record twice. */
  def readLedger(spark: SparkSession, path: String): DataFrame =
    graft.sources.Sinks.readTable(spark, path)

  /** The monitoring view over a ledger — per component: batch count,
    * row/error masses, latency mean/max, and throughput (rows per
    * wall-second). One tiny aggregate over ops-metadata.
    */
  def rollup(ledger: DataFrame): DataFrame =
    ledger
      .groupBy("component_name")
      .agg(count(lit(1)).as("n_batches"),
        sum("rows_processed").as("total_rows"),
        sum("errors_count").as("total_errors"),
        round(avg("processing_time_ms"), 3).as("mean_ms"),
        round(max("processing_time_ms"), 3).as("max_ms"),
        round(sum("processing_time_ms"), 3).as("total_ms"))
      .withColumn("rows_per_sec",
        when(col("total_ms") > 0,
          round(col("total_rows") / (col("total_ms") / 1000.0), 1)))

  /** Registered surface: instrument three real pipeline legs (the
    * validation gate, the daily OHLC rollup, the alert scan) exactly
    * as the reference consumer instruments its loop, then serve the
    * monitoring rollup. Timing values are runtime-dependent → rows-
    * only by design; the spec pins the accounting.
    */
  def perfRollup(spark: SparkSession, dir: String): DataFrame = {
    val recs = Seq(
      timed("validate_ticks")(Warehouse.validateTicks(spark, dir).count()),
      timed("daily_ohlc")(Warehouse.dailyOhlc(spark, dir).count()),
      timed("alerts")(Indicators.alerts(spark, dir).count()))
    rollup(ledgerOf(spark, recs))
  }

  /** PERF-ROLLUP GATE (round-12 partial-oracle tier): the
    * row-ACCOUNTING half of [[perfRollup]], hash-graded. Wall-clock
    * columns are inherently run-dependent — projected OUT here — but
    * the batch counts, processed-row masses and error counts are
    * deterministic at a given SF, and the oracle recomputes each
    * leg's row mass from that leg's own SQL oracle — so an
    * instrumentation regression (a dropped leg, a miscounted batch,
    * an error swallowed into the wrong column) breaks the driver
    * hash instead of waiting for the spec.
    */
  def perfRollupGate(spark: SparkSession, dir: String): DataFrame =
    perfRollup(spark, dir)
      .select("component_name", "n_batches", "total_rows", "total_errors")

  def perfRollupGateSql: String =
    s"""SELECT 'alerts' AS component_name, 1::BIGINT AS n_batches,
       |  (SELECT count(*) FROM (${Indicators.alertsSql})) AS total_rows,
       |  0::BIGINT AS total_errors
       |UNION ALL
       |SELECT 'daily_ohlc', 1::BIGINT,
       |  (SELECT count(*) FROM (${Warehouse.dailyOhlcSql})), 0::BIGINT
       |UNION ALL
       |SELECT 'validate_ticks', 1::BIGINT,
       |  (SELECT count(*) FROM (${Warehouse.validateTicksSql})), 0::BIGINT
       |ORDER BY component_name""".stripMargin
}
