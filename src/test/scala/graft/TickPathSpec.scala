package graft

import graft.operators.Indicators
import graft.sources.Sinks
import graft.streaming.TickStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference consumer's tick path end to end, at unit scale:
  * producer-shaped JSON lines → `parseTicks` → wire→events mapping →
  * `statefulIndicators` into the exactly-once parquet sink and
  * `alertsStream` into the Derby sink, checked the way the benchmark
  * checks its `ticks_live` run.
  */
class TickPathSpec extends SparkSuite {
  import spark.implicits._

  private val BaseEpochS = 1704187800L // 2024-01-02T09:30:00Z

  /** Wire → events: `company_id` → `user_id`, `trade_datetime` → `ts`,
    * `current_price` → `value`, `event_id` = the trade time in micros
    * (one tick per symbol per trade time, so (user_id, event_id) is
    * unique).
    */
  private def eventsOf(parsed: DataFrame): DataFrame = parsed.select(
    col("company_id").cast("long").as("user_id"),
    unix_micros(col("trade_datetime")).as("event_id"),
    col("trade_datetime").as("ts"),
    col("current_price").as("value"))

  /** Four symbols, one tick each per minute: calm, drifting up,
    * drifting down and volatile, so every alert type fires. Returns
    * the JSON lines of each cycle and the valid ticks
    * (user_id, epoch seconds, price).
    */
  private def producer(cycles: Int): (Seq[Seq[String]], Seq[(Long, Long, Double)]) = {
    val rnd = new scala.util.Random(7)
    val drift = Seq(0.0, 0.004, -0.004, 0.0)
    val sigma = Seq(4e-4, 1e-3, 1e-3, 2.5e-2)
    val price = Array(50.0, 80.0, 120.0, 30.0)
    val valid = Seq.newBuilder[(Long, Long, Double)]
    val lines = (0 until cycles).map { c =>
      val t = BaseEpochS + 60L * c
      val iso = java.time.Instant.ofEpochSecond(t).toString
      price.indices.map { k =>
        price(k) = price(k) * math.exp(drift(k) + sigma(k) * rnd.nextGaussian())
        val p = BigDecimal(price(k)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        // one reject of each kind on symbol 1, spread over the run
        val (wirePrice, volume) = (k, c) match {
          case (0, 10) => ("null", 100L)
          case (0, 20) => ((-p).toString, 100L)
          case (0, 30) => ("NaN", 100L)
          case (0, 35) => (p.toString, -100L)
          case _ => (p.toString, 100L)
        }
        val line = s"""{"company_id":"${k + 1}","ticker_symbol":"S$k",""" +
          s""""timestamp":"$iso","trade_datetime":"$iso",""" +
          s""""current_price":$wirePrice,"volume":$volume}"""
        if (k == 0 && c == 5) line.take(line.length / 2) // malformed
        else {
          if (wirePrice == p.toString && volume >= 0) valid += ((k + 1L, t, p))
          line
        }
      }
    }
    (lines, valid.result())
  }

  test("JSON ticks land in parquet and Derby as the batch path computes them") {
    val dir = java.nio.file.Files.createTempDirectory("tick_path").toString
    val (cycles, valid) = producer(40)
    // two files, the second strictly newer: two microbatches, so the
    // indicator state and both sinks carry across a trigger
    val src = new java.io.File(s"$dir/src")
    src.mkdirs()
    Seq(cycles.take(25), cycles.drop(25)).zipWithIndex.foreach { case (cs, i) =>
      val f = new java.io.File(src, s"ticks-$i.json")
      java.nio.file.Files.write(f.toPath, cs.flatten.mkString("\n").getBytes("UTF-8"))
      assert(f.setLastModified(1700000000000L + i * 60000L))
    }
    def source() = eventsOf(TickStream.parseTicks(
      spark.readStream.option("maxFilesPerTrigger", "1").text(src.getPath)))
    val url = s"jdbc:derby:$dir/derby;create=true"
    val qa = Sinks.streamUpsertExactlyOnce(
      TickStream.statefulIndicators(spark, source()).toDF(),
      s"$dir/analytics", s"$dir/ckpt_analytics", Seq("user_id", "event_id"), "ts")
    try qa.processAllAvailable() finally qa.stop()
    val qj = Sinks.streamUpsertJdbc(TickStream.alertsStream(spark, source()),
      url, "ALERTS", s"$dir/ckpt_alerts", Seq("user_id", "event_id", "alert_type"), "ts")
    try qj.processAllAvailable() finally qj.stop()

    // the analytics table holds each valid tick exactly once
    val expected = valid.map { case (u, t, _) => (u, t * 1000000L) }.toDF("user_id", "event_id")
    val landed = spark.read.parquet(s"$dir/analytics").select("user_id", "event_id")
    assert(landed.count() == valid.size)
    assert(landed.exceptAll(expected).isEmpty && expected.exceptAll(landed).isEmpty)

    // the alerts the batch operator derives from the same valid ticks
    valid.map { case (u, t, p) =>
      (t * 1000000L, new java.sql.Timestamp(t * 1000L), u, "quote", p, null: String)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events/events.parquet")
    val cols = Seq("user_id", "ts", "event_id", "alert_type", "indicator_value",
      "threshold_value", "severity").map(col)
    val batch = Indicators.alerts(spark, s"$dir/events").select(cols: _*)
    val sink = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "ALERTS").load().select(cols: _*)
    assert(sink.select("alert_type").distinct().as[String].collect().toSet ==
      Set("RSI_OVERBOUGHT", "RSI_OVERSOLD", "HIGH_VOLATILITY"))
    assert(sink.count() == batch.count())
    assert(sink.exceptAll(batch).isEmpty, "alerts only in Derby")
    assert(batch.exceptAll(sink).isEmpty, "alerts only in the batch")
  }
}
