package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators.Indicators
import graft.sources.Sinks
import graft.streaming.TickStream

/** One benchmark workload, driven through the engine's public
  * functions only. */
trait Workload {
  def warmUp(spark: SparkSession): Unit
  def run(spark: SparkSession, rec: Recorder, out: Main.Out): Unit
  def check(spark: SparkSession, out: Main.Out): Unit
  /** Stops every stream query this workload started; safe to call
    * on every path, more than once. */
  def stopAll(out: Main.Out): Unit = ()
}

/** Wire → events shape, the benchmark's own adapter (the engine has
  * no tick pipeline yet): `company_id` → `user_id` (cast to long),
  * `trade_datetime` → `ts`, `current_price` → `value`, and
  * `event_id = unix_micros(trade_datetime)` — one tick per symbol per
  * trade time, so the pair (user_id, event_id) is unique. */
object Adapter {
  def apply(parsed: DataFrame): DataFrame = parsed.select(
    col("company_id").cast("long").as("user_id"),
    unix_micros(col("trade_datetime")).as("event_id"),
    col("trade_datetime").as("ts"),
    col("current_price").as("value"))

  def ticks(raw: DataFrame): DataFrame = apply(TickStream.parseTicks(raw))
}

/** The producer's polling loop as an open loop: two queries on the
  * default trigger over a directory an external generator publishes
  * into — analytics → parquet, alertsStream → Derby. Both first drain
  * the staged history (one cold batch each) before the generator
  * starts, so every live tick meets full indicator state. */
final class TicksLive(p: Main.Params) extends Workload {
  private val runDir: String = p("run_dir")
  private val stage: String = p("stage_dir")
  private val table: String = s"$runDir/analytics"
  private val queries = mutable.ArrayBuffer.empty[StreamingQuery]
  private val AnalyticsKeys = Seq("user_id", "event_id")
  private val url = s"jdbc:derby:$runDir/derby;create=true"
  private val AlertKeys = Seq("user_id", "event_id", "alert_type")

  /** The batch parse → indicators leg over a separate staged tick set,
    * and the Derby boot. */
  def warmUp(spark: SparkSession): Unit = {
    TickStream.statefulIndicators(spark, Adapter.ticks(spark.read.text(p("warm_dir"))))
      .toDF().write.format("noop").mode("overwrite").save()
    java.sql.DriverManager.getConnection(url).close()
  }

  private def source(spark: SparkSession): DataFrame = spark.readStream.text(stage)

  override def stopAll(out: Main.Out): Unit =
    queries.foreach { q =>
      try if (q.isActive) q.stop()
      catch { case e: Throwable => out.error(s"stop ${q.id}", e) }
    }

  /** The valid generated ticks (written by run.py from the generator)
    * as an events-shaped frame. */
  private def validTicks(spark: SparkSession): DataFrame =
    spark.read.schema("user_id LONG, event_id LONG, ts_s LONG, value DOUBLE")
      .csv(p("valid_csv"))
      .select(col("event_id"), timestamp_seconds(col("ts_s")).as("ts"),
        col("user_id"), lit("quote").as("event_type"), col("value"),
        lit(null).cast(StringType).as("props"))

  def run(spark: SparkSession, rec: Recorder, out: Main.Out): Unit = {
    // the staged history is the cold first batch of each query; the
    // queries take it one after the other, so neither cold batch
    // competes with the other for cores
    val (analytics, _) = rec.window("analytics", "construct", 0) {
      TickStream.statefulIndicators(spark, Adapter.ticks(source(spark))).toDF()
    }
    val qa = Sinks.streamUpsertExactlyOnce(analytics, table, s"$runDir/ckpt_analytics",
      AnalyticsKeys, "ts")
    queries += qa
    qa.processAllAvailable()
    val (alerts, _) = rec.window("alerts", "construct", 0) {
      TickStream.alertsStream(spark, Adapter.ticks(source(spark)))
    }
    val qj = Sinks.streamUpsertJdbc(alerts, url, "ALERTS", s"$runDir/ckpt_alerts",
      AlertKeys, "ts")
    queries += qj
    qj.processAllAvailable()
    out("query_ids") = Map("analytics" -> qa.id.toString, "alerts" -> qj.id.toString)
    rec.window("live", "execute", 1)(live(qa, qj))
    stopAll(out)
  }

  /** Starts the generator through run.py, waits for it to finish and
    * for both queries to commit everything it published. */
  private def live(qa: StreamingQuery, qj: StreamingQuery): Unit = {
    val ready = new File(s"$runDir/ready")
    java.nio.file.Files.write(new File(ready.getPath + ".tmp").toPath,
      System.currentTimeMillis().toString.getBytes("UTF-8"))
    new File(ready.getPath + ".tmp").renameTo(ready)
    val done = new File(s"$runDir/gen_done")
    val deadline = System.currentTimeMillis() + p.int("gen_timeout_s") * 1000L
    while (!done.exists() && System.currentTimeMillis() < deadline) {
      queries.foreach(q => q.exception.foreach(e => throw e))
      Thread.sleep(20)
    }
    if (!done.exists()) sys.error("generator did not finish in time")
    qa.processAllAvailable()
    qj.processAllAvailable()
  }

  def check(spark: SparkSession, out: Main.Out): Unit = {
    // analytics table keys vs the valid ticks: each exactly once
    val exp = validTicks(spark).select(AnalyticsKeys.map(col): _*)
    val got = spark.read.parquet(table).select(AnalyticsKeys.map(col): _*)
    out("analytics_check") = Map(
      "expected" -> exp.count(), "rows" -> got.count(),
      "missing" -> exp.exceptAll(got).count(), "extra" -> got.exceptAll(exp).count())
    out("parquet_table_bytes") = Option(new File(table).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    // the alerts the batch operator derives from the same valid ticks
    val eventsDir = s"$runDir/check"
    validTicks(spark).write.parquet(s"$eventsDir/events.parquet")
    val cols = Seq("user_id", "ts", "event_id", "alert_type", "indicator_value",
      "threshold_value", "severity").map(col)
    val batch = Indicators.alerts(spark, eventsDir).select(cols: _*)
    val sink = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "ALERTS").load().select(cols: _*)
    out("alerts_check") = Map(
      "batch" -> batch.count(), "sink" -> sink.count(),
      "missing" -> batch.exceptAll(sink).count(), "extra" -> sink.exceptAll(batch).count())
    out("alert_types") = sink.groupBy("alert_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // alert rows per tick, for per-batch target-table growth in run.py
    out("alert_rows") = sink.groupBy("user_id", "event_id").count().collect()
      .map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
  }
}

/** One client in a closed loop over the batch query tier: one cold
  * pass, then a fixed number of warm passes, so every run computes the
  * same statistic. Every timed pass writes through the noop sink; the
  * seed fixes the query order of each pass. The output check runs
  * after the timed passes, untimed, over the last pass's frames. */
final class QuerySuite(p: Main.Params) extends Workload {
  private val dir = p("data_dir")
  private val names = p("queries").split(",").toSeq
  private val last = mutable.Map.empty[String, DataFrame]

  def warmUp(spark: SparkSession): Unit = {
    spark.range(100000L).selectExpr("sum(id % 7) AS s").collect(): Unit
    spark.read.parquet(s"$dir/region.parquet").collect(): Unit
  }

  def run(spark: SparkSession, rec: Recorder, out: Main.Out): Unit = {
    val rnd = new scala.util.Random(p("seed").toLong)
    val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
    out("suite_runs") = runs
    def pass(i: Int): Unit = rnd.shuffle(names).foreach { q =>
      try {
        val (df, cMs) = rec.window(q, "construct", i)(SparkEntry.queries(q)(spark, dir))
        val (_, eMs) = rec.window(q, "execute", i) {
          df.write.format("noop").mode("overwrite").save()
        }
        last(q) = df
        runs += Map("query" -> q, "pass" -> i, "ok" -> true,
          "construct_ms" -> cMs, "execute_ms" -> eMs)
      } catch { case e: Throwable =>
        out.error(s"$q pass $i", e)
        runs += Map("query" -> q, "pass" -> i, "ok" -> false)
      }
    }
    (0 to p.int("warm_passes")).foreach(pass)
  }

  /** Each query's row count and canonical hash, compared by run.py
    * with the stored expected values. */
  def check(spark: SparkSession, out: Main.Out): Unit =
    out("suite_check") = names.map { q =>
      q -> (try canonical(last.getOrElse(q, SparkEntry.queries(q)(spark, dir)))
            catch { case e: Throwable =>
              out.error(s"$q check", e)
              Map("error" -> e.toString)
            })
    }.toMap

  /** Row count and an order-independent hash of an output: each row
    * renders its columns (sorted by name; doubles as %.9e) into one
    * string, and the xxhash64 values are summed exactly as decimals. */
  private def canonical(df: DataFrame): Map[String, Any] = {
    val cells = df.schema.fields.sortBy(_.name).toSeq.map { f =>
      val c = col(s"`${f.name}`")
      val s = f.dataType match {
        case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
        case _: ArrayType | _: MapType | _: StructType => to_json(c)
        case _ => c.cast(StringType)
      }
      coalesce(s, lit("\u0000"))
    }
    val r = df.select(xxhash64(concat_ws("\u0001", cells: _*)).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))).cast(StringType))
      .head()
    Map("rows" -> r.getLong(0), "hash" -> Option(r.getString(1)).getOrElse("0"))
  }
}
