package graft

import graft.operators.{PerfLedger, Warehouse}
import graft.streaming.TickStream
import org.apache.spark.sql.functions._

class PerfLedgerSpec extends SparkSuite {

  test("timed wrapper accounts rows, wall time, and swallowed errors") {
    val ok = PerfLedger.timed("probe")(42L)
    assert(ok.component_name == "probe" && ok.rows_processed == 42L
      && ok.errors_count == 0L && ok.processing_time_ms >= 0.0)
    // monitoring must never break the main flow: a throwing body
    // becomes an error ROW, not an exception
    val err = PerfLedger.timed("boom")(throw new RuntimeException("x"))
    assert(err.errors_count == 1L && err.rows_processed == 0L)
  }

  test("perfRollup accounts the instrumented legs against the corpus") {
    val roll = PerfLedger.perfRollup(spark, sfDir).collect()
      .map(r => r.getAs[String]("component_name") -> r).toMap
    assert(roll.keySet == Set("validate_ticks", "daily_ohlc", "alerts"))
    roll.values.foreach { r =>
      assert(r.getAs[Long]("n_batches") == 1L)
      assert(r.getAs[Long]("total_errors") == 0L)
      assert(r.getAs[Double]("mean_ms") > 0.0)
      assert(r.getAs[Double]("rows_per_sec") > 0.0)
    }
    // messages_processed must be the REAL row masses, not placeholders
    assert(roll("validate_ticks").getAs[Long]("total_rows") ==
      Warehouse.validateTicks(spark, sfDir).count())
    assert(roll("daily_ohlc").getAs[Long]("total_rows") ==
      Warehouse.dailyOhlc(spark, sfDir).count())
  }

  test("rollup aggregates multi-batch ledgers per component") {
    val recs = Seq(
      PerfLedger.PerfRec("c1", 1000L, 10.0, 100L, 0L),
      PerfLedger.PerfRec("c1", 2000L, 30.0, 300L, 1L),
      PerfLedger.PerfRec("c2", 1500L, 5.0, 50L, 0L))
    val roll = PerfLedger.rollup(PerfLedger.ledgerOf(spark, recs))
      .collect().map(r => r.getAs[String]("component_name") -> r).toMap
    val c1 = roll("c1")
    assert(c1.getAs[Long]("n_batches") == 2L)
    assert(c1.getAs[Long]("total_rows") == 400L)
    assert(c1.getAs[Long]("total_errors") == 1L)
    assert(c1.getAs[Double]("mean_ms") == 20.0)
    assert(c1.getAs[Double]("max_ms") == 30.0)
    assert(c1.getAs[Double]("rows_per_sec") == 10000.0) // 400 / 0.04 s
    assert(roll("c2").getAs[Long]("n_batches") == 1L)
  }

  test("ledger persistence is an idempotent crash-safe upsert") {
    val path = java.nio.file.Files.createTempDirectory("perfled").toString + "/ledger"
    val batch1 = Seq(
      PerfLedger.PerfRec("c1", 1000L, 10.0, 100L, 0L),
      PerfLedger.PerfRec("c2", 1000L, 5.0, 50L, 0L))
    PerfLedger.appendLedger(spark, batch1, path)
    // a RETRIED flush of the same records must not double-count
    PerfLedger.appendLedger(spark, batch1, path)
    assert(PerfLedger.readLedger(spark, path).count() == 2)
    // later batches accumulate
    PerfLedger.appendLedger(spark,
      Seq(PerfLedger.PerfRec("c1", 2000L, 20.0, 200L, 0L)), path)
    val led = PerfLedger.readLedger(spark, path)
    assert(led.count() == 3)
    val roll = PerfLedger.rollup(led).collect()
      .map(r => r.getAs[String]("component_name") -> r).toMap
    assert(roll("c1").getAs[Long]("n_batches") == 2L)
    assert(roll("c1").getAs[Long]("total_rows") == 300L)
    // a retried flush stopped once its merge is revealed: the rewritten
    // file and the file it replaces are both visible, and the ledger
    // read still counts each record once
    graft.sources.Sinks.stopAt = s =>
      if (s == "revealed") throw new IllegalStateException("stopped")
    try intercept[IllegalStateException](PerfLedger.appendLedger(spark, batch1, path))
    finally graft.sources.Sinks.stopAt = _ => ()
    assert(spark.read.parquet(path).count() > 3, "the stop left no overlap to read")
    assert(PerfLedger.readLedger(spark, path).count() == 3)
  }

  test("a failed stream query books its error row under its own name") {
    import spark.implicits._
    val listener = new PerfLedger.BatchPerfListener
    spark.streams.addListener(listener)
    try {
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Int](implicitly[org.apache.spark.sql.Encoder[Int]], spark.sqlContext)
      val q = mem.toDF().writeStream.queryName("perf_boom")
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          throw new RuntimeException("boom")
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ckpt_boom").toString)
        .start()
      mem.addData(1, 2, 3)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
      q.stop()
      // the terminated event delivers asynchronously — poll for it
      val deadline = System.currentTimeMillis() + 30000
      while (!listener.records.exists(_.errors_count > 0)
          && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val roll = PerfLedger.rollup(PerfLedger.ledgerOf(spark, listener.records))
        .collect().map(r => r.getAs[String]("component_name") -> r).toMap
      assert(roll.get("perf_boom").exists(_.getAs[Long]("total_errors") == 1L)
        && !roll.contains("stream"), s"rollup rows: ${roll.values}")
    } finally spark.streams.removeListener(listener)
  }

  test("streaming listener ledgers every microbatch for free") {
    val listener = new PerfLedger.BatchPerfListener
    spark.streams.addListener(listener)
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("ckpt_perf").toString
      val q = TickStream.windowedAgg(TickStream.eventsStream(spark, sfDir))
        .writeStream.outputMode("complete")
        .format("memory").queryName("perf_probe")
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      q.stop()
      // progress events deliver asynchronously — poll until drained
      val deadline = System.currentTimeMillis() + 30000
      while (listener.records.count(_.rows_processed > 0) == 0
          && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val recs = listener.records
      assert(recs.nonEmpty, "no progress events captured")
      // input accounting: captured rows sum to the staged corpus
      assert(recs.map(_.rows_processed).sum ==
        Tables.events(spark, sfDir).count(),
        s"microbatch rows must sum to the corpus: $recs")
      assert(recs.forall(_.errors_count == 0L))
      assert(recs.filter(_.rows_processed > 0)
        .forall(_.component_name == "perf_probe"))
      // and the same rollup view serves the streaming ledger
      val roll = PerfLedger.rollup(PerfLedger.ledgerOf(spark, recs))
        .filter(col("component_name") === "perf_probe").collect()
      assert(roll.length == 1 &&
        roll.head.getAs[Long]("total_rows") ==
          Tables.events(spark, sfDir).count())
    } finally spark.streams.removeListener(listener)
  }
}
