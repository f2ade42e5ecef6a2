package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** The job counter's reads are exact, and every `Probe` subcommand
  * runs on the shared session without changing its shuffle width. */
class ProbeSpec extends SparkSuite {

  private def partitions: String = spark.conf.get("spark.sql.shuffle.partitions")

  test("job counter: a read straight after an action holds exactly its jobs and tasks") {
    // a slow listener ahead of the counter on the same bus queue keeps
    // task-end events queued after the action returns, as a loaded bus does
    val slow = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Thread.sleep(5)
    }
    spark.sparkContext.addSparkListener(slow)
    val counter = JobCounter.attach(spark)
    try {
      for (i <- 1 to 20) {
        val c0 = counter.read()
        spark.range(0, 10000, 1, 7).write.format("noop").mode("overwrite").save()
        val d = counter.read() - c0
        assert((d.jobs, d.stages, d.tasks) == ((1L, 1L, 7L)), s"run $i: $d")
      }
    } finally {
      counter.detach()
      spark.sparkContext.removeSparkListener(slow)
    }
  }

  test("Probe jobs reports the structure of a query's run") {
    val before = partitions
    val rows = Probe.jobs(spark, sfDir, Seq("q1_agg"), runs = 1)
    assert(rows.map(_.query) == Seq("q1_agg"))
    val c = rows.head.counts
    assert(c.jobs >= 1 && c.stages >= 1 && c.tasks >= 1 && rows.head.wallS > 0, c)
    assert(partitions == before)
  }

  test("Probe cold splits a query's first run") {
    val before = partitions
    val r = Probe.cold(spark, sfDir, "q1_agg")
    assert(r.constructS >= 0 && r.firstExecS > 0 && r.warmS > 0, r)
    assert(partitions == before)
  }

  test("Probe plans writes one formatted plan per named query") {
    val before = partitions
    val out = Files.createTempDirectory("probe_plans")
    val written = Probe.plans(spark, sfDir, out.toString, Seq("q1_agg", "q3_join"))
    assert(written == Seq("q1_agg", "q3_join").map(n => out.resolve(s"$n.txt").toString))
    written.foreach { p =>
      assert(Files.readString(Paths.get(p)).contains("== Physical Plan =="), p)
    }
    Probe.deleteRecursively(out.toString)
    assert(partitions == before)
  }

  test("Probe stream rates one leg and restores the shuffle width") {
    val before = partitions
    val rates = Probe.stream(spark, sfDir, Seq("windowed_agg"))
    assert(rates.map(_._1) == Seq("windowed_agg"))
    assert(rates.head._2 > 0)
    assert(partitions == before)
  }
}
