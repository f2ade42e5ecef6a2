package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.ntile
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType
import graft.streaming.TickStream

/** The measurement tools, one subcommand each. Every subcommand is a
  * function of a session, so specs can run it; `main` only parses the
  * arguments and builds the session.
  *
  * Usage: `sbt "runMain graft.Probe <subcommand> args…"`, reading the
  * data from SPARK_GRAFT_SF_DIR, on a SPARK_GRAFT_CPUS-wide session:
  *  - `jobs [query…]`: per query, the warm wall time (min of 3 runs)
  *    and that run's jobs, stages, tasks and executor task seconds;
  *    Bench's headline queries by default.
  *  - `cold <query>`: construction, first execution and a warm rerun
  *    of one query, with the codegen compile time of the first run.
  *  - `plans <dir> <query…>`: each query's formatted plan, written to
  *    `<dir>/<query>.txt`.
  *  - `plans <file>`: every registry query's plan, in one markdown
  *    file (PLANS.md).
  *  - `stream [leg…]`: rows/s of each streaming leg (all five by
  *    default) and each microbatch's duration and state breakdown,
  *    in the shape Bench's streaming group runs.
  */
object Probe {
  private val Usage = "usage: Probe jobs [query...] | cold <query> | " +
    "plans <dir> <query...> | plans <file> | stream [leg...]"

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException("SPARK_GRAFT_SF_DIR must name a data directory"))
    val run: SparkSession => Unit = args.toList match {
      case "jobs" :: names =>
        jobs(_, dir, if (names.isEmpty) Bench.headline else names)
      case "cold" :: name :: Nil => cold(_, dir, name)
      case "plans" :: out :: names => plans(_, dir, out, names)
      case "stream" :: legs => stream(_, dir, legs)
      case _ => throw new IllegalArgumentException(Usage)
    }
    val spark = Session.local(Session.cpus)
    try run(spark) finally spark.stop()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  final case class JobsRow(query: String, wallS: Double, counts: JobCounts)

  /** Warm structure of each query: the min-of-`runs` wall time and the
    * jobs / stages / tasks / task time of that run. A failed query is
    * reported and skipped. */
  def jobs(spark: SparkSession, dir: String, names: Seq[String],
      runs: Int = 3): Seq[JobsRow] = {
    val counter = JobCounter.attach(spark)
    try {
      try noop(SparkEntry.queries("q1_agg")(spark, dir))
      catch { case e: Throwable => System.err.println(s"[probe] warmup: $e") }
      println(f"${"query"}%-24s ${"wall_s"}%8s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"task_s"}%8s")
      names.flatMap { n =>
        try {
          var best = JobsRow(n, Double.MaxValue, JobCounts(0, 0, 0, 0))
          for (_ <- 1 to runs) {
            val c0 = counter.read()
            val t0 = System.nanoTime()
            noop(SparkEntry.queries(n)(spark, dir))
            val secs = (System.nanoTime() - t0) / 1e9
            val d = counter.read() - c0
            if (secs < best.wallS) best = JobsRow(n, secs, d)
          }
          val c = best.counts
          println(f"$n%-24s ${best.wallS}%8.3f ${c.jobs}%5d ${c.stages}%6d ${c.tasks}%6d ${c.taskMs / 1e3}%8.2f")
          Some(best)
        } catch { case e: Throwable =>
          println(s"$n FAILED: $e")
          None
        }
      }
    } finally counter.detach()
  }

  final case class ColdRow(query: String, constructS: Double,
      firstExecS: Double, warmS: Double, codegenS: Double, codegenClasses: Long)

  /** One query's first run split into construction (plan build plus
    * any construction-time jobs) and first execution, a warm rerun,
    * and the codegen compile time the first run paid. Meaningful in a
    * fresh JVM: run it once per query. */
  def cold(spark: SparkSession, dir: String, name: String): ColdRow = {
    // absorb scheduler bring-up so the cold number is the query's own
    noop(spark.range(1000).selectExpr("sum(id)"))
    def codegen: (Long, Long) = {
      val t = CodegenMetrics.METRIC_COMPILATION_TIME
      (t.getSnapshot.getValues.sum, t.getCount)
    }
    val fn = SparkEntry.queries(name)
    val (cg0, n0) = codegen
    val t0 = System.nanoTime()
    val df = fn(spark, dir)
    val t1 = System.nanoTime()
    noop(df)
    val t2 = System.nanoTime()
    val (cg1, n1) = codegen
    noop(fn(spark, dir))
    val t3 = System.nanoTime()
    val r = ColdRow(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
      (cg1 - cg0) / 1e3, n1 - n0)
    println(f"[probe] cold $name construct=${r.constructS}%.3f s " +
      f"firstExec=${r.firstExecS}%.3f s warm=${r.warmS}%.3f s " +
      f"codegenCompile=${r.codegenS}%.3f s over ${r.codegenClasses} classes")
    r
  }

  private val PlansHeader =
    """# PLANS — formatted physical plans of representative queries
      |
      |Regenerate: `SPARK_GRAFT_SF_DIR=<sf0.001 data dir> sbt "runMain graft.Probe plans PLANS.md"` (writes this file).
      |Evidence the scale properties hold: pushed filters + pruned
      |schemas at the scans, broadcast dimension joins, a single hash
      |exchange feeding all indicator windows and the EmaAppend
      |recurrence, bucket-key-only shuffles in the LSH dedup, q_ema
      |through the O(n) EmaAppend node (no expanding collect_list),
      |and the ANN-LSH probe lookup as a BroadcastHashJoin on the
      |bucket code (no nested-loop scan).
      |""".stripMargin

  /** Formatted plans: the named queries into `<out>/<query>.txt`, or,
    * with no names, every registry query sorted by name into the one
    * markdown file `out` (each plan cut at 6000 chars). Returns the
    * files written. */
  def plans(spark: SparkSession, dir: String, out: String,
      names: Seq[String]): Seq[String] = {
    def plan(n: String): String =
      SparkEntry.queries(n)(spark, dir).queryExecution.explainString(FormattedMode)
    if (names.nonEmpty) {
      Files.createDirectories(Paths.get(out))
      names.flatMap { n =>
        try {
          val path = Paths.get(out, s"$n.txt")
          Files.writeString(path, plan(n))
          println(s"[probe] wrote $path")
          Some(path.toString)
        } catch { case e: Throwable =>
          System.err.println(s"[probe] plan of $n failed: $e")
          None
        }
      }
    } else {
      val sb = new StringBuilder(PlansHeader)
      SparkEntry.queries.keys.toSeq.sorted.foreach { n =>
        val body = try plan(n).take(6000)
          catch { case e: Throwable => s"plan dump failed: ${e.getMessage}" }
        sb.append(s"\n## $n\n\n```\n$body\n```\n")
      }
      Files.writeString(Paths.get(out), sb.toString)
      println(s"[probe] wrote $out")
      Seq(out)
    }
  }

  /** The streaming legs Bench grades, by name: each builds its
    * operator over a tick stream. */
  val streamLegs: Seq[(String, (SparkSession, DataFrame) => DataFrame)] = Seq(
    ("indicators", (s, t) => TickStream.statefulIndicators(s, t).toDF()),
    ("sessionize", (s, t) => TickStream.sessionizeStream(s, t).toDF()),
    ("price_ffill", (s, t) => TickStream.priceFfillStream(s, t).toDF()),
    ("windowed_agg", (_, t) => TickStream.windowedAgg(t)),
    // the daily-bar close engine: input ticks/s through the full live
    // indicator carry (vwap/stoch/keltner/adx/obv)
    ("daily_bars", (s, t) => TickStream.dailyBarStream(s, t).toDF()))

  /** Best-effort recursive delete for per-run scratch (staged corpus
    * copies, stream checkpoints). Errors are swallowed: scratch
    * cleanup must never fail a run that already measured.
    */
  private[graft] def deleteRecursively(path: String): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(Paths.get(path))
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    } catch { case _: Throwable => () }

  /** Stage the events table as `nFiles` time-ordered stream files with
    * strictly increasing mtimes (the file source orders batches by
    * mtime). Returns (staged dir, source schema, total rows).
    */
  private[graft] def stageEvents(spark: SparkSession, dir: String,
      nFiles: Int): (String, StructType, Long) = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
    val total = ev.count()
    val staged = Files.createTempDirectory("sprobe").toString
    val flat = Files.createTempDirectory("sprobe_flat")
    ev.withColumn("part", ntile(nFiles).over(Window.orderBy("ts", "event_id")))
      .write.partitionBy("part").parquet(s"$staged/w")
    val parts = new java.io.File(s"$staged/w").listFiles()
      .filter(_.getName.startsWith("part=")).sortBy(
        f => f.getName.stripPrefix("part=").toInt)
    parts.zipWithIndex.foreach { case (d, i) =>
      d.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex
        .foreach { case (f, j) =>
          val dst = flat.resolve(f"f$i%03d_$j%02d.parquet")
          Files.copy(f.toPath, dst)
          require(dst.toFile.setLastModified(1700000000000L + i * 60000L + j))
        }
    }
    // the partitioned write was only a vehicle for the time split
    deleteRecursively(staged)
    (flat.toString, ev.schema, total)
  }

  /** Run one leg over the staged files to completion through the noop
    * sink, one file per trigger, on checkpoint `ckpt`. Returns the wall
    * seconds, stop() included, and the run's progress reports. A run
    * that throws is stopped before the exception leaves, so it cannot
    * keep competing for cores. */
  private[graft] def runLeg(spark: SparkSession, flat: String, schema: StructType,
      ckpt: String)(build: DataFrame => DataFrame): (Double, Array[StreamingQueryProgress]) = {
    val ticks = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(flat)
    val t0 = System.nanoTime()
    var q: StreamingQuery = null
    try {
      q = build(ticks).writeStream.format("noop")
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable()
      q.stop()
      ((System.nanoTime() - t0) / 1e9, q.recentProgress)
    } finally {
      if (q != null && q.isActive)
        try q.stop() catch { case e: Throwable =>
          System.err.println(s"[probe] stream stop: $e") }
    }
  }

  /** Rows/s of each named leg (all of [[streamLegs]] when none are
    * named) over the events table staged as 8 files at 8 shuffle
    * partitions, then each microbatch's duration and state breakdown.
    * The session's shuffle-partition count is restored afterwards. */
  def stream(spark: SparkSession, dir: String, legs: Seq[String]): Seq[(String, Double)] = {
    val byName = streamLegs.toMap
    val chosen = if (legs.isEmpty) streamLegs else legs.map { l =>
      l -> byName.getOrElse(l, throw new IllegalArgumentException(
        s"unknown leg $l; legs: ${streamLegs.map(_._1).mkString(", ")}"))
    }
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    val scratch = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      spark.conf.set("spark.sql.shuffle.partitions", 8L)
      val (flat, schema, total) = stageEvents(spark, dir, 8)
      scratch += flat
      chosen.map { case (leg, build) =>
        val ckpt = Files.createTempDirectory(s"probe_$leg").toString
        scratch += ckpt
        val (secs, progress) = runLeg(spark, flat, schema, ckpt)(build(spark, _))
        println(f"[probe] stream $leg%-14s ${total / secs}%9.0f rows/s " +
          f"($total rows, $secs%6.2f s, ${progress.length} batches)")
        progress.foreach { p =>
          val d = p.durationMs
          val st = p.stateOperators.headOption
          println(f"[probe]   batch=${p.batchId}%2d rows=${p.numInputRows}%6d " +
            f"trigger=${d.getOrDefault("triggerExecution", -1L)}%5d " +
            f"addBatch=${d.getOrDefault("addBatch", -1L)}%5d " +
            f"plan=${d.getOrDefault("queryPlanning", -1L)}%4d " +
            f"commit=${st.map(_.commitTimeMs).getOrElse(-1L)}%5d " +
            f"update=${st.map(_.allUpdatesTimeMs).getOrElse(-1L)}%5d " +
            f"remove=${st.map(_.allRemovalsTimeMs).getOrElse(-1L)}%4d " +
            f"stateRows=${st.map(_.numRowsTotal).getOrElse(-1L)}%6d " +
            f"stateMem=${st.map(_.memoryUsedBytes).getOrElse(-1L)}%8d")
        }
        leg -> total / secs
      }
    } finally {
      scratch.foreach(deleteRecursively)
      spark.conf.set("spark.sql.shuffle.partitions", parts0)
    }
  }
}
