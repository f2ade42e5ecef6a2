package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Reads Spark's own listener events, from outside the engine.
  *
  * Untraced runs register only the streaming progress listener, and
  * keep per trigger only what latency attribution needs: query, batch
  * id, trigger start and trigger duration.
  *
  * Traced runs also keep the whole progress record, register a
  * SparkListener (jobs, stages, task metrics) and a
  * QueryExecutionListener (analysis / optimization / planning
  * phases). Everything stays in memory until [[json]] at the end.
  * The time the listeners spend in their callbacks for tracing is
  * summed, as the trace's own cost.
  */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  import Recorder._

  val triggers = new ConcurrentLinkedQueue[Trigger]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()
  private val plans = new ConcurrentLinkedQueue[Plan]()
  private val windows = new ConcurrentLinkedQueue[Window]()
  private val queryNames = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val events = new java.util.concurrent.atomic.AtomicLong(0L)
  private val traceNs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Runs a traced callback body and adds its time to the trace cost. */
  private def traceCost[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally traceNs.addAndGet(System.nanoTime() - t0): Unit
  }

  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      queryNames.put(e.id.toString, Option(e.name).getOrElse(e.id.toString)): Unit
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      // idle triggers report no addBatch: they ran no microbatch
      if (p.durationMs.containsKey("addBatch")) {
        triggers.add(Trigger(Option(p.name).getOrElse(p.id.toString), p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.get("triggerExecution").longValue, p.numInputRows,
          if (traced) Some(traceCost(p.json)) else None))
      }
      events.incrementAndGet(): Unit
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = traceCost {
      val qid = Option(e.properties).flatMap(p =>
        Option(p.getProperty("sql.streaming.queryId")))
      jobs.put(e.jobId, Job(e.jobId, e.time, -1L, e.stageIds, qid))
      e.stageIds.foreach(s => stages.putIfAbsent(s, Stage(s)))
      events.incrementAndGet(): Unit
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = traceCost {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      events.incrementAndGet(): Unit
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = traceCost {
      val m = e.taskMetrics
      val st = stages.computeIfAbsent(e.stageId, s => Stage(s))
      st.synchronized {
        st.tasks += 1
        if (m != null) {
          st.runMs += m.executorRunTime
          st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          st.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
      events.incrementAndGet(): Unit
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = traceCost {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty)
        plans.add(Plan(ph.map(_.startTimeMs).min, ph.map(_.endTimeMs).max,
          ph.map(s => (s.endTimeMs - s.startTimeMs).toDouble).sum))
      events.incrementAndGet(): Unit
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.streams.addListener(progressListener)
  if (traced) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    spark.streams.removeListener(progressListener)
    if (traced) {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  /** Marks a harness phase (construct / execute of one query) so jobs
    * and plans can be attributed to it by time. Returns the body's
    * result and its duration in ms, from the monotonic clock. */
  def window[T](label: String, phase: String, pass: Int)(body: => T): (T, Double) = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val r = body
    val ms = (System.nanoTime() - n0) / 1e6
    windows.add(Window(label, phase, pass, t0, System.currentTimeMillis(), ms))
    (r, ms)
  }

  /** The listener buses are asynchronous: wait until no event has
    * arrived for a few polls, so the last batch's events are in. */
  def settle(): Unit = {
    var last = -1L
    var quiet = 0
    var spins = 0
    while (quiet < 4 && spins < 200) {
      Thread.sleep(25)
      val cur = events.get()
      if (cur == last) quiet += 1 else { quiet = 0; last = cur }
      spins += 1
    }
  }

  private def inWindow(w: Window, t: Long): Boolean = t >= w.startMs && t <= w.endMs

  /** Per-window job and stage totals (traced runs). */
  private def windowTotals(w: Window): Map[String, Double] = {
    val js = jobs.values.asScala.filter(j => inWindow(w, j.submitMs)).toSeq
    val ss = js.flatMap(_.stageIds).distinct.flatMap(s => Option(stages.get(s)))
    val pl = plans.asScala.filter(p => inWindow(w, p.endMs))
    Map("jobs" -> js.size.toDouble, "stages" -> ss.size.toDouble,
      "tasks" -> ss.map(_.tasks).sum.toDouble,
      "task_s" -> ss.map(_.runMs).sum / 1e3,
      "shuffle_bytes" -> ss.map(_.shuffleWrite).sum.toDouble,
      "spill_bytes" -> ss.map(_.spill).sum.toDouble,
      "bytes_written" -> ss.map(_.bytesWritten).sum.toDouble,
      "plan_ms" -> pl.map(_.phasesMs).sum)
  }

  /** Bytes written by the tasks of each streaming query (traced). */
  private def bytesWrittenByQuery: Map[String, Long] =
    jobs.values.asScala.toSeq.flatMap(j => j.streamQueryId.map(_ -> j))
      .groupBy(_._1).map { case (qid, js) =>
        Option(queryNames.get(qid)).getOrElse(qid) ->
          js.flatMap(_._2.stageIds).distinct
            .flatMap(s => Option(stages.get(s))).map(_.bytesWritten).sum
      }

  def json: Json.Obj = {
    val trig = triggers.asScala.toSeq.sortBy(t => (t.query, t.batchId)).map { t =>
      val base = Json.Obj("query" -> t.query, "batch" -> t.batchId,
        "start_ms" -> t.startMs, "trigger_ms" -> t.triggerMs, "input_rows" -> t.inputRows)
      t.full.fold(base)(f => base + ("progress" -> Json.Raw(f)))
    }
    val base = Json.Obj("triggers" -> trig)
    if (!traced) base
    else base ++ Json.Obj(
      "windows" -> windows.asScala.toSeq.map { w =>
        Json.Obj("label" -> w.label, "phase" -> w.phase, "pass" -> w.pass,
          "start_ms" -> w.startMs, "end_ms" -> w.endMs, "ms" -> w.ms,
          "totals" -> windowTotals(w))
      },
      "jobs" -> jobs.values.asScala.toSeq.sortBy(_.jobId).map { j =>
        Json.Obj("job" -> j.jobId, "submit_ms" -> j.submitMs, "end_ms" -> j.endMs,
          "stream_query" -> j.streamQueryId.map(q => Option(queryNames.get(q)).getOrElse(q)))
      },
      "plans" -> plans.asScala.toSeq.map(p =>
        Json.Obj("start_ms" -> p.startMs, "end_ms" -> p.endMs, "ms" -> p.phasesMs)),
      "bytes_written" -> bytesWrittenByQuery,
      "jobs_total" -> jobs.size,
      "listener_ms" -> traceNs.get / 1e6)
  }
}

object Recorder {
  final case class Trigger(query: String, batchId: Long, startMs: Long,
      triggerMs: Long, inputRows: Long, full: Option[String])
  final case class Job(jobId: Int, submitMs: Long, var endMs: Long,
      stageIds: Seq[Int], streamQueryId: Option[String])
  final case class Stage(stageId: Int, var tasks: Long = 0L,
      var runMs: Long = 0L, var shuffleWrite: Long = 0L,
      var spill: Long = 0L, var bytesWritten: Long = 0L)
  final case class Plan(startMs: Long, endMs: Long, phasesMs: Double)
  final case class Window(label: String, phase: String, pass: Int,
      startMs: Long, endMs: Long, ms: Double)
}
