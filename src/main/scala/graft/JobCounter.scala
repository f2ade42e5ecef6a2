package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftShim, SparkSession}

/** Cumulative jobs, completed stages, ended tasks and summed executor
  * run time since a [[JobCounter]] was attached. */
final case class JobCounts(jobs: Long, stages: Long, tasks: Long, taskMs: Long) {
  def -(o: JobCounts): JobCounts =
    JobCounts(jobs - o.jobs, stages - o.stages, tasks - o.tasks, taskMs - o.taskMs)
}

/** A listener counting what the scheduler ran. [[read]] drains the
  * listener bus first, so the difference of two reads around an action
  * is exactly that action's work, with no events left queued to leak
  * into the next read.
  */
final class JobCounter private (spark: SparkSession) extends SparkListener {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val taskMs = new AtomicLong

  override def onJobStart(j: SparkListenerJobStart): Unit =
    { jobs.incrementAndGet(): Unit }
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    { stages.incrementAndGet(): Unit }
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = t.taskMetrics
    if (m != null) { taskMs.addAndGet(m.executorRunTime): Unit }
  }

  def read(): JobCounts = {
    GraftShim.drainListeners(spark)
    JobCounts(jobs.get(), stages.get(), tasks.get(), taskMs.get())
  }

  def detach(): Unit = spark.sparkContext.removeSparkListener(this)
}

object JobCounter {
  def attach(spark: SparkSession): JobCounter = {
    val c = new JobCounter(spark)
    spark.sparkContext.addSparkListener(c)
    c
  }
}
