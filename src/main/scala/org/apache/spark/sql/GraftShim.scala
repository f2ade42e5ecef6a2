package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the classic Column↔Expression converters, which are
  * private[sql] since the Spark Connect API split. This is the
  * supported extension-point pattern for libraries that ship custom
  * Catalyst expressions with a typed Column API.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a custom expression builder under `name` for SQL use. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Wrap a logical plan as a DataFrame (classic Dataset.ofRows). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Release the block-manager blocks pinned by a `localCheckpoint`ed
    * DataFrame. `Dataset.unpersist` only reaches CacheManager entries,
    * not the checkpointed RDD behind a `LogicalRDD` plan, so
    * long-running maintenance loops that checkpoint a fresh artifact
    * per microbatch would otherwise leave every superseded
    * generation's blocks to ContextCleaner GC. No-op on plans without
    * a LogicalRDD leaf.
    */
  def unpersistCheckpoint(df: DataFrame): Unit =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The session's Hadoop configuration: the SparkContext's, overlaid
    * with the session's SQL confs — what the session's own checkpoint
    * and state-store file managers are built from. */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** Block until every listener-bus event posted so far has been
    * delivered. An action returns before its task-end events reach
    * the listeners; draining makes a listener's counts after the
    * action exact instead of racing the bus. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Idempotently add a planner strategy to the session. */
  def addStrategy(spark: SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = exp.extraStrategies :+ strategy
  }
}
