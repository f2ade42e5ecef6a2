package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet test tables (TESTDATA.md).
  *
  * Each table is a single parquet file under `dir`. Column pruning and
  * filter pushdown reach the scan because callers express plans with
  * `select`/`filter` before any action (verify with
  * `.explain("formatted")` → `PushedFilters`/`ReadSchema`).
  */
object Tables {
  /** SCHEMA CACHE (round 14): a bare `spark.read.parquet` infers the
    * schema by reading footers inside a tiny Spark job — ~40 ms of
    * scheduler overhead PER read call, and query construction issues
    * several per run (measured: 4 such jobs inside one
    * q_curation_pipeline run). A production deployment serves schemas
    * from its catalog instead of re-footer-reading per query; this
    * memoizes only the STRUCT TYPE per (application, path) — never
    * data, plans, or results — so every run still scans the parquet
    * bytes in full. Keyed by applicationId so a new session (possibly
    * pointing at regenerated files) re-infers.
    */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), org.apache.spark.sql.types.StructType]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(
      (spark.sparkContext.applicationId, path),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  /** `events.ts` normalization — the generator has shipped two parquet
    * layouts and both must read as session-TZ `TIMESTAMP`:
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so read
    *    as a nanosecond long (legacy flag) and floor-divide to micros
    *    with integer `div` (a double division would lose ulp-level
    *    precision at epoch-nanos magnitude), matching DuckDB's own
    *    nanos→micros truncation so oracle timestamps agree exactly;
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark infers
    *    TIMESTAMP_NTZ; cast to `TIMESTAMP` re-reads the wall clock in
    *    the session TZ (pinned UTC by every entry point), the same
    *    naive reading DuckDB applies.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    eventsOf(spark, dir)(identity)

  /** The one event-time normalization, for any reader of the events
    * file: `source` gets the batch frame (its schema inferred under
    * the legacy nanos flag) and returns the frame to normalize — the
    * batch frame itself, or a stream declared with its schema.
    */
  private[graft] def eventsOf(spark: SparkSession, dir: String)(
      source: DataFrame => DataFrame): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = source(apply(spark, dir, "events"))
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw // already a session-TZ timestamp
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** SQL facade: registers every table as a temp view (events with the
    * nanos→micros fix applied), so the full surface — including the
    * custom `vector_dot`/`minhash_shingles`/`simhash64` functions when
    * GraftExtensions is active — is reachable from `spark.sql`.
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, dir) else apply(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}
