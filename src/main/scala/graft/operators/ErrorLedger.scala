package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingestion-error ledger — the dead-letter path of the reference's
  * validating ingest (shared/error_handling.py:66-105 DataValidator;
  * ingestion_errors table, db/current_schema.sql:110-118): every
  * rejected tick is RECORDED with component, error class, a fixed
  * human-readable message and the offending payload, instead of being
  * silently dropped. The reject predicate here is the exact
  * complement of [[Warehouse.validTick]] by construction (one
  * spec-pinned partition of the input: every tick lands in the valid
  * stream or this ledger, never both, never neither).
  *
  * Scale shape: classification is a stateless narrow projection — no
  * shuffle, usable verbatim on a structured stream (the streaming
  * dead-letter sink writes exactly the same rows the batch ledger
  * derives, spec-asserted). The audit query is a tiny groupBy over
  * the reject sliver only, since the filter is pushed to the scan.
  *
  * Determinism note: error_id in the reference is a generated UUID;
  * here the source row's event_id (already unique) keys the ledger,
  * and created_at is the tick's own event time — no wall clock, so
  * batch, stream and oracle agree bit-for-bit. The shipped test data
  * is clean at sf ≤ 0.01 (the ledger is correctly empty there — the
  * schema/hash compare still runs) and has six zero-price ticks at
  * sf0.1; the dirty-frame specs exercise every error class.
  */
object ErrorLedger {

  val Component = "tick_ingest"

  /** The single reject predicate: the negation of
    * [[Warehouse.validTick]], which is never null, so no tick escapes
    * the three-valued logic.
    */
  private[graft] val invalidTick = !Warehouse.validTick

  /** Classified reject ledger over an events-shaped frame (batch OR
    * streaming — stateless). First matching class wins, in the same
    * order the reference validator checks (required field → numeric
    * format → range, error_handling.py:69-105).
    */
  def ingestionErrorsOf(events: DataFrame): DataFrame =
    events.filter(invalidTick)
      .select(
        col("event_id"), col("ts").as("created_at"), col("user_id"),
        lit(Component).as("component_name"),
        when(col("user_id").isNull, "missing_company")
          .when(col("value").isNull, "null_price")
          .when(isnan(col("value")), "nan_price")
          .otherwise("nonpositive_price").as("error_type"),
        when(col("user_id").isNull, "tick has no company key")
          .when(col("value").isNull, "price is missing")
          .when(isnan(col("value")), "price is not a number")
          .otherwise("price must be positive").as("error_message"),
        col("value"))

  /** The quarantine audit query (driver surface): full ledger, oldest
    * first — what an operator pages through to triage failed inserts.
    */
  def ingestionErrors(spark: SparkSession, dir: String): DataFrame =
    ingestionErrorsOf(Tables.events(spark, dir))

  def ingestionErrorsSql: String =
    s"""SELECT event_id, ts AS created_at, user_id,
       |  '$Component' AS component_name,
       |  CASE WHEN user_id IS NULL THEN 'missing_company'
       |       WHEN value IS NULL THEN 'null_price'
       |       WHEN isnan(value) THEN 'nan_price'
       |       ELSE 'nonpositive_price' END AS error_type,
       |  CASE WHEN user_id IS NULL THEN 'tick has no company key'
       |       WHEN value IS NULL THEN 'price is missing'
       |       WHEN isnan(value) THEN 'price is not a number'
       |       ELSE 'price must be positive' END AS error_message,
       |  value
       |FROM events
       |WHERE user_id IS NULL OR value IS NULL OR isnan(value) OR value <= 0
       |ORDER BY event_id""".stripMargin

  /** Per-(component, class) error-rate rollup — the monitoring view
    * over the ledger (the reference dashboards unresolved counts per
    * component).
    */
  def ingestionErrorStats(spark: SparkSession, dir: String): DataFrame =
    ingestionErrorsOf(Tables.events(spark, dir))
      .groupBy("component_name", "error_type")
      .agg(count(lit(1)).as("n_errors"),
        count_distinct(col("user_id")).as("n_companies"),
        min("event_id").as("first_event_id"),
        max("event_id").as("last_event_id"))

  /** LEDGER-DRIVEN REPLAY — the operational loop the reference's
    * `resolved` flag exists for (ingestion_errors.resolved + the
    * resolve/requeue handling of shared/error_handling.py): an
    * operator corrects quarantined payloads upstream and the fixes
    * re-enter ingest through the SAME validation gate as first-pass
    * traffic — a correction is never trusted, only re-validated.
    *
    * `corrections` is (event_id, user_id, value) — the fixed fields
    * for some subset of quarantined events (null = "no fix for this
    * field", so a correction may fix the price while the key was fine
    * and vice versa). The corrected payload is the original event
    * with fixed fields coalesced over the broken ones.
    *
    * Returns the corrected rejects re-partitioned by the one reject
    * predicate: `accepted` rows (events-shaped, appendable to the
    * valid stream) and `requeued` rows (a fresh ledger over the
    * still-failing payloads — same classification, so a bad fix just
    * cycles back with its new error class). By construction
    * accepted ∪ requeued = corrected rejects exactly once, and
    * replaying `accepted` is a no-op (they are no longer rejects) —
    * the loop is idempotent, spec-asserted.
    *
    * Scale shape: rejects are a filtered sliver of the scan and
    * corrections are operator-sized — the join broadcasts the
    * corrections; everything else is the same stateless projection as
    * first-pass ingest.
    */
  case class ReplayResult(accepted: DataFrame, requeued: DataFrame)

  def replayResolved(events: DataFrame, corrections: DataFrame): ReplayResult = {
    val fixes = corrections.select(
      col("event_id").as("fx_event_id"),
      col("user_id").as("fx_user_id"),
      col("value").as("fx_value"))
    val corrected = events.filter(invalidTick)
      .join(broadcast(fixes), col("event_id") === col("fx_event_id"))
      .select(col("event_id"), col("ts"),
        coalesce(col("fx_user_id"), col("user_id")).as("user_id"),
        col("event_type"),
        // the fix leads the coalesce, so a supplied price replaces the
        // broken one (incl. NaN — non-null, but second in line); an
        // unfixed field keeps its original brokenness and requeues
        // under its true class
        coalesce(col("fx_value"), col("value")).as("value"))
    ReplayResult(
      accepted = corrected.filter(!invalidTick),
      requeued = ingestionErrorsOf(corrected))
  }

  /** The ledger with the reference's `resolved` flag materialized: a
    * quarantined row is resolved iff a correction exists AND its
    * corrected payload re-validates — marking is DERIVED from the
    * replay outcome, never asserted by the fix's presence alone.
    */
  def resolvedLedger(events: DataFrame, corrections: DataFrame): DataFrame = {
    val ok = replayResolved(events, corrections).accepted
      .select(col("event_id").as("ok_event_id"))
    ingestionErrorsOf(events)
      .join(broadcast(ok), col("event_id") === col("ok_event_id"), "left")
      .withColumn("resolved", col("ok_event_id").isNotNull)
      .drop("ok_event_id")
  }

  def ingestionErrorStatsSql: String =
    s"""SELECT '$Component' AS component_name,
       |  CASE WHEN user_id IS NULL THEN 'missing_company'
       |       WHEN value IS NULL THEN 'null_price'
       |       WHEN isnan(value) THEN 'nan_price'
       |       ELSE 'nonpositive_price' END AS error_type,
       |  count(*) AS n_errors,
       |  count(DISTINCT user_id) AS n_companies,
       |  min(event_id) AS first_event_id,
       |  max(event_id) AS last_event_id
       |FROM events
       |WHERE user_id IS NULL OR value IS NULL OR isnan(value) OR value <= 0
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin
}
