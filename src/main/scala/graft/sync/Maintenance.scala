package graft.sync

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.Sinks

/** Maintenance write-backs — the reference's imperative admin actions
  * (web.rs:823-919: `reset_orphaned_articles` = UPDATE articles SET
  * sync_status='idle' WHERE sync_status != 'idle'; `clear_queues` =
  * DEL of the active/scheduled/failed/dead queue keys; `clear_outbox`
  * = DELETE FROM job_outbox WHERE processed_at IS NULL; `clear_all` =
  * all three) re-expressed for a columnar state store: each action is
  * a PURE frame transform (unit-testable, plan-auditable, scan-bound —
  * a projection or filter, zero shuffles) applied through
  * `Sinks.swapRewrite`, the staging-then-swap rewrite that gives the
  * rename-atomicity an UPDATE statement gets from Postgres.
  *
  * Each transform returns the FULL new table state (what the store
  * holds after the action), and `affected` counts the rows the
  * reference's `rows_affected` would report. All actions are
  * idempotent: applying one to its own output changes nothing — the
  * property the specs pin, because admin endpoints get retried.
  */
object Maintenance {

  /** What an action did: the reference's `ActionResult` with the
    * affected-row count instead of a localized message.
    */
  final case class ActionResult(affected: Long, newState: DataFrame)

  /** `reset_orphaned_articles` (web.rs:823-836): every article not
    * 'idle' resets to 'idle' with `status_changed_at` stamped `nowNs`.
    * One scan, codegen'd CASE projection — at 100 TB this is I/O-bound
    * and embarrassingly parallel, exactly like the UPDATE it mirrors.
    */
  def resetOrphans(state: DataFrame, nowNs: Long): ActionResult = {
    val affected = state.filter(col("sync_status") =!= "idle").count()
    val reset = state
      .withColumn("status_changed_at",
        when(col("sync_status") =!= "idle", lit(nowNs))
          .otherwise(col("status_changed_at")))
      .withColumn("sync_status", lit("idle"))
    ActionResult(affected, reset)
  }

  /** `clear_queues` (web.rs:838-860): drop every job in the
    * active/scheduled/failed/dead states across all namespaces (the
    * reference DELs those four Redis keys per namespace); pending and
    * done rows survive. Scan + filter, zero shuffles.
    */
  private val ClearedStates = Seq("active", "scheduled", "failed", "dead")

  def clearQueues(queue: DataFrame): ActionResult = {
    val affected = queue.filter(col("state").isin(ClearedStates: _*)).count()
    ActionResult(affected, queue.filter(!col("state").isin(ClearedStates: _*)))
  }

  /** `clear_outbox` (web.rs:862-885): delete unprocessed outbox rows
    * (`processed_at IS NULL`); processed history is kept for the
    * dashboard's throughput gauges.
    */
  def clearOutbox(outbox: DataFrame): ActionResult = {
    val affected = outbox.filter(col("processed_at").isNull).count()
    ActionResult(affected, outbox.filter(col("processed_at").isNotNull))
  }

  /** Apply an action to a parquet state table IN PLACE through the
    * staging-then-swap sink. `action` receives the current table and
    * returns the new full state; the affected count is returned so
    * callers can report it (the reference's action message).
    */
  def applyTo(spark: SparkSession, path: String)(
      action: DataFrame => ActionResult): Long = {
    val res = action(graft.core.IndexScratch.readRequired(spark, path))
    Sinks.swapRewrite(spark, path)(
      res.newState.write.mode(SaveMode.Overwrite).parquet(_))
    res.affected
  }
}
