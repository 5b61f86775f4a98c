package graft.queries

import graft.GraftQuery
import org.apache.spark.sql.functions._

/** Seventh observability tranche: the retention/expiry surface.
  *
  * The reference deletes expired telemetry in a cascade
  * (rust/analytics/src/delete.rs): blocks whose insert_time passed the
  * expiration horizon are dropped first, then streams left with no
  * blocks, then processes left with no streams. The destructive sweep
  * itself is [[graft.operators.Materialize.sweepExpired]] (test-only,
  * like the other lake-admin operators); what belongs in the query
  * surface is the PLAN — which blocks a given horizon would delete and
  * what the cascade would take with them. That plan is a pure
  * relational computation over the blocks model (the same
  * (process, stream, minute) granularity as `m_blocks`), so it is
  * fully oracle-checked: conditional counts per stream, emptiness
  * flags, then per-process rollup — every column an integer.
  *
  * At scale this is one partial-agg groupBy chain over the block
  * inventory (O(blocks) rows, never event rows after the first keyed
  * agg), the exact shape the reference runs as three SQL DELETEs
  * against its Postgres metadata — reading the plan before running the
  * sweep is how an operator sizes a retention change safely.
  */
object ObservabilityExt7 {

  /** Expiration horizon: 2024-01-20T00:00:00Z, mid-range of the test
    * stream so the plan splits meaningfully at every SF.
    */
  private val cutoffMs = 1705708800000L

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_retention_plan", (s, dir) => {
      val e = events(s, dir)
      val blocks = e
        .groupBy(col("user_id"), col("event_type"),
          (epochMs(col("ts")) - epochMs(col("ts")) % 60000).as("block_start_ms"))
        .agg(max(epochMs(col("ts"))).as("last_ms"))
      val streams = blocks.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(col("last_ms") <= cutoffMs, 1L).otherwise(0L)).as("n_expired"))
        .withColumn("emptied", (col("n_expired") === col("n_blocks")).cast("long"))
      streams.groupBy("user_id")
        .agg(sum("n_blocks").as("n_blocks"),
          sum("n_expired").as("n_expired_blocks"),
          count(lit(1)).as("n_streams"),
          sum("emptied").as("n_emptied_streams"))
        .withColumn("process_deleted",
          (col("n_emptied_streams") === col("n_streams")).cast("long"))
        .select(col("user_id").cast("string").as("process_id"),
          col("n_blocks"), col("n_expired_blocks"),
          col("n_streams"), col("n_emptied_streams"), col("process_deleted"))
        .orderBy("process_id")
    }, Some(s"""
      WITH blocks AS (
        SELECT user_id, event_type,
          epoch_ms(ts) - epoch_ms(ts) % 60000 AS block_start_ms,
          max(epoch_ms(ts)) AS last_ms
        FROM events GROUP BY 1, 2, 3),
      streams AS (
        SELECT user_id, event_type,
          COUNT(*) AS n_blocks,
          SUM(CASE WHEN last_ms <= $cutoffMs THEN 1 ELSE 0 END) AS n_expired,
          CASE WHEN SUM(CASE WHEN last_ms <= $cutoffMs THEN 1 ELSE 0 END) = COUNT(*)
               THEN 1 ELSE 0 END AS emptied
        FROM blocks GROUP BY 1, 2)
      SELECT CAST(user_id AS VARCHAR) AS process_id,
        CAST(SUM(n_blocks) AS BIGINT) AS n_blocks,
        CAST(SUM(n_expired) AS BIGINT) AS n_expired_blocks,
        CAST(COUNT(*) AS BIGINT) AS n_streams,
        CAST(SUM(emptied) AS BIGINT) AS n_emptied_streams,
        CAST(CASE WHEN SUM(emptied) = COUNT(*) THEN 1 ELSE 0 END AS BIGINT)
          AS process_deleted
      FROM streams GROUP BY user_id
      ORDER BY process_id"""))
  )
}
