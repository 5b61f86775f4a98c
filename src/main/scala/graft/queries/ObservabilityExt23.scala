package graft.queries

import graft.GraftQuery
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 second observability tranche: behavioral structure and
  * incident breadth.
  *
  *  - `m_transition_matrix`: per-user event-type transition counts and
  *    exact conditional probabilities — the first-order Markov journey
  *    matrix (signup → view → purchase …) product analytics reads
  *    before funnel design (M67 checks ONE prescribed order; this
  *    surfaces what orders actually happen). Lag window keyed per
  *    user; output is the (types × types) grid.
  *  - `m_correlated_bursts`: incident BREADTH — for each hour with
  *    error activity, how many distinct processes emitted errors and
  *    how concentrated they are (top process share e4). The "one bad
  *    host or fleet-wide incident" discriminator M70's global burst
  *    runs can't answer: a deploy gone wrong lights up many processes
  *    at once (low concentration), a failing disk lights up one
  *    (share ≈ 10000). Two keyed partial aggs: events → (process,
  *    hour) → hour.
  *
  *  - `m_rate_resets`: reset-aware counter increase (PromQL
  *    increase()/rate() semantics) — a counter dropping below its
  *    previous sample restarted, so the step contributes the new value
  *    rather than a negative delta. The production form of M21c's
  *    naive delta rate, with restart counts as a fleet-health signal.
  *
  * Scale shape: transition counting reduces each user's stream inside
  * its own window partition and only the 25-cell matrix crosses; burst
  * breadth is two HashAggregates, the second over the wall-clock hour
  * grid; reset-aware rates are a lag window keyed per series + one
  * partial agg, values pre-quantized to exact e4 integers.
  */
object ObservabilityExt23 {

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_transition_matrix", (s, dir) => {
      val ms = epochMs(col("ts"))
      val w = Window.partitionBy("user_id").orderBy("t_ms", "event_id")
      val steps = events(s, dir)
        .select(col("user_id"), col("event_type").as("to_state"),
          ms.as("t_ms"), col("event_id"))
        .withColumn("from_state", lag("to_state", 1).over(w))
        .where(col("from_state").isNotNull)
      val counts = steps.groupBy("from_state", "to_state").agg(count(lit(1)).as("n"))
      counts
        .withColumn("row_total", sum("n").over(Window.partitionBy("from_state")))
        .withColumn("p_e4", expr("n * 10000 div row_total"))
        .select("from_state", "to_state", "n", "row_total", "p_e4")
        .orderBy("from_state", "to_state")
    }, Some("""
      WITH st AS (
        SELECT user_id, event_type AS to_state, epoch_ms(ts) AS t_ms, event_id,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY epoch_ms(ts), event_id) AS from_state
        FROM events),
      c AS (
        SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n
        FROM st WHERE from_state IS NOT NULL GROUP BY 1, 2),
      t AS (
        SELECT *, CAST(SUM(n) OVER (PARTITION BY from_state) AS BIGINT) AS row_total
        FROM c)
      SELECT from_state, to_state, n, row_total, n * 10000 // row_total AS p_e4
      FROM t ORDER BY from_state, to_state"""), headline = true),

    GraftQuery("m_correlated_bursts", (s, dir) => {
      val ms = epochMs(col("ts"))
      val perProc = events(s, dir).where(col("event_type") === "error")
        .groupBy(col("user_id"),
          (ms - pmod(ms, lit(3600000L))).as("hour_ms"))
        .agg(count(lit(1)).as("cnt"))
      perProc.groupBy("hour_ms")
        .agg(sum("cnt").as("n_errors"),
          count(lit(1)).as("n_processes"),
          max("cnt").as("top_cnt"))
        .where(col("n_processes") >= 3)
        .withColumn("top_share_e4", expr("top_cnt * 10000 div n_errors"))
        // fleet-wide: no single process owns even half the errors
        .withColumn("fleet_wide", when(col("top_share_e4") < 5000, 1L).otherwise(0L))
        .select("hour_ms", "n_errors", "n_processes", "top_share_e4", "fleet_wide")
        .orderBy("hour_ms")
    }, Some("""
      WITH pp AS (
        SELECT user_id, epoch_ms(ts) - epoch_ms(ts) % 3600000 AS hour_ms,
          CAST(count(*) AS BIGINT) AS cnt
        FROM events WHERE event_type = 'error' GROUP BY 1, 2),
      h AS (
        SELECT hour_ms, CAST(SUM(cnt) AS BIGINT) AS n_errors,
          CAST(count(*) AS BIGINT) AS n_processes,
          CAST(max(cnt) AS BIGINT) AS top_cnt
        FROM pp GROUP BY 1)
      SELECT hour_ms, n_errors, n_processes,
        top_cnt * 10000 // n_errors AS top_share_e4,
        CAST(CASE WHEN top_cnt * 10000 // n_errors < 5000 THEN 1 ELSE 0 END AS BIGINT)
          AS fleet_wide
      FROM h WHERE n_processes >= 3
      ORDER BY hour_ms""")),

    GraftQuery("m_rate_resets", (s, dir) => {
      // reset-aware counter increase (PromQL increase()/rate()
      // semantics): a counter that drops below its previous sample has
      // restarted — the step contributes the NEW value (counting from
      // zero), not a negative delta. M21c's naive delta rate goes
      // negative across restarts; this is the production form. Values
      // quantized to e4 integers FIRST so per-series sums are exact
      // integers (raw double sums are fold-order-dependent across
      // engines). Lag window keyed per series; one partial agg after.
      val w = Window.partitionBy("name", "user_id").orderBy("t_ms", "event_id")
      val tMs = epochMs(col("ts"))
      val steps = events(s, dir)
        .select(col("event_type").as("name"), col("user_id"), col("event_id"),
          tMs.as("t_ms"), round(col("value") * 10000.0, 0).cast("long").as("v_e4"))
        .withColumn("prev", lag("v_e4", 1).over(w))
        .where(col("prev").isNotNull)
        .withColumn("reset", when(col("v_e4") < col("prev"), 1L).otherwise(0L))
        .withColumn("inc_e4",
          when(col("v_e4") >= col("prev"), col("v_e4") - col("prev"))
            .otherwise(col("v_e4")))
      steps.groupBy("name", "user_id")
        .agg(count(lit(1)).as("n_steps"),
          sum("reset").as("n_resets"),
          sum("inc_e4").as("increase_e4"))
        .orderBy("name", "user_id")
    }, Some("""
      WITH d AS (
        SELECT event_type AS name, user_id, event_id, epoch_ms(ts) AS t_ms,
          CAST(round(value * 10000.0, 0) AS BIGINT) AS v_e4,
          lag(CAST(round(value * 10000.0, 0) AS BIGINT)) OVER (
            PARTITION BY event_type, user_id
            ORDER BY epoch_ms(ts), event_id) AS prev
        FROM events),
      st AS (
        SELECT name, user_id,
          CASE WHEN v_e4 < prev THEN 1 ELSE 0 END AS reset,
          CASE WHEN v_e4 >= prev THEN v_e4 - prev ELSE v_e4 END AS inc_e4
        FROM d WHERE prev IS NOT NULL)
      SELECT name, user_id, CAST(count(*) AS BIGINT) AS n_steps,
        CAST(SUM(reset) AS BIGINT) AS n_resets,
        CAST(SUM(inc_e4) AS BIGINT) AS increase_e4
      FROM st GROUP BY 1, 2
      ORDER BY name, user_id"""))
  )
}
