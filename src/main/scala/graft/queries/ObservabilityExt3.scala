package graft.queries

import graft.GraftQuery
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.{round => round} // DuckDB-compatible rounding (see package.scala)

/** Fourth observability tranche: a cross-engine-exact HyperLogLog
  * sketch (the md5-register construction makes the whole sketch —
  * registers AND estimate — oracle-checkable, unlike the engine-native
  * HLL++ in q_approx_distinct), threshold-crossing alert detection,
  * and log template mining.
  */
object ObservabilityExt3 {

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("q_hll_sketch", (s, dir) => {
      // HyperLogLog from first principles, built to be bit-reproducible
      // across engines: register index = first hex digit of
      // md5(user_id) (m=16), rho = leading-zero count of the next 48
      // bits + 1, derived purely from hex-string ops. The harmonic-mean
      // denominator sum(2^-M_j) is accumulated as the SCALED INTEGER
      // sum(2^(49-M_j)) — dyadic terms summed exactly in a long, so
      // groupBy order can't perturb the FP result (a double sum of
      // mixed-magnitude dyadics rounds order-dependently). No
      // small-range correction: its ln() is implementation-defined
      // bitwise, so the raw estimate + n_zero are emitted and the
      // m=16 choice keeps this corpus (>=150 users per type) out of
      // the correction regime anyway. Scale shape: one keyed groupBy
      // to registers (16 rows per group), one tiny final agg.
      val e = events(s, dir)
      val regs = graft.operators.Hll.registers(e, Seq("event_type"), col("user_id"))
      val sk = graft.operators.Hll.estimate(regs, Seq("event_type"))
      val ex = e.groupBy("event_type").agg(countDistinct("user_id").as("exact_users"))
      sk.join(broadcast(ex), "event_type")
        .select(col("event_type"), col("n_reg"), col("n_zero"),
          round(col("hll_estimate"), 2).as("hll_estimate"), col("exact_users"))
        .orderBy("event_type")
    }, Some("""
      WITH x AS (
        SELECT event_type, user_id, md5(CAST(user_id AS VARCHAR)) AS h FROM events),
      p AS (
        SELECT event_type,
          CAST(('0x' || substr(h, 1, 1)) AS INTEGER) AS idx,
          ltrim(substr(h, 2, 12), '0') AS r
        FROM x),
      rr AS (
        SELECT event_type, idx,
          CASE WHEN length(r) = 0 THEN 49
               ELSE (12 - length(r)) * 4 +
                 CASE WHEN substr(r,1,1) = '1' THEN 3
                      WHEN substr(r,1,1) IN ('2','3') THEN 2
                      WHEN substr(r,1,1) IN ('4','5','6','7') THEN 1
                      ELSE 0 END + 1 END AS rho
        FROM p),
      regs AS (SELECT event_type, idx, max(rho) AS mrho FROM rr GROUP BY 1, 2),
      sk AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_reg,
          CAST(sum(CAST(power(2.0, 49 - mrho) AS BIGINT)) AS BIGINT) +
            (16 - CAST(count(*) AS BIGINT)) * 562949953421312 AS den
        FROM regs GROUP BY 1),
      ex AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
             FROM events GROUP BY 1)
      SELECT sk.event_type, n_reg, 16 - n_reg AS n_zero,
        round(CAST(0.673 AS DOUBLE) * CAST(256.0 AS DOUBLE) * CAST(562949953421312.0 AS DOUBLE)
              / CAST(den AS DOUBLE), 2) AS hll_estimate,
        exact_users
      FROM sk JOIN ex USING (event_type)
      ORDER BY event_type""")),

    GraftQuery("m_threshold_alerts", (s, dir) => {
      // alerting: detect UPWARD crossings of a measure threshold — the
      // alert fires on the sample where value exceeds the limit and the
      // previous sample (per process, in event-time order) did not.
      // One keyed window; at scale this is the standard per-series lag
      // shape (partition by series key, never a global order).
      val lim = 300.0
      val m = events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id"), epochMs(col("ts")).as("t_ms"), col("event_id"), col("value"))
      val w = Window.partitionBy("user_id").orderBy(col("t_ms"), col("event_id"))
      m.withColumn("prev", lag("value", 1).over(w))
        .where(col("value") > lim && col("prev").isNotNull && col("prev") <= lim)
        .select(col("user_id"), col("t_ms"), col("event_id"),
          round(col("prev"), 2).as("prev_value"), round(col("value"), 2).as("value"))
        .orderBy("user_id", "t_ms", "event_id")
    }, Some("""
      WITH m AS (
        SELECT user_id, epoch_ms(ts) AS t_ms, event_id, value,
          LAG(value) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev
        FROM events WHERE event_type = 'purchase')
      SELECT user_id, t_ms, event_id,
        round(prev, 2) AS prev_value, round(value, 2) AS value
      FROM m WHERE value > 300.0 AND prev IS NOT NULL AND prev <= 300.0
      ORDER BY user_id, t_ms, event_id""")),

    GraftQuery("m_log_templates", (s, dir) => {
      // log template mining (the Drain-style "cluster by constant
      // parts" signal, linearized): render the log line, strip numeric
      // fields to <num>, group by the surviving template. Counts are
      // integer-exact; the example line is the lexicographic min.
      val line = concat(col("event_type"), lit(" user="), col("user_id").cast("string"),
        lit(" value="), round(col("value"), 0).cast("long").cast("string"))
      events(s, dir)
        .select(col("user_id"), regexp_replace(line, "[0-9]+", "<num>").as("template"),
          line.as("line"))
        .groupBy("template")
        .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_processes"),
          min("line").as("example"))
        .orderBy("template")
    }, Some("""
      WITH l AS (
        SELECT user_id,
          event_type || ' user=' || CAST(user_id AS VARCHAR) || ' value=' ||
            CAST(CAST(round(value, 0) AS BIGINT) AS VARCHAR) AS line
        FROM events)
      SELECT regexp_replace(line, '[0-9]+', '<num>', 'g') AS template,
        CAST(count(*) AS BIGINT) AS n,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_processes,
        min(line) AS example
      FROM l GROUP BY 1 ORDER BY template"""))
  )
}
