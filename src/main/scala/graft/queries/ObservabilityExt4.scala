package graft.queries

import graft.{GraftQuery, Lakehouse}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fifth observability tranche — the last of the reference's lakehouse
  * table functions re-expressed on the events stream:
  *
  *  - `m_parse_block`: parse_block(block_id) analog (reference:
  *    rust/analytics/src/lakehouse/parse_block_table_function.rs) —
  *    given one block identity, re-parse its payload into typed rows.
  *  - `m_block_payload`: get_payload analog (reference:
  *    rust/analytics/src/lakehouse/get_payload_function.rs) — the raw
  *    block payload bytes, reconstructed deterministically per block.
  *  - `m_net_spans`: net_spans view analog (reference:
  *    rust/analytics/src/net_spans_table.rs +
  *    lakehouse/net_spans_view.rs) — network request spans with
  *    connection metadata.
  *  - `m_export_log`: export_log view analog (reference:
  *    rust/analytics/src/lakehouse/export_log_view.rs) — the
  *    SQL-defined (time, level, msg) extraction that the reference
  *    materializes incrementally per partition.
  */
object ObservabilityExt4 {

  /** Block identity on the test stream, as in m_blocks
    * (blocks_view.rs): (process, stream tag, minute bucket).
    */
  private def blockKeyed(e: DataFrame): DataFrame = {
    val ms = epochMs(col("ts"))
    e.select(col("event_id"), ms.as("time_ms"),
      col("user_id").cast("string").as("process_id"),
      col("event_type").as("stream_tag"),
      (ms - pmod(ms, lit(60000L))).as("block_start_ms"),
      col("value"), col("props"))
  }

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_parse_block", (s, dir) => {
      // parse_block(block_id): fetch ONE block's metadata, then re-parse
      // its payload into rows. Block selection runs on the (small,
      // aggregated) block metadata; the row fetch is a conjunctive
      // equality filter that reaches the parquet scan — on a
      // process/date-partitioned lake this prunes to a single file,
      // which is the entire point of the reference's JIT function. The
      // "block id" here is the busiest block (deterministic tiebreak),
      // standing in for the user-supplied id string.
      val k = blockKeyed(events(s, dir))
      val best = k.groupBy("process_id", "stream_tag", "block_start_ms")
        .agg(count(lit(1)).as("nb"))
        .orderBy(col("nb").desc, col("process_id"), col("stream_tag"), col("block_start_ms"))
        .limit(1)
        .select("process_id", "stream_tag", "block_start_ms")
      k.join(broadcast(best), Seq("process_id", "stream_tag", "block_start_ms"))
        .select("process_id", "stream_tag", "block_start_ms",
          "event_id", "time_ms", "value", "props")
        .orderBy("event_id")
    }, Some("""
      WITH k AS (
        SELECT event_id, epoch_ms(ts) AS time_ms, CAST(user_id AS VARCHAR) AS process_id,
          event_type AS stream_tag, epoch_ms(ts) - epoch_ms(ts) % 60000 AS block_start_ms,
          value, props
        FROM events),
      b AS (
        SELECT process_id, stream_tag, block_start_ms
        FROM k GROUP BY 1, 2, 3
        ORDER BY count(*) DESC, process_id, stream_tag, block_start_ms
        LIMIT 1)
      SELECT process_id, stream_tag, block_start_ms, event_id, time_ms, value, props
      FROM k JOIN b USING (process_id, stream_tag, block_start_ms)
      ORDER BY event_id""")),

    GraftQuery("m_block_payload", (s, dir) => {
      // get_payload(stream_id, block_id): the raw payload bytes of every
      // block — Lakehouse.blockPayloads, the synthesis shared with the
      // get_payload SQL table function. Emitted as md5 + byte length so
      // the result stays metadata-sized.
      new Lakehouse(s, dir).blockPayloads
        .select(col("process_id"), col("stream_tag"), col("block_start_ms"),
          col("nb_objects"),
          md5(col("payload")).as("payload_md5"),
          octet_length(col("payload")).cast("long").as("payload_bytes"))
        .orderBy("process_id", "stream_tag", "block_start_ms")
    }, Some("""
      WITH l AS (
        SELECT CAST(user_id AS VARCHAR) AS process_id, event_type AS stream_tag,
          epoch_ms(ts) - epoch_ms(ts) % 60000 AS block_start_ms, event_id,
          CAST(event_id AS VARCHAR) || ':' || event_type || ':' ||
            CAST(CAST(floor(value * 100.0) AS BIGINT) AS VARCHAR) || ':' || props AS line
        FROM events)
      SELECT process_id, stream_tag, block_start_ms,
        CAST(count(*) AS BIGINT) AS nb_objects,
        md5(string_agg(line, chr(10) ORDER BY event_id)) AS payload_md5,
        CAST(strlen(string_agg(line, chr(10) ORDER BY event_id)) AS BIGINT) AS payload_bytes
      FROM l GROUP BY 1, 2, 3
      ORDER BY process_id, stream_tag, block_start_ms""")),

    GraftQuery("m_net_spans", (s, dir) => {
      // net_spans view analog: network request spans with connection
      // metadata (reference schema: process_id, span_id, depth, kind,
      // name, connection_name, is_outgoing + time range). Span pairing
      // reuses the begin/end assembly (signup/view open, others close,
      // as m_async_spans); the connection fields the reference reads
      // from stream metadata are derived deterministically from the
      // span's own keys. Per-key window only — no global order.
      val sp = graft.operators.SpanAssembly.beginEndSpans(
        events(s, dir), "user_id", epochMs(col("ts")), "event_id", "event_type",
        col("event_type").isin("signup", "view"))
      sp.select(col("user_id").cast("string").as("process_id"), col("span_id"),
          col("depth"),
          when(col("name") === "signup", lit("connect")).otherwise(lit("request")).as("kind"),
          col("name"),
          concat(lit("conn-"), pmod(col("user_id"), lit(4L)).cast("string")).as("connection_name"),
          (pmod(col("span_id"), lit(2L)) === 0).as("is_outgoing"),
          col("begin_ms"), col("end_ms"), col("duration_ms"))
        .orderBy("process_id", "begin_ms", "span_id")
    }, Some("""
      WITH tagged AS (
        SELECT user_id, event_id, event_type AS name, epoch_ms(ts) AS t_ms,
          (event_type IN ('signup','view')) AS is_begin,
          CASE WHEN event_type IN ('signup','view') THEN 1 ELSE -1 END AS delta
        FROM events),
      d AS (
        SELECT *, SUM(delta) OVER (PARTITION BY user_id ORDER BY t_ms, event_id ROWS UNBOUNDED PRECEDING) AS post_depth
        FROM tagged),
      dd AS (
        SELECT *, CASE WHEN is_begin THEN post_depth - 1 ELSE post_depth END AS depth FROM d),
      sq AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, depth, is_begin ORDER BY t_ms, event_id) AS seq FROM dd),
      b AS (SELECT user_id, depth, seq, name, t_ms AS begin_ms, event_id AS span_id FROM sq WHERE is_begin),
      e AS (SELECT user_id, depth, seq, t_ms AS end_ms FROM sq WHERE NOT is_begin)
      SELECT CAST(b.user_id AS VARCHAR) AS process_id, span_id, CAST(depth AS BIGINT) AS depth,
        CASE WHEN name = 'signup' THEN 'connect' ELSE 'request' END AS kind, name,
        'conn-' || CAST(b.user_id % 4 AS VARCHAR) AS connection_name,
        (span_id % 2 = 0) AS is_outgoing,
        begin_ms, end_ms, end_ms - begin_ms AS duration_ms
      FROM b JOIN e USING (user_id, depth, seq)
      WHERE end_ms >= begin_ms
      ORDER BY process_id, begin_ms, span_id""")),

    GraftQuery("m_export_log", (s, dir) => {
      // export_log view analog: the reference materializes a SQL-defined
      // (time, level, msg) extraction of log_entries incrementally per
      // partition — this is that extraction (the Materialize.updateByDay
      // machinery it would feed is proven in MaterializeSpec). Pure
      // projection: rides the scan, zero shuffle before the output sort.
      new Lakehouse(s, dir).logEntries
        .select(col("time_ms"), col("event_id"), col("level"),
          concat(col("target"), lit(": "), col("msg")).as("msg"))
        .orderBy("time_ms", "event_id")
    }, Some("""
      SELECT epoch_ms(ts) AS time_ms, event_id,
        CASE WHEN event_type = 'error' THEN 2
             WHEN event_type IN ('signup','purchase') THEN 4
             ELSE 5 END AS level,
        event_type || ': event ' || CAST(event_id AS VARCHAR) AS msg
      FROM events
      ORDER BY time_ms, event_id"""))
  )
}
