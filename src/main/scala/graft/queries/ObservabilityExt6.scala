package graft.queries

import graft.{GraftQuery, Tables}
import graft.operators.{Perfetto, SpanAssembly}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sixth observability tranche: the Perfetto trace export, wire
  * format included (reference: rust/analytics/src/lakehouse/
  * perfetto_trace_table_function.rs:1,
  * perfetto_trace_execution_plan.rs:1, rust/perfetto/src/
  * streaming_writer.rs:1). `m_trace_events` (ObservabilityExt2)
  * already exports the same stream as Chrome Trace Event JSON; this
  * tranche adds the reference's actual binary format:
  *
  *  - `m_perfetto_packets`: the packet stream as a relational table —
  *    descriptor packets, then SliceBegin/SliceEnd per span with
  *    first-appearance interned ids for names / categories /
  *    (file,line) source locations. Interning is first-use dense
  *    numbering, which is exactly dense_rank over first-appearance
  *    row numbers — SQL-expressible, so the whole packet model is
  *    oracle-checked (DuckDB computes the identical table).
  *  - `m_perfetto_chunks`: the real encoder ([[Perfetto]]) run over
  *    every process in parallel — per-chunk packet counts, byte
  *    sizes and md5s. Binary protobuf is not SQL-expressible, so
  *    this is a rows-only query; PerfettoSpec closes the loop by
  *    decoding the chunks and asserting the packet stream equals
  *    `m_perfetto_packets` row for row.
  */
object ObservabilityExt6 {

  /** Events explicitly hash-repartitioned by process for the perfetto
    * export. The whole span-assembly pipeline (both windows + the
    * pairing aggregate) rides ONE hashpartitioning(user_id) exchange;
    * an AQE exchange there coalesces by BYTES (the default 1 MB floor
    * packed the CPU-dense window-pairing stage onto 2-3 of 32 cores at
    * sf0.1 — r15 StageProfile), while a user-specified partition count
    * is exempt from coalescing, so the stage keeps workPartitions-many
    * tasks at every scale. Targeted here rather than a session-wide
    * minPartitionSize floor, which the r15 driver bench showed costs
    * 15-35% on ~20 untouched queries.
    */
  private def eventsWide(s: SparkSession, dir: String): DataFrame =
    events(s, dir).repartition(Tables.workPartitions(s, dir, "events"), col("user_id"))

  /** The shared thread-span assembly (same shape as the package
    * `spans` loader / its oracleSpans CTE). Public: the
    * perfetto export trio (m_perfetto_packets, m_perfetto_chunks,
    * Graft.writeProcessTrace) must all derive spans identically or
    * their cross-checks (GraftApiSpec, PerfettoSpec) mean nothing.
    */
  def perfettoThreadSpans(s: SparkSession, dir: String): DataFrame =
    SpanAssembly.beginEndSpans(eventsWide(s, dir), "user_id", epochMs(col("ts")), "event_id",
      "event_type", col("event_type").isin("signup", "view"))

  /** The async-track operation spans for the perfetto export. */
  def perfettoAsyncSpans(s: SparkSession, dir: String): DataFrame =
    SpanAssembly
      .consecutiveSpans(eventsWide(s, dir), "user_id", epochMs(col("ts")), "event_id", "event_type")
      .withColumn("span_id", col("event_id"))
      .withColumn("depth", lit(0L))

  /** Shared span-assembly oracle prefix — single source of truth in
    * [[ObservabilityExt2.oracleSpansCte]].
    */
  private def oracleSpans(scope: String) = ObservabilityExt2.oracleSpansCte(scope)

  /** 56-bit md5-derived track uuid, computed by the engine itself so
    * the oracle's CAST('0x'||substr(md5(s),1,14) AS BIGINT) matches.
    */
  private def uuidExpr(s: String): Column =
    conv(substring(md5(lit(s)), 1, 14), 16, 10).cast("long")

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_perfetto_packets", (s, dir) => {
      // One process's trace (the reference's table function takes a
      // process_id argument), thread track only: two descriptor
      // packets, then begin+end packets per span in begin order.
      // The global windows below are process-scoped by construction —
      // bounded state, same as the reference's per-process writer.
      val sp = perfettoThreadSpans(s, dir).where(col("user_id") === 9)
      val w = Window.orderBy(col("begin_ms"), col("span_id"))
      val ranked = sp
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("fn", min("rn").over(Window.partitionBy("name")))
        .withColumn("fs", min("rn").over(Window.partitionBy("name", "depth")))
        .withColumn("name_iid", dense_rank().over(Window.orderBy("fn")).cast("long"))
        .withColumn("src_iid", dense_rank().over(Window.orderBy("fs")).cast("long"))
      val tuuid = uuidExpr("thread-9")
      val ev = ranked.select(explode(array(
        struct(
          (lit(2L) + (col("rn") - 1) * 2).as("seq"), lit("begin").as("kind"),
          (col("begin_ms") * 1000000L).as("ts_ns"), tuuid.as("track_uuid"),
          lit(1L).as("ev_type"), col("name"), col("name_iid"), lit(1L).as("cat_iid"),
          col("src_iid"),
          when(col("rn") === col("fn"), 1L).otherwise(0L).as("new_name"),
          when(col("rn") === 1, 1L).otherwise(0L).as("new_cat"),
          when(col("rn") === col("fs"), 1L).otherwise(0L).as("new_src")),
        struct(
          (lit(2L) + (col("rn") - 1) * 2 + 1).as("seq"), lit("end").as("kind"),
          (col("end_ms") * 1000000L).as("ts_ns"), tuuid.as("track_uuid"),
          lit(2L).as("ev_type"), col("name"), col("name_iid"), lit(1L).as("cat_iid"),
          col("src_iid"), lit(0L).as("new_name"), lit(0L).as("new_cat"),
          lit(0L).as("new_src")))).as("p"))
        .select("p.*")
      val meta = s.range(1).select(
          lit(0L).as("seq"), lit("process_desc").as("kind"), lit(-1L).as("ts_ns"),
          uuidExpr("process-9").as("track_uuid"), lit(0L).as("ev_type"),
          lit("user-9").as("name"), lit(-1L).as("name_iid"), lit(-1L).as("cat_iid"),
          lit(-1L).as("src_iid"), lit(0L).as("new_name"), lit(0L).as("new_cat"),
          lit(0L).as("new_src"))
        .unionAll(s.range(1).select(
          lit(1L).as("seq"), lit("thread_desc").as("kind"), lit(-1L).as("ts_ns"),
          uuidExpr("thread-9").as("track_uuid"), lit(0L).as("ev_type"),
          lit("user-9-main").as("name"), lit(-1L).as("name_iid"), lit(-1L).as("cat_iid"),
          lit(-1L).as("src_iid"), lit(0L).as("new_name"), lit(0L).as("new_cat"),
          lit(0L).as("new_src")))
      meta.unionAll(ev).orderBy("seq")
    }, Some(s"""${oracleSpans("WHERE user_id = 9")},
      r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY begin_ms, span_id) AS rn FROM spans),
      r2 AS (SELECT *, MIN(rn) OVER (PARTITION BY name) AS fn,
               MIN(rn) OVER (PARTITION BY name, depth) AS fs FROM r),
      r3 AS (SELECT *, DENSE_RANK() OVER (ORDER BY fn) AS name_iid,
               DENSE_RANK() OVER (ORDER BY fs) AS src_iid FROM r2),
      ev AS (
        SELECT 2 + (rn-1)*2 AS seq, 'begin' AS kind, begin_ms*1000000 AS ts_ns,
          CAST(('0x' || substr(md5('thread-9'), 1, 14)) AS BIGINT) AS track_uuid,
          1 AS ev_type, name, name_iid, 1 AS cat_iid, src_iid,
          CASE WHEN rn = fn THEN 1 ELSE 0 END AS new_name,
          CASE WHEN rn = 1 THEN 1 ELSE 0 END AS new_cat,
          CASE WHEN rn = fs THEN 1 ELSE 0 END AS new_src
        FROM r3
        UNION ALL
        SELECT 2 + (rn-1)*2 + 1, 'end', end_ms*1000000,
          CAST(('0x' || substr(md5('thread-9'), 1, 14)) AS BIGINT),
          2, name, name_iid, 1, src_iid, 0, 0, 0
        FROM r3),
      meta AS (
        SELECT 0 AS seq, 'process_desc' AS kind, -1 AS ts_ns,
          CAST(('0x' || substr(md5('process-9'), 1, 14)) AS BIGINT) AS track_uuid,
          0 AS ev_type, 'user-9' AS name, -1 AS name_iid, -1 AS cat_iid, -1 AS src_iid,
          0 AS new_name, 0 AS new_cat, 0 AS new_src
        UNION ALL
        SELECT 1, 'thread_desc', -1,
          CAST(('0x' || substr(md5('thread-9'), 1, 14)) AS BIGINT),
          0, 'user-9-main', -1, -1, -1, 0, 0, 0)
      SELECT CAST(seq AS BIGINT) AS seq, kind, CAST(ts_ns AS BIGINT) AS ts_ns,
        CAST(track_uuid AS BIGINT) AS track_uuid, CAST(ev_type AS BIGINT) AS ev_type,
        name, CAST(name_iid AS BIGINT) AS name_iid, CAST(cat_iid AS BIGINT) AS cat_iid,
        CAST(src_iid AS BIGINT) AS src_iid, CAST(new_name AS BIGINT) AS new_name,
        CAST(new_cat AS BIGINT) AS new_cat, CAST(new_src AS BIGINT) AS new_src
      FROM (SELECT * FROM meta UNION ALL SELECT * FROM ev)
      ORDER BY seq""")),

    GraftQuery("m_perfetto_chunks", (s, dir) => {
      // The real encoder over EVERY process: thread track carries the
      // nested stack assembly, async track the consecutive-event
      // operation spans ('both' mode). Each process encodes
      // independently inside flatMapGroups — parallel across
      // executors, state bounded to one process's spans. Binary
      // chunks aren't SQL-expressible → rows-only; PerfettoSpec
      // decodes them against m_perfetto_packets.
      Perfetto.traceChunksDf(s, perfettoThreadSpans(s, dir), "user_id",
          Some(perfettoAsyncSpans(s, dir)),
          numPartitions = Some(Tables.workPartitions(s, dir, "events")))
        .select("user_id", "chunk_id", "n_packets", "n_bytes", "chunk_md5")
        .orderBy("user_id", "chunk_id")
    }, None, headline = true),

    GraftQuery("m_props_dict", (s, dir) => {
      // property-set dictionary encoding (reference: rust/analytics/
      // src/properties/property_set_jsonb_dictionary_builder.rs —
      // identical property sets are stored ONCE and rows reference
      // them by dictionary index). The relational formulation: the
      // dictionary is the distinct props values with dense ids in
      // first-appearance order (min event_id), plus the reference
      // count each entry carries. The global window runs over the
      // DICTIONARY (bounded by construction — distinct property
      // sets, the very thing dictionary encoding exploits), never
      // over event rows; the reference's builder is likewise
      // per-block bounded.
      val e = events(s, dir)
      val dict = e.groupBy("props")
        .agg(min("event_id").as("first_event_id"), count(lit(1)).as("n_rows"))
      dict.withColumn("props_id",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy("first_event_id")).cast("long"))
        .select("props_id", "props", "first_event_id", "n_rows")
        .orderBy("props_id")
    }, Some("""
      WITH d AS (
        SELECT props, MIN(event_id) AS first_event_id, COUNT(*) AS n_rows
        FROM events GROUP BY props)
      SELECT ROW_NUMBER() OVER (ORDER BY first_event_id) AS props_id,
        props, first_event_id, CAST(n_rows AS BIGINT) AS n_rows
      FROM d ORDER BY props_id"""))
  )
}
