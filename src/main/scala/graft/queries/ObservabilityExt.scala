package graft.queries

import graft.{GraftQuery, Lakehouse}
import graft.functions.Colors
import org.apache.spark.sql.functions._

/** Second tranche of the observability surface: JSON path/array
  * functions (M13), view-set/partition metadata (M15), color scales
  * (M17), properties→jsonb normalization (M18).
  */
object ObservabilityExt {

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_json_path", (s, dir) => {
      // enrich the flat props into nested JSON, then exercise the
      // jsonb_get / path_query / array_length / object_keys family
      val e = events(s, dir).where(col("event_id") < 2000)
      val j = concat(lit("{\"k\":"), get_json_object(col("props"), "$.k"),
        lit(",\"tags\":[\""), col("event_type"), lit("\",\"x\"],\"nested\":{\"v\":"),
        (col("event_id") % 7).cast("string"), lit("}}"))
      e.select(col("event_id"), j.as("j"))
        .select(col("event_id"),
          get_json_object(col("j"), "$.nested.v").cast("long").as("nested_v"),
          json_array_length(get_json_object(col("j"), "$.tags")).cast("long").as("tags_len"),
          get_json_object(col("j"), "$.tags[0]").as("first_tag"),
          // jsonb_path_query_first: first result of a MULTI-match path,
          // a single-match wildcard (Spark unwraps the match-set array
          // there — the coalesce fallback this pins), and a plain path
          graft.functions.Jsonb.pathQueryFirst(col("j"), "$.tags[*]").as("first_of_tags"),
          graft.functions.Jsonb.pathQueryFirst(col("j"), "$.nested.*").as("first_of_nested"),
          graft.functions.Jsonb.pathQueryFirst(col("j"), "$.nested.v").as("first_nested"),
          array_join(json_object_keys(col("j")), ",").as("keys"))
        .orderBy("event_id")
    }, Some("""
      WITH e AS (
        SELECT event_id,
          '{"k":' || regexp_extract(props, '"k": ([0-9]+)', 1) ||
          ',"tags":["' || event_type || '","x"],"nested":{"v":' ||
          CAST(event_id % 7 AS VARCHAR) || '}}' AS j
        FROM events WHERE event_id < 2000)
      SELECT event_id,
        CAST(json_extract_string(j, '$.nested.v') AS BIGINT) AS nested_v,
        CAST(json_array_length(j, '$.tags') AS BIGINT) AS tags_len,
        json_extract_string(j, '$.tags[0]') AS first_tag,
        json_extract_string(j, '$.tags[*]')[1] AS first_of_tags,
        json_extract_string(j, '$.nested.*')[1] AS first_of_nested,
        json_extract_string(j, '$.nested.v') AS first_nested,
        array_to_string(json_keys(j), ',') AS keys
      FROM e ORDER BY event_id""")),

    GraftQuery("m_list_views", (s, dir) => {
      // list_view_sets/list_partitions analog: registered view sets with
      // their materialized row counts
      val lk = new Lakehouse(s, dir)
      lk.logEntries.agg(count(lit(1)).as("n_rows"))
        .select(lit("log_entries").as("view_set"), col("n_rows"))
        .unionAll(lk.measures.agg(count(lit(1)).as("n_rows"))
          .select(lit("measures").as("view_set"), col("n_rows")))
        .unionAll(lk.logStats.agg(count(lit(1)).as("n_rows"))
          .select(lit("log_stats").as("view_set"), col("n_rows")))
        .orderBy("view_set")
    }, Some("""
      SELECT 'log_entries' AS view_set, CAST(count(*) AS BIGINT) AS n_rows FROM events
      UNION ALL
      SELECT 'measures' AS view_set, CAST(count(*) AS BIGINT) AS n_rows FROM events
      UNION ALL
      SELECT 'log_stats' AS view_set, CAST(count(*) AS BIGINT) AS n_rows FROM (
        SELECT DISTINCT date_trunc('minute', ts), user_id, event_type FROM events)
      ORDER BY view_set""")),

    GraftQuery("m_color_funcs", (s, dir) => {
      val e = events(s, dir).where(col("event_id") < 2000)
      val t = least(greatest(col("value") / lit(500.0), lit(0.0)), lit(1.0))
      val red = Colors.rgba(lit(1.0), lit(0.0), lit(0.0), lit(1.0))
      val blue = Colors.rgba(lit(0.0), lit(0.0), lit(1.0), lit(1.0))
      e.select(col("event_id"),
          red.as("c_red"),
          Colors.lerpColor(red, blue, t).as("c_lerp"),
          Colors.colorScaleViridis(t, lit(1.0)).as("c_viridis"))
        .orderBy("event_id")
    }, Some("""
      WITH e AS (
        SELECT event_id, LEAST(GREATEST(value/500.0, 0.0), 1.0) AS t FROM events
        WHERE event_id < 2000),
      seg AS (
        SELECT event_id, t,
          LEAST(CAST(FLOOR(t*8.0) AS BIGINT), 7) AS sg
        FROM e),
      chan AS (
        SELECT event_id, t, sg, t*8.0 - CAST(sg AS DOUBLE) AS fr,
          [68,72,62,49,38,31,53,109,253] AS vr,
          [1,40,74,104,130,158,183,205,231] AS vg,
          [84,120,137,142,142,137,121,89,37] AS vb
        FROM seg)
      SELECT event_id,
        CAST(4278190335 AS BIGINT) AS c_red,
        (CAST(FLOOR(LEAST(GREATEST(255.0 + (0.0-255.0)*t + 0.5, 0.0), 255.0)) AS BIGINT) * 16777216
         + 0 * 65536
         + CAST(FLOOR(LEAST(GREATEST(0.0 + (255.0-0.0)*t + 0.5, 0.0), 255.0)) AS BIGINT) * 256
         + 255) AS c_lerp,
        (CAST(FLOOR(LEAST(GREATEST(CAST(vr[sg+1] AS DOUBLE) + (CAST(vr[sg+2] AS DOUBLE)-CAST(vr[sg+1] AS DOUBLE))*fr + 0.5, 0.0), 255.0)) AS BIGINT) * 16777216
         + CAST(FLOOR(LEAST(GREATEST(CAST(vg[sg+1] AS DOUBLE) + (CAST(vg[sg+2] AS DOUBLE)-CAST(vg[sg+1] AS DOUBLE))*fr + 0.5, 0.0), 255.0)) AS BIGINT) * 65536
         + CAST(FLOOR(LEAST(GREATEST(CAST(vb[sg+1] AS DOUBLE) + (CAST(vb[sg+2] AS DOUBLE)-CAST(vb[sg+1] AS DOUBLE))*fr + 0.5, 0.0), 255.0)) AS BIGINT) * 256
         + 255) AS c_viridis
      FROM chan ORDER BY event_id""")),

    GraftQuery("m_props_jsonb", (s, dir) => {
      // properties_to_jsonb / property_get / properties_length shape:
      // normalize the properties into canonical JSON + basic accessors
      val e = events(s, dir)
      val parsed = from_json(col("props"), org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType))
      e.select(col("event_id"),
          to_json(parsed).as("props_jsonb"),
          size(map_keys(parsed)).cast("long").as("n_props"),
          array_join(map_keys(parsed), ",").as("prop_keys"))
        .orderBy("event_id")
    }, Some("""
      SELECT event_id,
        CAST(json(props) AS VARCHAR) AS props_jsonb,
        CAST(len(json_keys(props)) AS BIGINT) AS n_props,
        array_to_string(json_keys(props), ',') AS prop_keys
      FROM events ORDER BY event_id"""))
  )
}
