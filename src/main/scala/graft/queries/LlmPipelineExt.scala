package graft.queries

import graft.GraftQuery
import graft.operators.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal-column operators (SURVEY §2 L12): binary payloads with
  * typed metadata, batched partition-local decode, frame sampling.
  */
object LlmPipelineExt {

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("l_multimodal_meta", (s, dir) => {
      // binary payload + metadata extraction, oracle-checked on byte
      // length and md5 (bytes are the utf-8 text, so DuckDB can replay)
      val media = Multimodal.asMediaTable(docs(s, dir), "doc_id", col("text"), "text/plain")
      media.select(col("media_id"),
          length(col("media")).cast("long").as("n_bytes"),
          md5(col("media")).as("checksum"),
          col("media_type"))
        .orderBy("media_id")
    }, Some("""
      SELECT doc_id AS media_id,
        CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        md5(text) AS checksum,
        'text/plain' AS media_type
      FROM documents ORDER BY media_id""")),

    GraftQuery("l_multimodal_decode", (s, dir) => {
      // mapPartitions batched decode; the stub codec derives fake
      // dimensions from first/last payload bytes, which the oracle can
      // replay because the docs are ASCII (byte == codepoint)
      val media = Multimodal.asMediaTable(docs(s, dir), "doc_id", col("text"), "image/fake")
      Multimodal.decode(media).orderBy("media_id")
    }, Some("""
      SELECT doc_id AS media_id,
        CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        CAST(CASE WHEN length(text) = 0 THEN 0
          ELSE (ascii(substring(text, 1, 1)) % 128) + 1 END AS INTEGER) AS width,
        CAST(CASE WHEN length(text) = 0 THEN 0
          ELSE (ascii(substring(text, length(text), 1)) % 128) + 1 END AS INTEGER) AS height,
        md5(text) AS checksum
      FROM documents ORDER BY media_id""")),

    GraftQuery("l_multimodal_resize", (s, dir) => {
      // resize stage: aspect-preserving fit of the decoded dimensions
      // into a 64px box — integer math over the decode output, so the
      // oracle can replay it exactly; the pixel transform itself is
      // the stubbed-codec half (same mapPartitions pass as decode)
      val media = Multimodal.asMediaTable(docs(s, dir), "doc_id", col("text"), "image/fake")
      Multimodal.resizeSpec(Multimodal.decode(media), maxDim = 64)
        .select(col("media_id"), col("width"), col("height"),
          col("out_width"), col("out_height"), col("resized"))
        .orderBy("media_id")
    }, Some("""
      WITH d AS (
        SELECT doc_id AS media_id,
          CAST(CASE WHEN length(text) = 0 THEN 0
            ELSE (ascii(substring(text, 1, 1)) % 128) + 1 END AS INTEGER) AS width,
          CAST(CASE WHEN length(text) = 0 THEN 0
            ELSE (ascii(substring(text, length(text), 1)) % 128) + 1 END AS INTEGER) AS height
        FROM documents)
      SELECT media_id, width, height,
        CAST(CASE WHEN greatest(width, height) <= 64 THEN width
          ELSE greatest(1, (width * 64) // greatest(width, height)) END AS INTEGER)
          AS out_width,
        CAST(CASE WHEN greatest(width, height) <= 64 THEN height
          ELSE greatest(1, (height * 64) // greatest(width, height)) END AS INTEGER)
          AS out_height,
        greatest(width, height) > 64 AS resized
      FROM d ORDER BY media_id""")),

    GraftQuery("l_multimodal_audio", (s, dir) => {
      // audio-shaped decode: same batched mapPartitions plumbing,
      // stream-parameter metadata; integer-only stub → exact oracle
      val media = Multimodal.asMediaTable(docs(s, dir), "doc_id", col("text"), "audio/fake")
      Multimodal.decodeAudio(media).orderBy("media_id")
    }, Some("""
      WITH b AS (
        SELECT doc_id AS media_id,
          CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
          ascii(substring(text, 1, 1)) % 128 AS first_b,
          ascii(substring(text, length(text), 1)) % 128 AS last_b,
          md5(text) AS checksum
        FROM documents),
      p AS (
        SELECT media_id, n_bytes,
          CAST(CASE WHEN n_bytes = 0 THEN 0
            ELSE 8000 + (first_b % 8) * 1000 END AS INTEGER) AS sample_rate,
          CAST(CASE WHEN n_bytes = 0 THEN 0 ELSE (last_b % 2) + 1 END AS INTEGER) AS n_channels,
          checksum
        FROM b)
      SELECT media_id, n_bytes, sample_rate, n_channels,
        CASE WHEN n_bytes = 0 THEN 0
          ELSE n_bytes * 8000 // (sample_rate * n_channels) END AS duration_ms,
        checksum
      FROM p ORDER BY media_id""")),

    GraftQuery("l_multimodal_frames", (s, dir) => {
      // frame sampling: 4 windows of 16 bytes; oracle on frame md5s
      val media = Multimodal.asMediaTable(docs(s, dir), "doc_id", col("text"), "video/fake")
      Multimodal.frameSample(media, n = 4, frameBytes = 16)
        .select(col("media_id"), posexplode(col("frames")).as(Seq("frame_idx", "frame")))
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          md5(col("frame")).as("frame_md5"))
        .orderBy("media_id", "frame_idx")
    }, Some("""
      -- DuckDB lacks blob substring; the docs are ASCII so char slices
      -- of the VARCHAR hash identically to the byte slices Spark takes
      WITH m AS (SELECT doc_id AS media_id, text AS media FROM documents),
      f AS (
        SELECT media_id, CAST(i.range AS BIGINT) AS frame_idx,
          substring(media,
            CAST(i.range * GREATEST(octet_length(CAST(media AS BLOB)) - 16, 1) // 3 AS BIGINT) + 1,
            16) AS frame
        FROM m CROSS JOIN range(0, 4) i)
      SELECT media_id, frame_idx, md5(frame) AS frame_md5
      FROM f ORDER BY media_id, frame_idx"""))
  )
}
