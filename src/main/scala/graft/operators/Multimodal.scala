package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: opaque `binary` media plus typed metadata.
  *
  * The Spark-side plumbing is real — schema, partition-local batched
  * decode via `mapPartitions` (the Scala analog of `mapInPandas`:
  * one iterator per partition, decode amortized across a batch, no
  * shuffle), binary slicing for frame sampling. The actual
  * image/audio codec is STUBBED (no codec libs in this container):
  * `decodeStub` derives deterministic fake dimensions from the bytes,
  * and is the single function to swap for a real decoder.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media", BinaryType, nullable = true),
    StructField("media_type", StringType, nullable = true)))

  val decodedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("checksum", StringType, nullable = false)))

  /** Wrap any table with a binary payload column into the media shape. */
  def asMediaTable(df: DataFrame, idCol: String, payload: org.apache.spark.sql.Column,
      mediaType: String): DataFrame =
    df.select(col(idCol).cast("long").as("media_id"), payload.cast("binary").as("media"),
      lit(mediaType).as("media_type"))

  /** STUB decoder: deterministic fake "dimensions" from the first bytes.
    * Swap this for a real codec (???) when the libs are available; the
    * mapPartitions plumbing around it stays unchanged.
    */
  def decodeStub(bytes: Array[Byte]): (Int, Int) = {
    if (bytes == null || bytes.isEmpty) (0, 0)
    else ((bytes(0) & 0x7f) + 1, (bytes(bytes.length - 1) & 0x7f) + 1)
  }

  /** Shared batched-decode skeleton (the mapInPandas shape): each
    * partition's rows stream through one decoder/digest instance;
    * `fields` maps (payload bytes) to the schema's post-(media_id,
    * n_bytes) fields, checksum appended last.
    */
  private def decodePartitions(media: DataFrame, schema: StructType)(
      fields: Array[Byte] => Seq[Any]): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select("media_id", "media").mapPartitions { rows =>
      // per-partition decoder setup would go here (model load, codec init)
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = if (r.isNullAt(1)) Array.emptyByteArray else r.getAs[Array[Byte]](1)
        md.reset()
        val sum = md.digest(bytes).map("%02x".format(_)).mkString
        Row.fromSeq(id +: bytes.length.toLong +: (fields(bytes) :+ sum))
      }
    }(enc)
  }

  /** Partition-local batched decode; output has `decodedSchema`. */
  def decode(media: DataFrame): DataFrame =
    decodePartitions(media, decodedSchema) { bytes =>
      val (w, h) = decodeStub(bytes)
      Seq(w, h)
    }

  /** Resize spec: aspect-preserving fit into a `maxDim` box, computed
    * as integer column math over decoded dimensions (engine-exact).
    * This is the metadata half of a resize stage — the pixel transform
    * itself belongs in the same batched mapPartitions pass as the
    * (stubbed) codec and would consume these target dimensions.
    */
  def resizeSpec(decoded: DataFrame, maxDim: Int): DataFrame = {
    val mx = greatest(col("width"), col("height"))
    val needs = mx > maxDim
    def fit(side: org.apache.spark.sql.Column) =
      when(needs, greatest(lit(1), floor((side * maxDim) / mx))).otherwise(side).cast("int")
    decoded
      .withColumn("out_width", fit(col("width")))
      .withColumn("out_height", fit(col("height")))
      .withColumn("resized", needs)
  }

  val audioSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_channels", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("checksum", StringType, nullable = false)))

  /** STUB audio decoder: deterministic fake stream parameters from the
    * payload bytes (sample rate from the first byte, channel count
    * from the last, duration from byte length at the fake rate). Swap
    * for a real codec; integer-only arithmetic keeps it replayable by
    * the cross-engine oracle.
    */
  def decodeAudioStub(bytes: Array[Byte]): (Int, Int, Long) = {
    if (bytes == null || bytes.isEmpty) (0, 0, 0L)
    else {
      val rate = 8000 + ((bytes(0) & 0x7f) % 8) * 1000
      val channels = ((bytes(bytes.length - 1) & 0x7f) % 2) + 1
      val durMs = bytes.length.toLong * 8000L / (rate * channels)
      (rate, channels, durMs)
    }
  }

  /** Partition-local batched audio decode; output has `audioSchema`. */
  def decodeAudio(media: DataFrame): DataFrame =
    decodePartitions(media, audioSchema) { bytes =>
      val (rate, channels, durMs) = decodeAudioStub(bytes)
      // explicit boxing: a mixed Int/Long Seq gets numeric-harmonized
      // by scalac (weak lub) — the Ints would silently widen to Long
      // and break the row encoder's INT fields
      Seq(Int.box(rate), Int.box(channels), Long.box(durMs))
    }

  /** Frame sampling: n evenly spaced fixed-size byte windows from each
    * payload, first window at offset 0 and last ending at the payload
    * tail — pure column ops (codegen'd), no decode needed.
    */
  def frameSample(media: DataFrame, n: Int, frameBytes: Int): DataFrame = {
    require(n > 1, "frameSample: n must be > 1")
    val len = length(col("media"))
    val idxs = sequence(lit(0), lit(n - 1))
    media.select(col("media_id"),
      transform(idxs, i =>
        substr(col("media"),
          (i * greatest(len - lit(frameBytes), lit(1)) / lit(n - 1)).cast("int") + 1,
          lit(frameBytes))).as("frames"))
  }
}
