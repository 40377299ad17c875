package graft.operators

import java.util.zip.CRC32

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata,
  * processed in partition-sized batches.
  *
  * The decode step is a STUB — the container has no image/audio codecs — but
  * everything around it is the real shape a 100 TB media pipeline needs:
  * an explicit (binary, metadata struct) schema, `fanout` partitioning so
  * decode parallelizes, and a `mapPartitions` batch boundary (the Scala
  * analogue of `mapInPandas`: one iterator per partition, so a real decoder
  * would amortize model/codec initialization per partition, not per row).
  * Swapping `fakeDecode` for a JNI/codec call changes no plumbing.
  */
object Multimodal {

  /** A partition function that plans render by `name`, where a closure
    * would print its JVM identity (`Multimodal$$$Lambda$…@…`).
    */
  private def named(name: String)(
      f: Iterator[Row] => Iterator[Row]): Iterator[Row] => Iterator[Row] =
    new (Iterator[Row] => Iterator[Row]) with Serializable {
      def apply(rows: Iterator[Row]): Iterator[Row] = f(rows)
      override def toString: String = name
    }

  /** Deterministic fake "decode": byte-level features standing in for a
    * real decoder's output (dimensions, channels, histogram, ...).
    */
  private def fakeDecode(payload: Array[Byte]): (Long, Double, Int) = {
    val crc = new CRC32()
    crc.update(payload)
    val mean = if (payload.isEmpty) 0.0
      else payload.map(b => (b & 0xFF).toDouble).sum / payload.length
    (crc.getValue, math.floor(mean * 1e4) / 1e4, payload.length)
  }

  val outputSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("media_type", StringType),
    StructField("n_bytes", LongType),
    StructField("checksum", LongType),
    StructField("mean_byte", DoubleType),
    StructField("payload_len", IntegerType)))

  /** Build a synthetic media table from `documents` (text bytes as the
    * opaque payload + typed metadata), then run the batched decode.
    */
  def binaryMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanout(Tables.documents(spark, dir))
    val media = d.select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      struct(
        when(col("doc_id") % 3 === 0, "image/png")
          .when(col("doc_id") % 3 === 1, "audio/wav")
          .otherwise("video/mp4").as("media_type"),
        length(col("text")).cast("long").as("n_bytes")).as("meta"))
    val enc = RowEncoder.encoderFor(outputSchema)
    media.mapPartitions(named("binaryMeta.decode") { rows =>
      // Per-partition init happens here (decoder/codec handle in real life).
      rows.map { r =>
        val payload = r.getAs[Array[Byte]]("payload")
        val meta = r.getStruct(r.fieldIndex("meta"))
        val (crc, mean, len) = fakeDecode(payload)
        Row(r.getAs[Long]("doc_id"), meta.getString(0), meta.getLong(1), crc, mean, len)
      }
    })(enc).toDF()
  }

  val frameSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("frame_idx", IntegerType),
    StructField("frame_crc", LongType),
    StructField("frame_bytes", IntegerType)))

  /** Frame sampling over "video" payloads — the 1→N batch shape (a real
    * `mapInPandas` frame sampler returns MORE rows than it consumes): the
    * payload is treated as fixed 16-byte frames and every 4th frame is
    * emitted with its checksum. The iterator-in/iterator-out boundary is
    * the same seam a codec-backed sampler plugs into; MultimodalSpec
    * cross-checks every emitted frame against an independent native
    * `substring`/`crc32` expression pipeline.
    */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    val frameLen = 16
    val stride = 4
    val d = Tables.fanout(Tables.documents(spark, dir))
    val video = d.filter(col("doc_id") % 3 === 2) // the video/mp4 slice
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val enc = RowEncoder.encoderFor(frameSchema)
    video.mapPartitions(named("frameSample.frames") { rows =>
      // per-partition init seam (demuxer/codec handle in real life)
      rows.flatMap { r =>
        val payload = r.getAs[Array[Byte]]("payload")
        val nFrames = payload.length / frameLen
        (0 until nFrames by stride).iterator.map { i =>
          val frame = java.util.Arrays.copyOfRange(payload, i * frameLen, (i + 1) * frameLen)
          val crc = new CRC32(); crc.update(frame)
          Row(r.getAs[Long]("doc_id"), i, crc.getValue, frame.length)
        }
      }
    })(enc).toDF().orderBy("doc_id", "frame_idx")
  }

  val thumbSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("thumb", BinaryType),
    StructField("thumb_bytes", IntegerType),
    StructField("thumb_crc", LongType)))

  /** "Resize" over image payloads — the binary→binary transform shape: the
    * payload is read as a 16-byte-wide pixel grid and downsampled 2×2 by
    * byte averaging into a new binary thumbnail column. Swapping the
    * arithmetic for a real scaler keeps schema, batching and partitioning
    * untouched. Deterministic, so replays produce byte-identical thumbs.
    */
  def resize(spark: SparkSession, dir: String): DataFrame = {
    val width = 16
    val d = Tables.fanout(Tables.documents(spark, dir))
    val images = d.filter(col("doc_id") % 3 === 0) // the image/png slice
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val enc = RowEncoder.encoderFor(thumbSchema)
    images.mapPartitions(named("resize.thumbs") { rows =>
      rows.map { r =>
        val p = r.getAs[Array[Byte]]("payload")
        val rowsIn = p.length / width
        val thumb = Array.ofDim[Byte]((rowsIn / 2) * (width / 2))
        var y = 0
        while (y + 1 < rowsIn) {
          var x = 0
          while (x + 1 < width) {
            val s = (p(y * width + x) & 0xFF) + (p(y * width + x + 1) & 0xFF) +
              (p((y + 1) * width + x) & 0xFF) + (p((y + 1) * width + x + 1) & 0xFF)
            thumb((y / 2) * (width / 2) + x / 2) = (s / 4).toByte
            x += 2
          }
          y += 2
        }
        val crc = new CRC32(); crc.update(thumb)
        Row(r.getAs[Long]("doc_id"), thumb, thumb.length, crc.getValue)
      }
    })(enc).toDF().orderBy("doc_id")
  }

  val energySchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("window_idx", IntegerType),
    StructField("rms", DoubleType),
    StructField("peak", IntegerType)))

  /** Windowed energy over "audio" payloads — the signal-feature batch
    * shape (a real pipeline computes RMS/loudness per PCM window for
    * silence trimming and segmentation). Payload bytes stand in for 8-bit
    * PCM samples; each 64-"sample" window emits RMS and peak — the 1→N
    * iterator-out boundary again, with the decoder init seam per
    * partition. MultimodalSpec cross-checks every window against an
    * independent native expression pipeline, exactly like frameSample.
    */
  def audioEnergy(spark: SparkSession, dir: String): DataFrame = {
    val window = 64
    val d = Tables.fanout(Tables.documents(spark, dir))
    val audio = d.filter(col("doc_id") % 3 === 1) // the audio/wav slice
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val enc = RowEncoder.encoderFor(energySchema)
    audio.mapPartitions(named("audioEnergy.windows") { rows =>
      // per-partition init seam (codec/resampler handle in real life)
      rows.flatMap { r =>
        val p = r.getAs[Array[Byte]]("payload")
        val nWin = p.length / window
        (0 until nWin).iterator.map { w =>
          var sumSq = 0.0
          var peak = 0
          var i = w * window
          val end = (w + 1) * window
          while (i < end) {
            val s = p(i) & 0xFF
            sumSq += s.toDouble * s
            if (s > peak) peak = s
            i += 1
          }
          val rms = math.floor(math.sqrt(sumSq / window) * 1e4) / 1e4
          Row(r.getAs[Long]("doc_id"), w, rms, peak)
        }
      }
    })(enc).toDF().orderBy("doc_id", "window_idx")
  }

  /** Per-media-type rollup of the decoded features (oracle-checkable: CRC32
    * and byte stats are engine-portable).
    */
  def mediaStats(spark: SparkSession, dir: String): DataFrame =
    binaryMeta(spark, dir)
      .groupBy(col("media_type"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bytes")).as("total_bytes"),
        min(col("checksum")).as("min_checksum"),
        (floor(sum(col("mean_byte")) / count(lit(1)) * lit(1e4)) / lit(1e4)).as("avg_mean_byte"))
      .orderBy("media_type")
}
