package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for a training-data pipeline.
  *
  * Media (image/audio/video) travel as opaque `BINARY` payloads plus a
  * typed metadata struct; decode / feature-extract / frame-sample run as
  * `mapPartitions` batch operators so a real decoder (JNI/FFI image or
  * audio lib) initializes once per partition — the exact executor-lifetime
  * pattern the Embedder uses.
  *
  * Image payloads carrying PNG magic decode FOR REAL via [[SimplePng]]
  * (pure-JVM inflate + defilter), and JPEG magic via [[SimpleJpeg]]
  * (pure-JVM baseline Huffman + dequant + IDCT + YCbCr): true
  * width/height and a histogram over actual pixel bytes. Audio payloads
  * carrying RIFF/WAVE magic decode
  * FOR REAL via [[SimpleWav]] (pure-JVM PCM parse): true sample rate /
  * channels / frame count and an amplitude histogram over actual decoded
  * samples. Video payloads carrying GIF magic decode FOR REAL via
  * [[SimpleGif]] (pure-JVM LZW + palette): true screen dims, true frame
  * count, and a histogram over decoded per-frame luminance. MP4/MOV
  * video parses its ISO-BMFF container FOR REAL via [[SimpleMp4]] (true
  * dimensions, codec fourcc, sample count from the box tree), and WebM/
  * Matroska parses its EBML container FOR REAL via [[SimpleWebm]] (true
  * dims, codec id, cluster-block frame count); only the frame PIXEL
  * decode — which needs a codec library (H.264/VP8/VP9, none ships in
  * this build) — hits the clearly-marked DETERMINISTIC STUB histogram
  * over payload bytes. The Spark-side contract — schema, batching,
  * partitioning, column shapes — is identical on all paths, so swapping
  * a true codec in changes only the per-row body.
  */
object Multimodal {

  val MediaMetaSchema: StructType = StructType(Seq(
    StructField("media_type", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType)))

  def featureSchema(dataSchema: StructType): StructType = StructType(
    dataSchema.fields ++ Seq(
      StructField("meta", MediaMetaSchema),
      StructField("features", ArrayType(DoubleType, containsNull = false))))

  /** 16-bin L1-normalized histogram — the shared feature contract of the
    * real PNG path (over decoded PIXEL bytes) and the stub path (over
    * raw payload bytes). */
  private def hist16(bytes: Array[Byte]): Array[Double] = {
    val hist = new Array[Double](16)
    if (bytes != null) bytes.foreach(b => hist((b & 0xFF) / 16) += 1.0)
    val total = hist.sum
    if (total == 0) hist else hist.map(_ / total)
  }

  /** Decode one payload. PNG image bytes parse for real (dims and
    * histogram from decoded pixels); WAV audio bytes parse for real
    * (meta = (sampleRate, channels, frames) in the shared (width,
    * height, n_frames) slots; features = 16-bin amplitude histogram of
    * decoded samples — each sample's top 4 bits after unsigned
    * normalization, so bin = unsigned16 >> 12 at 16-bit depth and
    * byte >> 4 at 8-bit). Everything else is the documented
    * deterministic stub — pseudo-dimensions + histogram of payload
    * bytes (a real video decoder would replace only this branch).
    */
  private def decodeBytes(payload: Array[Byte], mediaType: String): (Row, Array[Double]) = {
    if (mediaType == "image" && SimplePng.isPng(payload)) {
      SimplePng.decode(payload) match {
        case Some(img) => return (Row(mediaType, img.width, img.height, 1), hist16(img.pixels))
        case None => () // corrupt/unsupported PNG: stub fallback below
      }
    }
    if (mediaType == "image" && SimpleJpeg.isJpeg(payload)) {
      SimpleJpeg.decode(payload) match {
        case Some(img) => return (Row(mediaType, img.width, img.height, 1), hist16(img.pixels))
        case None => () // progressive/subsampled/corrupt JPEG: stub fallback
      }
    }
    if (mediaType == "video" && SimpleGif.isGif(payload)) {
      SimpleGif.decode(payload) match {
        case Some(gif) =>
          val lum = new Array[Byte](gif.frames.iterator.map(_.lum.length).sum)
          var o = 0
          gif.frames.foreach { f =>
            System.arraycopy(f.lum, 0, lum, o, f.lum.length); o += f.lum.length
          }
          return (Row(mediaType, gif.width, gif.height, gif.frames.length), hist16(lum))
        case None => () // corrupt/unsupported GIF: stub fallback below
      }
    }
    if (mediaType == "video" && SimpleWebm.isWebm(payload)) {
      SimpleWebm.parse(payload) match {
        case Some(meta) =>
          // REAL EBML container metadata: true dims from the video track,
          // coded-frame count from the cluster blocks. Pixel decode needs
          // VP8/VP9 — histogram stays over payload bytes (residual stub).
          val v = meta.tracks.find(_.kind == "video")
            .orElse(meta.tracks.headOption)
          v match {
            case Some(tr) =>
              return (Row(mediaType, tr.width, tr.height, meta.nFrames), hist16(payload))
            case None => () // no tracks: stub fallback below
          }
        case None => () // malformed webm: stub fallback below
      }
    }
    if (mediaType == "video" && SimpleMp4.isMp4(payload)) {
      SimpleMp4.parse(payload) match {
        case Some(meta) =>
          // REAL container metadata (ISO-BMFF box parse): true visual
          // dimensions and sample count from the video track. Frame
          // PIXEL decode needs a codec library (H.264/VP9) — the
          // histogram stays over payload bytes, the one residual stub.
          val v = meta.tracks.find(_.kind == "video")
            .orElse(meta.tracks.headOption)
          v match {
            case Some(tr) =>
              return (Row(mediaType, tr.width, tr.height, tr.nSamples), hist16(payload))
            case None => () // no tracks: stub fallback below
          }
        case None => () // malformed mp4: stub fallback below
      }
    }
    if (mediaType == "audio" && SimpleWav.isWav(payload)) {
      SimpleWav.decode(payload) match {
        case Some(a) =>
          val ampBytes = new Array[Byte](a.samples.length)
          var i = 0
          while (i < a.samples.length) {
            // unsigned high byte: 16-bit signed → offset-binary; 8-bit is already unsigned
            ampBytes(i) =
              if (a.bitsPerSample == 16) (((a.samples(i) + 32768) >> 8) & 0xFF).toByte
              else (a.samples(i) & 0xFF).toByte
            i += 1
          }
          return (Row(mediaType, a.sampleRate, a.channels, a.frames), hist16(ampBytes))
        case None => () // corrupt/unsupported WAV: stub fallback below
      }
    }
    val feats = hist16(payload)
    val w = if (payload == null) 0 else 64 + (payload.length % 64)
    val h = if (payload == null) 0 else 64 + ((payload.length / 64) % 64)
    val frames = mediaType match {
      case "video" => 1 + (if (payload == null) 0 else payload.length / 256)
      case _ => 1
    }
    (Row(mediaType, w, h, frames), feats)
  }

  /** Decode + feature-extract: binary column → (meta struct, features).
    * mapPartitions so per-partition decoder state inits once. PNG images
    * take the real [[SimplePng]] path; see `decodeBytes`.
    */
  def decode(df: DataFrame, payloadCol: String, mediaTypeCol: String): DataFrame = {
    val outSchema = featureSchema(df.schema)
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    val typeIdx = df.schema.fieldIndex(mediaTypeCol)
    df.mapPartitions { rows =>
      // a real decoder would be constructed HERE, once per partition
      rows.map { r =>
        val (meta, feats) = decodeBytes(r.getAs[Array[Byte]](payloadIdx), r.getString(typeIdx))
        Row.fromSeq(r.toSeq ++ Seq(meta, feats))
      }
    }(RowEncoder.encoderFor(outSchema))
  }

  /** Resize: payload → fixed-budget payload + updated meta dims. The STUB
    * resamples bytes at a uniform stride down to targetW×targetH bytes (a
    * real implementation decodes, bilinear-resamples pixels, re-encodes —
    * same signature, same batch shape). Output meta carries the TARGET
    * dims, the contract downstream batch embedders rely on (fixed tensor
    * shapes per batch).
    */
  def resizeStub(df: DataFrame, payloadCol: String, mediaTypeCol: String,
                 targetW: Int, targetH: Int): DataFrame = {
    require(targetW > 0 && targetH > 0)
    // its own column name: decode() already emits "meta", and composing
    // the two operators must not produce duplicate field names (r11
    // review — AMBIGUOUS_REFERENCE on any downstream col("meta"))
    val outSchema = StructType(df.schema.fields :+
      StructField("resized", BinaryType) :+ StructField("resize_meta", MediaMetaSchema))
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    val typeIdx = df.schema.fieldIndex(mediaTypeCol)
    val budget = targetW * targetH
    df.mapPartitions { rows =>
      // a real resampler (JNI image lib) would be constructed HERE
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val resized =
          if (payload == null || payload.isEmpty) Array.emptyByteArray
          else if (payload.length <= budget) payload
          else Array.tabulate(budget)(i =>
            payload((i.toLong * payload.length / budget).toInt))
        val meta = Row(r.getString(typeIdx), targetW, targetH, 1)
        Row.fromSeq(r.toSeq ++ Seq(resized, meta))
      }
    }(RowEncoder.encoderFor(outSchema))
  }

  /** Frame sampling for video payloads: every nth 256-byte "frame" of the
    * binary payload becomes a row (stride pattern of real frame samplers).
    */
  def frameSample(df: DataFrame, payloadCol: String, everyN: Int): DataFrame = {
    require(everyN > 0, s"frameSample: need everyN > 0, got $everyN")
    df.withColumn("frame_idx",
        explode(expr(s"sequence(0L, greatest((length($payloadCol) - 1) div 256, 0L), $everyN)")))
      .withColumn("frame_bytes",
        expr(s"substring($payloadCol, cast(frame_idx * 256 + 1 as int), 256)"))
  }

  /** Demo source: wraps a text corpus as fake binary media rows (Par:
    * the single-file scan must fan out before per-row payload work). */
  def fakeMediaFromDocs(spark: SparkSession, dir: String): DataFrame =
    graft.Par(spark.read.parquet(s"$dir/documents.parquet"))
      .select(col("doc_id"),
        col("text").cast("binary").as("payload"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"))
}
