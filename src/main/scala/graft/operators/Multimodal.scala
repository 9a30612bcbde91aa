package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video as opaque `binary` columns with
  * typed metadata (builder-prompt scope; the reference has no media
  * surface).
  *
  * The image path is a REAL codec round-trip, pure JVM: [[imageTable]]
  * renders deterministic grayscale rasters and encodes them to actual
  * PNG bytes with `javax.imageio`; [[decodeImages]] and [[resizeImages]]
  * decode those bytes back and do genuine pixel work (checksum over the
  * decoded raster, nearest-neighbor resample). PNG is lossless, so the
  * decoded pixels equal the generation function and the DuckDB oracle
  * can recompute every checksum exactly — the gate checks a real
  * encode→decode→pixel-math pipeline, not a simulated one.
  *
  * All per-row codec work runs in `mapPartitions` so codec setup
  * happens once per partition, not once per row; the stages are narrow
  * (no shuffle), scaling with input splits at 100 TB. Binary payloads
  * stay out of every exchange.
  *
  * The audio path is equally real: [[audioTable]] hand-encodes PCM
  * clips as RIFF/WAV byte streams (the container format is simple
  * enough that the encoder is the spec) and [[decodeAudio]] walks the
  * chunk sequence, reads the PCM format fields, and decodes the int16
  * samples. The video path encodes multi-frame animated GIFs with the
  * JDK's sequence writer and [[sampleFramesDecoded]] does positioned
  * frame extraction — both lossless, so the oracles recompute every
  * sample/pixel. [[mediaTable]]/[[sampleFrames]] keep the original
  * synthetic-payload metadata plumbing for the mm1/mm3 shapes.
  */
object Multimodal {

  /** Typed metadata carried beside every media blob. */
  final case class MediaMeta(
      mediaType: String, // "image" | "audio" | "video"
      width: Int,
      height: Int,
      durationMs: Long)

  final case class MediaRow(media_id: Long, meta: MediaMeta, payload: Array[Byte])

  /** One encoded image: `payload` is a complete PNG byte stream. */
  final case class ImageRow(media_id: Long, payload: Array[Byte])

  final case class DecodedImage(
      media_id: Long, width: Int, height: Int, n_px: Long, checksum: Long)

  final case class ResizedImage(
      media_id: Long, w: Int, h: Int, new_w: Int, new_h: Int,
      resized_checksum: Long)

  /** Deterministic grayscale value at (x, y) for image `id` — the
    * generation function, mirrored verbatim in the DuckDB oracles (PNG
    * is lossless, so decode returns exactly these values). */
  def pixel(id: Long, x: Int, y: Int): Int =
    ((id * 7 + x * 31L + y * 13L) % 256L).toInt

  /** Image dimensions for `id` (small on purpose: the fixture has
    * thousands of rows and the oracle recomputes every pixel). */
  def dims(id: Long): (Int, Int) = ((id % 16 + 8).toInt, (id % 12 + 6).toInt)

  /** Render + PNG-encode one image per document: REAL image bytes,
    * written by the JDK's PNG encoder inside `mapPartitions` (encoder
    * buffer allocated once per partition). */
  def imageTable(spark: SparkSession, dir: String): Dataset[ImageRow] = {
    import spark.implicits._
    graft.Tables.scan(spark, s"$dir/documents.parquet")
      .select("doc_id").as[Long]
      .mapPartitions { ids =>
        // codec init once per partition: shared output buffer, no
        // ImageIO disk cache
        ImageIO.setUseCache(false)
        val buf = new ByteArrayOutputStream()
        ids.map { id =>
          val (w, h) = dims(id)
          val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
          val raster = img.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { raster.setSample(x, y, 0, pixel(id, x, y)); x += 1 }
            y += 1
          }
          buf.reset()
          ImageIO.write(img, "png", buf)
          ImageRow(id, buf.toByteArray)
        }
      }
  }

  /** Batched per-partition REAL decode: `javax.imageio` parses the PNG
    * payload back to a raster; width/height come from the decoded
    * image (not carried metadata) and the checksum folds every decoded
    * pixel in row-major order — same fold as the document fingerprint
    * family, so the oracle mirrors it with one list_reduce. */
  def decodeImages(images: Dataset[ImageRow]): Dataset[DecodedImage] = {
    import images.sparkSession.implicits._
    images.mapPartitions { rows =>
      ImageIO.setUseCache(false) // codec init once per partition
      rows.map { r =>
        val img = ImageIO.read(new ByteArrayInputStream(r.payload))
        // ImageIO.read returns null (it does NOT throw) for bytes no
        // registered reader accepts — same diagnosable-error contract
        // as decodeAudio's RIFF guards, not a contextless task NPE
        require(img != null, s"media ${r.media_id}: undecodable image payload")
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        var cs = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            cs = (cs * 31 + raster.getSample(x, y, 0)) % 1000000007L
            x += 1
          }
          y += 1
        }
        DecodedImage(r.media_id, w, h, w.toLong * h, cs)
      }
    }
  }

  /** Decode + nearest-neighbor downscale into a `maxW`×`maxH` bounding
    * box preserving aspect (uniform floored scale), checksumming the
    * RESAMPLED pixels — real pixel work on really-decoded data. Source
    * indexing is integer (`x*w/new_w`), mirrored exactly in SQL. */
  def resizeImages(images: Dataset[ImageRow], maxW: Int, maxH: Int): Dataset[ResizedImage] = {
    import images.sparkSession.implicits._
    images.mapPartitions { rows =>
      ImageIO.setUseCache(false)
      rows.map { r =>
        val img = ImageIO.read(new ByteArrayInputStream(r.payload))
        require(img != null, s"media ${r.media_id}: undecodable image payload")
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        val scale = math.min(math.min(maxW.toDouble / w, maxH.toDouble / h), 1.0)
        val nw = math.floor(w * scale).toInt
        val nh = math.floor(h * scale).toInt
        var cs = 0L
        var y = 0
        while (y < nh) {
          var x = 0
          while (x < nw) {
            cs = (cs * 31 + raster.getSample(x * w / nw, y * h / nh, 0)) % 1000000007L
            x += 1
          }
          y += 1
        }
        ResizedImage(r.media_id, w, h, nw, nh, cs)
      }
    }
  }

  // ------------------------------------------------------------------
  // Audio: hand-rolled RIFF/WAV PCM codec (pure JVM, lossless — the
  // oracle recomputes every sample from the generation function).
  // ------------------------------------------------------------------

  final case class AudioRow(media_id: Long, payload: Array[Byte])

  final case class DecodedAudio(
      media_id: Long, sample_rate: Int, n_samples: Long, duration_ms: Long,
      peak: Int, checksum: Long)

  /** PCM sample `i` of clip `id` — the generation function, mirrored in
    * the DuckDB oracle (16-bit PCM in a WAV container is lossless). */
  def sampleAt(id: Long, i: Int): Int =
    (((id * 31 + i * 17L) % 65536L) - 32768L).toInt

  /** Clip length in samples (small on purpose — the oracle recomputes
    * every sample). */
  def clipSamples(id: Long): Int = (id % 500 + 100).toInt

  val AudioRate = 8000

  /** Synthesize + WAV-encode one PCM clip per audio row: a REAL RIFF
    * byte stream (RIFF/WAVE magic, `fmt ` chunk, an interleaved `LIST`
    * chunk so decoders must genuinely walk the chunk sequence, `data`
    * chunk of little-endian int16 samples) written by hand — WAV's
    * container is simple enough that the encoder is the spec. */
  def audioTable(spark: SparkSession, dir: String): Dataset[AudioRow] = {
    import spark.implicits._
    graft.Tables.scan(spark, s"$dir/documents.parquet")
      .filter(col("doc_id") % 3 === 1)
      .select("doc_id").as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val n = clipSamples(id)
          val info = "GRFT".getBytes("US-ASCII")
          val dataBytes = n * 2
          // RIFF size = WAVE + (fmt 8+16) + (LIST 8+info) + (data 8+n*2)
          val riffSize = 4 + 24 + (8 + info.length) + (8 + dataBytes)
          val bb = java.nio.ByteBuffer.allocate(8 + riffSize)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          bb.put("RIFF".getBytes("US-ASCII")).putInt(riffSize)
            .put("WAVE".getBytes("US-ASCII"))
          bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
            .putShort(1) // PCM
            .putShort(1) // mono
            .putInt(AudioRate)
            .putInt(AudioRate * 2) // byte rate
            .putShort(2) // block align
            .putShort(16) // bits per sample
          bb.put("LIST".getBytes("US-ASCII")).putInt(info.length).put(info)
          bb.put("data".getBytes("US-ASCII")).putInt(dataBytes)
          var i = 0
          while (i < n) { bb.putShort(sampleAt(id, i).toShort); i += 1 }
          AudioRow(id, bb.array())
        }
      }
  }

  /** Batched REAL WAV decode: validates the RIFF/WAVE magic, walks the
    * chunk sequence (skipping unknown chunks — the encoder plants a
    * `LIST` chunk precisely so a header-offset cheat would break),
    * reads the PCM format fields from `fmt `, then decodes the int16
    * samples and computes peak amplitude + the 31-fold checksum over
    * the DECODED samples. */
  def decodeAudio(audio: Dataset[AudioRow]): Dataset[DecodedAudio] = {
    import audio.sparkSession.implicits._
    audio.mapPartitions { rows =>
      rows.map { r =>
        val bb = java.nio.ByteBuffer.wrap(r.payload)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        def tag(): String = {
          val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
        }
        require(tag() == "RIFF", "not a RIFF stream")
        bb.getInt() // riff size
        require(tag() == "WAVE", "not a WAVE stream")
        var rate = 0
        var samples: Array[Short] = null
        while (bb.remaining() >= 8) {
          val id = tag()
          val size = bb.getInt()
          id match {
            case "fmt " =>
              val fmtEnd = bb.position() + size
              require(bb.getShort() == 1, "not PCM")
              require(bb.getShort() == 1, "not mono")
              rate = bb.getInt()
              bb.getInt(); bb.getShort() // byte rate, block align
              require(bb.getShort() == 16, "not 16-bit")
              bb.position(fmtEnd)
            case "data" =>
              samples = Array.ofDim[Short](size / 2)
              var i = 0
              while (i < samples.length) { samples(i) = bb.getShort(); i += 1 }
            case _ => // skip unknown chunks (word-aligned)
              bb.position(bb.position() + size + (size & 1))
          }
        }
        require(rate > 0 && samples != null, "missing fmt/data chunk")
        var cs = 0L
        var peak = 0
        var i = 0
        while (i < samples.length) {
          val s = samples(i).toInt
          if (math.abs(s) > peak) peak = math.abs(s)
          cs = (cs * 31 + (s + 32768)) % 1000000007L
          i += 1
        }
        DecodedAudio(r.media_id, rate, samples.length.toLong,
          samples.length.toLong * 1000 / rate, peak, cs)
      }
    }
  }

  // ------------------------------------------------------------------
  // Video: multi-frame animated GIF via javax.imageio (lossless for
  // 8-bit grayscale palettes — frame pixels survive exactly).
  // ------------------------------------------------------------------

  final case class VideoRow(media_id: Long, payload: Array[Byte])

  final case class SampledFrame(
      media_id: Long, frame_idx: Long, width: Int, height: Int, checksum: Long)

  /** Frames per clip (2-5 — every frame's pixels are oracle-recomputed). */
  def clipFrames(id: Long): Int = (id % 4 + 2).toInt

  /** Grayscale value of frame `f` at (x, y) — [[pixel]] with a
    * per-frame offset. */
  def framePixel(id: Long, f: Int, x: Int, y: Int): Int =
    pixel(id + 997L * f, x, y)

  /** Render + encode one multi-frame animated GIF per video row using
    * the JDK's GIF sequence writer — a real multi-image container, so
    * frame EXTRACTION below exercises genuine positioned decode. */
  def videoTable(spark: SparkSession, dir: String): Dataset[VideoRow] = {
    import spark.implicits._
    graft.Tables.scan(spark, s"$dir/documents.parquet")
      .filter(col("doc_id") % 3 === 2)
      .select("doc_id").as[Long]
      .mapPartitions { ids =>
        ImageIO.setUseCache(false)
        val writer = ImageIO.getImageWritersByFormatName("gif").next()
        ids.map { id =>
          val (w, h) = dims(id)
          val buf = new ByteArrayOutputStream()
          val ios = ImageIO.createImageOutputStream(buf)
          // the writer is SHARED across the partition's rows: a throw
          // mid-sequence would leave it in an open-sequence state and
          // the stream handle leaked, so the NEXT row's
          // prepareWriteSequence fails too — confine a bad row's damage
          // to itself
          try {
            writer.setOutput(ios)
            writer.prepareWriteSequence(null)
            var f = 0
            while (f < clipFrames(id)) {
              val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
              val raster = img.getRaster
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) { raster.setSample(x, y, 0, framePixel(id, f, x, y)); x += 1 }
                y += 1
              }
              writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
              f += 1
            }
            writer.endWriteSequence()
          } catch {
            case e: Throwable =>
              writer.reset() // clears the open sequence for the next row
              throw e
          } finally ios.close()
          VideoRow(id, buf.toByteArray)
        }
      }
  }

  /** Decode every `step`-th frame of each clip: a positioned
    * `ImageReader.read(frameIndex)` against the real GIF stream, then a
    * checksum over the DECODED frame (via the color model — the GIF
    * palette index is not the gray value). */
  def sampleFramesDecoded(videos: Dataset[VideoRow], step: Int): Dataset[SampledFrame] = {
    import videos.sparkSession.implicits._
    videos.mapPartitions { rows =>
      // decoder instantiated once per partition, re-targeted per clip
      ImageIO.setUseCache(false)
      val reader = ImageIO.getImageReadersByFormatName("gif").next()
      rows.flatMap { r =>
        val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(r.payload))
        reader.setInput(iis)
        val n = reader.getNumImages(true)
        val out = (0 until n by step).map { f =>
          val img = reader.read(f)
          val (w, h) = (img.getWidth, img.getHeight)
          var cs = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              cs = (cs * 31 + (img.getRGB(x, y) & 0xFF)) % 1000000007L
              x += 1
            }
            y += 1
          }
          SampledFrame(r.media_id, f.toLong, w, h, cs)
        }
        iis.close()
        out
      }
    }
  }

  /** Build a media table from the documents fixture: payload = UTF-8
    * bytes of the text, metadata derived deterministically. Stands in
    * for `spark.read.format("binaryFile")` at test scale; the audio/
    * video rows carry synthetic payloads (no AV codec in this
    * container), the image DECODE path is [[imageTable]] +
    * [[decodeImages]]. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.scan(spark, s"$dir/documents.parquet")
      .select(col("doc_id").as("media_id"),
        struct(
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio").otherwise("video").as("mediaType"),
          (col("doc_id") % 640 + 64).cast("int").as("width"),
          (col("doc_id") % 480 + 48).cast("int").as("height"),
          (col("n_chars") * 10).as("durationMs")).as("meta"),
        col("text").cast("binary").as("payload"))
      .as[MediaRow]
  }

  /** Frame sampling for video rows: one output row per sampled frame
    * offset (every `stepMs`), via a generator column; the per-frame
    * fingerprint hashes (payload, offset) — the AV payloads are
    * synthetic, the generator/explode plumbing is the real shape. */
  def sampleFrames(media: Dataset[MediaRow], stepMs: Long): DataFrame = {
    val df = media.toDF()
    df.filter(col("meta.mediaType") === "video")
      // zero-duration media has no frames: an unguarded sequence(0, -1,
      // step) throws 'Illegal sequence boundaries' at runtime while the
      // oracle's range() yields empty — same guard class as the
      // short-document gram fixes
      .withColumn("frame_ms",
        explode(expr(
          s"""CASE WHEN meta.durationMs > 0
              THEN sequence(0L, meta.durationMs - 1, ${stepMs}L)
              ELSE array() END""")))
      .select(col("media_id"), col("frame_ms"),
        xxhash64(col("payload"), col("frame_ms")).as("frame_fingerprint"))
  }
}
