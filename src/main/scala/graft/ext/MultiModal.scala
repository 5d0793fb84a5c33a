package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata (north-star extension surface).
  *
  * The decode step is REAL for PNG, JPEG (baseline, extended-sequential
  * and progressive SOF2) and GIF images ([[Png]], [[Jpeg]], [[Gif]] —
  * the JDK's `javax.imageio` codecs behind one guarded helper, GIF
  * composited onto its logical screen) and RIFF/WAVE PCM-16 audio
  * ([[Wav]] — the JDK's `javax.sound.sampled`), plus the two formats
  * the JDK has no codec for, P6 images and uncompressed RIFF/AVI
  * BI_RGB video ([[Ppm]], [[Avi]] — plain Scala). Header parse →
  * luma/RMS/frame features → thumbnail/downsample/frame-sample thus
  * run genuinely on executors with no dependency beyond the JDK. It is
  * STUBBED only for formats whose codecs genuinely require external
  * libraries (MP3/H.264 — none exist in this environment) with a
  * deterministic byte-math fake, clearly marked below. Everything
  * around either path is the real Spark shape:
  *  - a fixed media schema (content bytes + mime + dimensions);
  *  - per-partition batch processing via `Dataset.mapPartitions` (the
  *    Scala analogue of a batched pandas UDF: one task consumes a whole
  *    partition's iterator, so a real decoder would amortize model/codec
  *    init across the batch exactly like `mapInPandas`);
  *  - column-level byte ops (length / slice / hash) that stay in
  *    whole-stage codegen and never deserialize the payload to the JVM
  *    heap more than once.
  *
  * Scale posture: media rows are large and skew-prone — the partitioning
  * unit is the row (payloads are opaque), `maxPartitionBytes` governs
  * scan parallelism, and nothing here collects payloads to the driver.
  */
object MultiModal {

  /** One media row: opaque payload + typed metadata. */
  final case class MediaRecord(
      doc_id: Long, mime: String, width: Int, height: Int,
      content: Array[Byte])

  /** Output of the (stubbed) decode/feature-extract stage; `thumb` is
    * the resize stub's output payload.
    */
  final case class MediaFeatures(
      doc_id: Long, byte_len: Long, checksum: Long,
      brightness: Double, n_frames: Int, thumb: Array[Byte])

  /** STUB resize: deterministic byte subsampling standing in for a real
    * scaler — keeps every `factor`-th byte, preserving payload order.
    * Like [[featurize]]'s decode, only this body changes in production;
    * the batched dataflow is final.
    */
  def resizeStub(bytes: Array[Byte], factor: Int): Array[Byte] = {
    require(factor > 0)
    val out = new Array[Byte]((bytes.length + factor - 1) / factor)
    var i = 0
    while (i < out.length) { out(i) = bytes(i * factor); i += 1 }
    out
  }

  /** Wrap a text corpus as fake media rows (payload = UTF-8 bytes). The
    * driver provides no true binary fixtures, so tests and demo queries
    * derive payloads deterministically from `documents.text`.
    */
  def packFromText(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(
      col("doc_id"),
      lit("image/fake").as("mime"),
      pmod(col("n_chars"), lit(640)).cast("int").as("width"),
      pmod(col("doc_id") * 7, lit(480)).cast("int").as("height"),
      col("text").cast("binary").as("content"))
      .as[MediaRecord]
  }

  /** STUB decoder: deterministic byte math standing in for a real codec.
    * A production build swaps only this function's body for e.g. a JNI
    * image decoder; the partition-batched dataflow around it is final.
    */
  private def decodeStub(bytes: Array[Byte]): (Long, Double) = {
    var sum = 0L
    var i = 0
    while (i < bytes.length) {
      sum += (bytes(i) & 0xff)
      i += 1
    }
    val brightness = if (bytes.isEmpty) 0.0 else sum.toDouble / bytes.length / 255.0
    (checksum(bytes), brightness)
  }

  /** Column-level "frame sampling": n evenly-spaced fixed-width byte
    * slices of the payload (a real video op would seek key-frames; the
    * slicing/plumbing is the part Spark owns). Stays in codegen —
    * `substring` on binary is a byte slice.
    */
  def frameSample(content: org.apache.spark.sql.Column, n: Int, frameBytes: Int = 8)
      : org.apache.spark.sql.Column =
    transform(sequence(lit(0), lit(n - 1)), i =>
      substring(content, (i * (length(content) / n) + 1).cast("int"), lit(frameBytes)))

  /** Batched feature extraction: one task drains one partition's
    * iterator (the `mapInPandas` batch shape). Codec init would go at
    * the top of the lambda, once per partition.
    *
    * P6 payloads take the REAL image path: decoded pixels, Rec.709
    * mean luma as `brightness`, and a half-size nearest-neighbor
    * thumbnail re-encoded as valid P6 in `thumb`. RIFF/WAVE PCM-16
    * payloads take the REAL audio path: decoded samples, RMS level
    * (fraction of full scale) as `brightness`, channel count as
    * `n_frames`, and a 2× downsample re-encoded as valid WAV in
    * `thumb`. Uncompressed RIFF/AVI payloads take the REAL video path:
    * decoded frames, mean Rec.709 luma ACROSS frames as `brightness`,
    * the true frame count as `n_frames`, and an every-2nd-frame
    * temporal sample re-encoded as valid AVI in `thumb`. PNG, JPEG
    * (baseline, extended-sequential and progressive SOF2) and GIF
    * payloads (frame 1 composited onto the logical screen) take the
    * same image path through the JDK codecs behind [[Png]], [[Jpeg]]
    * and [[Gif]], each thumb re-encoded in its own format. Anything
    * all six decoders reject (remaining codec-requiring formats —
    * MP3/H.264 — and malformed payloads) falls back to the documented
    * stub — a bad payload must degrade, never fail the task.
    * CodecContractSpec asserts these claims against the dispatch
    * chain so the docs can't drift from the code again.
    */
  def featurize(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      // real impl: val codec = Codec.open() — once per batch, here
      batch.map { r =>
        // image router: decoded raster (whatever the container) →
        // one shared feature path; each codec re-encodes its own thumb
        def imageFeatures(img: Ppm.Image,
            reEncode: Ppm.Image => Array[Byte]): MediaFeatures = {
          val thumb = Ppm.resize(img,
            math.max(1, img.width / 2), math.max(1, img.height / 2))
          MediaFeatures(r.doc_id, r.content.length.toLong,
            checksum(r.content), Ppm.meanLuma(img), 1, reEncode(thumb))
        }
        Ppm.decode(r.content).map(imageFeatures(_, Ppm.encode))
          // the compressed image formats, through the JDK codecs
          .orElse(Png.decode(r.content).map(imageFeatures(_, Png.encode)))
          // JPEG: baseline, extended-sequential AND progressive (SOF2),
          // the dominant real-world image format, web crawls included
          .orElse(Jpeg.decode(r.content)
            .map(imageFeatures(_, Jpeg.encode(_))))
          // GIF: frame 1 on the logical screen; thumb re-encoded with an
          // exact palette (resize introduces no colors beyond the source's)
          .orElse(Gif.decode(r.content)
            .map(imageFeatures(_, Gif.encodeRgb)))
          .orElse(Wav.decode(r.content).map(clip =>
            MediaFeatures(r.doc_id, r.content.length.toLong,
              checksum(r.content), Wav.rmsMilli(clip) / 1000.0,
              clip.channels, Wav.encode(Wav.downsample(clip, 2)))))
          .orElse(Avi.decode(r.content).map(vid =>
            MediaFeatures(r.doc_id, r.content.length.toLong,
              checksum(r.content), Avi.meanLuma(vid), vid.nFrames,
              Avi.encode(Avi.frameSample(vid, 2)))))
          .getOrElse {
            val (ck, brightness) = decodeStub(r.content)
            val frames = 1 + (r.content.length % 4) // stub "frame sample" count
            MediaFeatures(r.doc_id, r.content.length.toLong, ck, brightness,
              frames, resizeStub(r.content, 4))
          }
      }
    }
  }

  /** Payload checksum shared by both decode paths (polynomial byte
    * hash mod a prime — cheap, deterministic, order-sensitive).
    */
  private def checksum(bytes: Array[Byte]): Long = {
    var ck = 0L
    var i = 0
    while (i < bytes.length) {
      ck = (ck * 31 + (bytes(i) & 0xff)) % 1000000007L
      i += 1
    }
    ck
  }

  /** Deterministic synthetic P6 fixtures from the documents table: a
    * `w×h` image whose pixel (x,y) channels are byte functions of
    * (doc_id, x, y) — real decodable rasters without binary fixtures
    * on disk, same trick as [[packFromText]]'s fake payloads.
    */
  def packPpm(docs: DataFrame, w: Int = 16, h: Int = 12): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val px = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val i = (y * w + x) * 3
          px(i) = ((id + x * 7 + y * 13) % 256).toByte
          px(i + 1) = ((id * 3 + x * 11 + y) % 256).toByte
          px(i + 2) = ((id * 5 + x + y * 17) % 256).toByte
          x += 1
        }
        y += 1
      }
      MediaRecord(id, "image/x-portable-pixmap", w, h,
        Ppm.encode(Ppm.Image(w, h, px)))
    }
  }

  /** Deterministic synthetic JPEG fixtures from the documents table —
    * [[packPpm]]'s raster function through the baseline encoder, so the
    * payloads exercise the full JPEG decode path on executors.
    * Default 32×24: big enough for 12 MCUs, small enough to keep the
    * fixture corpus cheap.
    */
  def packJpeg(docs: DataFrame, w: Int = 32, h: Int = 24,
      quality: Int = 90): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val px = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val i = (y * w + x) * 3
          px(i) = ((id + x * 7 + y * 13) % 256).toByte
          px(i + 1) = ((id * 3 + x * 11 + y) % 256).toByte
          px(i + 2) = ((id * 5 + x + y * 17) % 256).toByte
          x += 1
        }
        y += 1
      }
      MediaRecord(id, "image/jpeg", w, h,
        Jpeg.encode(Ppm.Image(w, h, px), quality))
    }
  }

  /** Deterministic synthetic WAV fixtures from the documents table:
    * `n` mono PCM-16 frames whose sample i is an integer function of
    * (doc_id, i) — real decodable clips without binary fixtures on
    * disk, the audio analogue of [[packPpm]]. width carries the frame
    * count, height the channel count.
    */
  def packWav(
      docs: DataFrame, sampleRate: Int = 8000, n: Int = 256): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val samples = new Array[Short](n)
      var i = 0
      while (i < n) {
        samples(i) = (((id * 31 + i.toLong * i * 7) % 65536) - 32768).toShort
        i += 1
      }
      MediaRecord(id, "audio/wav", n, 1,
        Wav.encode(Wav.Audio(sampleRate, 1, samples)))
    }
  }

  /** Deterministic synthetic uncompressed-AVI fixtures from the
    * documents table: `n` frames of `w×h` whose pixel (f,x,y) channels
    * are byte functions of (doc_id, f, x, y) — real decodable video
    * without binary fixtures on disk, the video analogue of
    * [[packPpm]]/[[packWav]]. width/height carry the raster geometry.
    */
  def packAvi(
      docs: DataFrame, w: Int = 8, h: Int = 6, n: Int = 4,
      microsPerFrame: Int = 40000): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val frames = Vector.tabulate(n) { f =>
        val px = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val i = (y * w + x) * 3
            px(i) = ((id + f * 19 + x * 7 + y * 13) % 256).toByte
            px(i + 1) = ((id * 3 + f * 5 + x * 11 + y) % 256).toByte
            px(i + 2) = ((id * 5 + f + x + y * 17) % 256).toByte
            x += 1
          }
          y += 1
        }
        px
      }
      MediaRecord(id, "video/avi", w, h,
        Avi.encode(Avi.Video(w, h, microsPerFrame, frames)))
    }
  }
}
