package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: images/audio/video ride the pipeline
  * as opaque `binary` columns with typed metadata, exactly like
  * bytea payloads ride the CDC envelope. The Spark-side plumbing —
  * schema, batched per-partition execution, feature/frame shapes —
  * is real, and so are the IMAGE codec ([[ImageIoDecoder]], pure-JDK
  * javax.imageio: decode, channel statistics, bilinear resize), the
  * AUDIO codec ([[AudioWavDecoder]], pure-JDK javax.sound.sampled:
  * WAV/AU/AIFF → PCM statistics + frame seek table), and the VIDEO
  * container parser ([[Mp4Decoder]], the public ISO/IEC 14496-12 box
  * structure: movie/track headers and the sample tables → duration,
  * dimensions, fps, and the keyframe byte-offset seek table). Only
  * video PIXEL decode stays out of scope (no video codec ships with
  * the JDK): plug a JNI/Java codec in without touching the plan.
  *
  * Scale design: decode runs inside `mapPartitions` so each task
  * initialises its decoder once and streams its split — the Scala
  * analogue of `mapInPandas` batches. No driver collect, no shuffle;
  * parallelism = input splits.
  */
object MultimodalOps {

  /** The typed metadata carried alongside every media payload. */
  val mediaMetaType: StructType = StructType(Seq(
    StructField("kind", StringType), // image | audio | video
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("duration_ms", IntegerType)))

  def mediaSchema(idType: DataType = LongType): StructType = StructType(Seq(
    StructField("media_id", idType),
    StructField("payload", BinaryType),
    StructField("meta", mediaMetaType)))

  /** Pluggable codec boundary. Implementations must be serializable
    * (instantiated per executor task). */
  trait MediaDecoder extends Serializable {
    /** Fixed-length feature vector for one payload. */
    def features(kind: String, payload: Array[Byte]): Array[Float]
    /** Byte offsets of sampled frames (video) — plumbing contract
      * for frame extraction. */
    def frameOffsets(payload: Array[Byte], everyNth: Int): Array[Long]
    /** Transcode the payload to the target dimensions; identity for
      * codecs that can't (the caller still rewrites metadata). */
    def resizePayload(payload: Array[Byte], w: Int, h: Int): Array[Byte] = payload
  }

  /** STUB decoder — deterministic fake standing in for a real codec.
    * Features are byte statistics (mean/min/max/length buckets), so
    * tests exercise the full distributed path with stable outputs.
    */
  final class StubDecoder(featureDim: Int = 8) extends MediaDecoder {
    override def features(kind: String, payload: Array[Byte]): Array[Float] = {
      val out = new Array[Float](featureDim)
      if (payload.nonEmpty) {
        var i = 0
        while (i < payload.length) {
          out(i % featureDim) += (payload(i) & 0xff) / 255.0f
          i += 1
        }
        var j = 0
        while (j < featureDim) { out(j) = out(j) / payload.length * featureDim; j += 1 }
      }
      out
    }
    override def frameOffsets(payload: Array[Byte], everyNth: Int): Array[Long] =
      (0L until payload.length.toLong by everyNth.toLong).toArray

    /** Deterministic fake resize: byte decimation proportional to the
      * target area — STUB for a real scaler. */
    def resizeStub(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
      if (payload.isEmpty) return payload
      val target = math.max(1, math.min(payload.length, w * h))
      val step = math.max(1, payload.length / target)
      payload.indices.by(step).map(payload).toArray
    }
    override def resizePayload(payload: Array[Byte], w: Int, h: Int): Array[Byte] =
      resizeStub(payload, w, h)
  }

  /** REAL image codec over `javax.imageio` — pure JDK, headless-safe,
    * no external libraries. Image payloads (PNG/JPEG/GIF/BMP — any
    * registered ImageIO reader) decode to pixels; the feature vector
    * is [width/4096, height/4096, aspect, mean R, mean G, mean B,
    * luma mean, luma stddev] (all but the first three in [0,1]).
    * Non-image kinds and undecodable payloads fall back to the
    * deterministic byte statistics of [[StubDecoder]], so a corrupt
    * blob degrades instead of failing the task. `resizePayload`
    * really scales: Graphics2D bilinear onto a target canvas,
    * re-encoded as PNG.
    */
  final class ImageIoDecoder(featureDim: Int = 8) extends MediaDecoder {
    private def decode(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
      if (payload == null || payload.isEmpty) None
      else try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload)))
      catch { case _: java.io.IOException => None }

    override def features(kind: String, payload: Array[Byte]): Array[Float] = {
      val img = if (kind == "image") decode(payload) else None
      img match {
        case None => new StubDecoder(featureDim).features(kind, payload)
        case Some(im) =>
          val (w, h) = (im.getWidth, im.getHeight)
          var (sr, sg, sb, sl, sl2) = (0.0, 0.0, 0.0, 0.0, 0.0)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = im.getRGB(x, y)
              val r = ((rgb >> 16) & 0xff) / 255.0
              val g = ((rgb >> 8) & 0xff) / 255.0
              val b = (rgb & 0xff) / 255.0
              val luma = 0.299 * r + 0.587 * g + 0.114 * b
              sr += r; sg += g; sb += b; sl += luma; sl2 += luma * luma
              x += 1
            }
            y += 1
          }
          val n = (w.toLong * h).toDouble
          val lumaMean = sl / n
          val lumaStd = math.sqrt(math.max(0.0, sl2 / n - lumaMean * lumaMean))
          val out = Array(w / 4096.0f, h / 4096.0f, w.toFloat / h,
            (sr / n).toFloat, (sg / n).toFloat, (sb / n).toFloat,
            lumaMean.toFloat, lumaStd.toFloat)
          if (out.length >= featureDim) out.take(featureDim)
          else out ++ Array.fill(featureDim - out.length)(0.0f)
      }
    }

    // no JDK video codec: keep the stub's byte-stride offsets so the
    // frame-sampling PLAN stays exercised end to end
    override def frameOffsets(payload: Array[Byte], everyNth: Int): Array[Long] =
      (0L until payload.length.toLong by everyNth.toLong).toArray

    override def resizePayload(payload: Array[Byte], w: Int, h: Int): Array[Byte] =
      decode(payload) match {
        case None => payload // not an image: pass through untouched
        case Some(im) =>
          val target = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = target.createGraphics()
          try {
            g.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(im, 0, 0, w, h, null)
          } finally g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(target, "png", bos)
          bos.toByteArray
      }
  }

  /** REAL audio codec over `javax.sound.sampled` — pure JDK. WAV/AU/
    * AIFF payloads decode to PCM; the feature vector is
    * [sampleRate/48000, channels, duration_s, RMS, peak, zero-crossing
    * rate, mean, stddev] over the normalized [-1,1] samples. Non-audio
    * kinds and undecodable payloads fall back to [[StubDecoder]] byte
    * statistics (degrade, don't fail the task), mirroring
    * [[ImageIoDecoder]]. `frameOffsets` returns the byte offset of
    * every Nth PCM frame *after the header* — the real seek table an
    * audio chunker needs, not a byte stride.
    */
  final class AudioWavDecoder(featureDim: Int = 8) extends MediaDecoder {
    import javax.sound.sampled.{AudioFormat, AudioSystem}

    private def pcmStream(payload: Array[Byte]) =
      if (payload == null || payload.isEmpty) None
      else try {
        val in = AudioSystem.getAudioInputStream(
          new java.io.BufferedInputStream(new java.io.ByteArrayInputStream(payload)))
        val f = in.getFormat
        // normalise to signed 16-bit PCM so sample maths is uniform
        val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
          f.getSampleRate, 16, f.getChannels, f.getChannels * 2,
          f.getSampleRate, false)
        Some(AudioSystem.getAudioInputStream(target, in))
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => None
        case _: java.io.IOException => None
      }

    override def features(kind: String, payload: Array[Byte]): Array[Float] = {
      val pcm = if (kind == "audio") pcmStream(payload) else None
      pcm match {
        case None => new StubDecoder(featureDim).features(kind, payload)
        case Some(in) =>
          try {
            val fmt = in.getFormat
            val buf = new Array[Byte](8192)
            var n = 0L
            var (sum, sumSq, peak, crossings) = (0.0, 0.0, 0.0, 0L)
            var prevSign = 0
            var read = in.read(buf)
            while (read > 0) {
              var i = 0
              while (i + 1 < read) {
                // little-endian signed 16-bit
                val s = ((buf(i + 1) << 8) | (buf(i) & 0xff)).toShort / 32768.0
                sum += s; sumSq += s * s
                if (math.abs(s) > peak) peak = math.abs(s)
                val sign = if (s > 0) 1 else if (s < 0) -1 else prevSign
                if (prevSign != 0 && sign != prevSign) crossings += 1
                prevSign = sign
                n += 1
                i += 2
              }
              read = in.read(buf)
            }
            val samples = math.max(1L, n).toDouble
            val mean = sum / samples
            val rms = math.sqrt(sumSq / samples)
            val std = math.sqrt(math.max(0.0, sumSq / samples - mean * mean))
            val frames = n / math.max(1, fmt.getChannels)
            val out = Array(
              fmt.getSampleRate / 48000.0f, fmt.getChannels.toFloat,
              (frames / fmt.getSampleRate.toDouble).toFloat,
              rms.toFloat, peak.toFloat,
              (crossings / samples).toFloat, mean.toFloat, std.toFloat)
            if (out.length >= featureDim) out.take(featureDim)
            else out ++ Array.fill(featureDim - out.length)(0.0f)
          } finally in.close()
      }
    }

    /** Byte offsets of every Nth PCM frame relative to the decoded
      * stream start — header-aware (frame size × index), unlike the
      * stub's raw byte stride. */
    override def frameOffsets(payload: Array[Byte], everyNth: Int): Array[Long] =
      pcmStream(payload) match {
        case None => (0L until (if (payload == null) 0L else payload.length.toLong)
          by everyNth.toLong).toArray
        case Some(in) =>
          try {
            val frameSize = in.getFormat.getFrameSize.toLong
            val totalFrames = in.getFrameLength
            if (totalFrames <= 0) Array.empty[Long]
            else (0L until totalFrames by everyNth.toLong)
              .map(_ * frameSize).toArray
          } finally in.close()
      }
  }

  /** REAL video container parser over the public ISO base-media file
    * format (ISO/IEC 14496-12 — MP4/MOV box structure) — pure JVM, no
    * codec, no libraries. The box grammar is `[u32 size][4cc type]
    * [payload]` with containers nesting child boxes directly; the
    * parser walks `moov` → `mvhd` (movie timescale/duration), per
    * `trak`: `tkhd` (16.16 fixed-point width/height), `mdia/hdlr`
    * (handler `vide` selects the video track), `mdia/mdhd` (track
    * timescale/duration), and the `stbl` sample tables: `stss` (sync
    * samples = keyframes), `stsz` (sample sizes), `stsc` (sample→chunk
    * runs), `stco`/`co64` (chunk file offsets).
    *
    * `features` = [duration_s, width/4096, height/4096, track count,
    * fps, sample count, keyframe count, mean sample bytes/1e6].
    * `frameOffsets(n)` = the file byte offset of every Nth KEYFRAME
    * (or every Nth sample when `stss` is absent — all samples are sync
    * then, per the spec), resolved through stsc/stco/stsz exactly as a
    * player's demuxer would: chunk base offset + preceding in-chunk
    * sample sizes. That is the real seek table a frame-sampling
    * pipeline hands to a downstream codec. Malformed payloads and
    * non-video kinds degrade to [[StubDecoder]] byte statistics
    * (degrade, don't fail the task), mirroring the other codecs.
    * Pixel decode (`resizePayload`) stays identity — no JDK video
    * codec exists; a real one slots in without touching the plan.
    */
  final class Mp4Decoder(featureDim: Int = 8) extends MediaDecoder {
    import Mp4Decoder._

    override def features(kind: String, payload: Array[Byte]): Array[Float] = {
      val parsed = if (kind == "video") parse(payload) else None
      parsed match {
        case None => new StubDecoder(featureDim).features(kind, payload)
        case Some(p) =>
          val durS = if (p.movieTimescale > 0)
            p.movieDuration.toDouble / p.movieTimescale else 0.0
          val (w, h) = p.video.map(t => (t.width, t.height)).getOrElse((0f, 0f))
          val nSamples = p.video.map(_.sampleCount).getOrElse(0)
          val trackDurS = p.video.collect {
            case t if t.timescale > 0 => t.duration.toDouble / t.timescale
          }.getOrElse(0.0)
          val fps = if (trackDurS > 0) nSamples / trackDurS else 0.0
          val nSync = p.video.map(t =>
            if (t.syncSamples.nonEmpty) t.syncSamples.length else t.sampleCount)
            .getOrElse(0)
          val meanBytes = p.video.map { t =>
            if (t.sampleCount == 0) 0.0
            else if (t.fixedSampleSize != 0) t.fixedSampleSize.toDouble
            else t.sampleSizes.sum.toDouble / t.sampleCount
          }.getOrElse(0.0)
          val out = Array(durS.toFloat, w / 4096.0f, h / 4096.0f,
            p.trackCount.toFloat, fps.toFloat, nSamples.toFloat,
            nSync.toFloat, (meanBytes / 1e6).toFloat)
          if (out.length >= featureDim) out.take(featureDim)
          else out ++ Array.fill(featureDim - out.length)(0.0f)
      }
    }

    override def frameOffsets(payload: Array[Byte], everyNth: Int): Array[Long] =
      parse(payload).flatMap(_.video) match {
        case None =>
          (0L until (if (payload == null) 0L else payload.length.toLong)
            by math.max(1, everyNth).toLong).toArray
        case Some(t) =>
          val samples: Seq[Int] =
            if (t.syncSamples.nonEmpty) t.syncSamples else 1 to t.sampleCount
          samples.zipWithIndex.collect {
            case (s, i) if i % math.max(1, everyNth) == 0 => sampleOffset(t, s)
          }.toArray
      }
  }

  object Mp4Decoder {
    private final case class Box(typ: String, payloadStart: Int, end: Int)

    final case class VideoTrack(
        width: Float, height: Float, timescale: Long, duration: Long,
        sampleCount: Int, fixedSampleSize: Long, sampleSizes: IndexedSeq[Long],
        syncSamples: IndexedSeq[Int], chunkOffsets: IndexedSeq[Long],
        samplesPerChunkRuns: IndexedSeq[(Int, Int)]) // (first_chunk, samples_per_chunk)

    final case class Parsed(movieTimescale: Long, movieDuration: Long,
        trackCount: Int, video: Option[VideoTrack])

    private def u32(b: Array[Byte], i: Int): Long =
      ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
        ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
    private def u64(b: Array[Byte], i: Int): Long = (u32(b, i) << 32) | u32(b, i + 4)

    /** Child boxes of the byte range [from, to) — defensive: a
      * malformed header (size < 8, overrun) terminates the walk. */
    private def boxes(b: Array[Byte], from: Int, to: Int): List[Box] = {
      val out = List.newBuilder[Box]
      var i = from
      var ok = true
      while (ok && i + 8 <= to) {
        val size32 = u32(b, i)
        val typ = new String(b, i + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val (payloadStart, size): (Int, Long) =
          if (size32 == 1L && i + 16 <= to) (i + 16, u64(b, i + 8))
          else if (size32 == 0L) (i + 8, (to - i).toLong) // runs to end
          else (i + 8, size32)
        val end = i.toLong + size
        if (size < 8 || end > to) ok = false
        else { out += Box(typ, payloadStart, end.toInt); i = end.toInt }
      }
      out.result()
    }
    private def child(b: Array[Byte], p: Box, typ: String): Option[Box] =
      boxes(b, p.payloadStart, p.end).find(_.typ == typ)
    private def version(b: Array[Byte], box: Box): Int = b(box.payloadStart) & 0xff

    /** mvhd/mdhd share a layout: (timescale, duration) after the
      * version-dependent creation/modification stamps. */
    private def timescaleDuration(b: Array[Byte], box: Box): (Long, Long) = {
      val p = box.payloadStart + 4 // skip version/flags
      if (version(b, box) == 1) (u32(b, p + 16), u64(b, p + 20))
      else (u32(b, p + 8), u32(b, p + 12))
    }

    private def parseTrack(b: Array[Byte], trak: Box): Option[VideoTrack] = for {
      mdia <- child(b, trak, "mdia")
      hdlr <- child(b, mdia, "hdlr")
      handler = new String(b, hdlr.payloadStart + 8, 4,
        java.nio.charset.StandardCharsets.US_ASCII)
      if handler == "vide"
      tkhd <- child(b, trak, "tkhd")
      mdhd <- child(b, mdia, "mdhd")
      stbl <- child(b, mdia, "minf").flatMap(child(b, _, "stbl"))
      stsz <- child(b, stbl, "stsz")
      stco <- child(b, stbl, "stco").orElse(child(b, stbl, "co64"))
      stsc <- child(b, stbl, "stsc")
    } yield {
      // tkhd: width/height are 16.16 fixed point after the version-
      // dependent header + 52 bytes of layer/volume/matrix fields
      val whBase = tkhd.payloadStart + 4 + (if (version(b, tkhd) == 1) 32 else 20) + 52
      val (w, h) = (u32(b, whBase) / 65536.0f, u32(b, whBase + 4) / 65536.0f)
      val (ts, dur) = timescaleDuration(b, mdhd)
      val fixedSize = u32(b, stsz.payloadStart + 4)
      val sampleCount = u32(b, stsz.payloadStart + 8).toInt
      val sizes: IndexedSeq[Long] =
        if (fixedSize != 0) IndexedSeq.empty
        else (0 until sampleCount).map(i => u32(b, stsz.payloadStart + 12 + 4 * i))
      val sync: IndexedSeq[Int] = child(b, stbl, "stss").map { st =>
        val n = u32(b, st.payloadStart + 4).toInt
        (0 until n).map(i => u32(b, st.payloadStart + 8 + 4 * i).toInt)
      }.getOrElse(IndexedSeq.empty)
      val wide = stco.typ == "co64"
      val nChunks = u32(b, stco.payloadStart + 4).toInt
      val chunkOffs = (0 until nChunks).map(i =>
        if (wide) u64(b, stco.payloadStart + 8 + 8 * i)
        else u32(b, stco.payloadStart + 8 + 4 * i))
      val nRuns = u32(b, stsc.payloadStart + 4).toInt
      val runs = (0 until nRuns).map { i =>
        val e = stsc.payloadStart + 8 + 12 * i
        (u32(b, e).toInt, u32(b, e + 4).toInt)
      }
      VideoTrack(w, h, ts, dur, sampleCount, fixedSize, sizes, sync,
        chunkOffs, runs)
    }

    def parse(payload: Array[Byte]): Option[Parsed] =
      if (payload == null || payload.length < 16) None
      else try {
        boxes(payload, 0, payload.length).find(_.typ == "moov").flatMap { moov =>
          val (ts, dur) = child(payload, moov, "mvhd")
            .map(timescaleDuration(payload, _)).getOrElse((0L, 0L))
          val traks = boxes(payload, moov.payloadStart, moov.end)
            .filter(_.typ == "trak")
          if (ts == 0 && traks.isEmpty) None
          else Some(Parsed(ts, dur, traks.size,
            traks.view.flatMap(parseTrack(payload, _)).headOption))
        }
      } catch { case _: RuntimeException => None }

    private def sizeOf(t: VideoTrack, sample: Int): Long =
      if (t.fixedSampleSize != 0) t.fixedSampleSize else t.sampleSizes(sample - 1)

    /** File byte offset of 1-based `sample`: resolve its chunk through
      * the stsc runs, then add the sizes of the preceding samples in
      * that chunk to the chunk's stco base offset. */
    def sampleOffset(t: VideoTrack, sample: Int): Long = {
      require(sample >= 1 && sample <= t.sampleCount, s"sample $sample of ${t.sampleCount}")
      def samplesInChunk(c: Int): Int = {
        var spc = t.samplesPerChunkRuns.headOption.map(_._2).getOrElse(1)
        t.samplesPerChunkRuns.foreach { case (fc, n) => if (fc <= c) spc = n }
        spc
      }
      var chunk = 1
      var firstSampleOfChunk = 1
      while (chunk < t.chunkOffsets.length &&
          firstSampleOfChunk + samplesInChunk(chunk) <= sample) {
        firstSampleOfChunk += samplesInChunk(chunk)
        chunk += 1
      }
      var off = t.chunkOffsets(chunk - 1)
      var s = firstSampleOfChunk
      while (s < sample) { off += sizeOf(t, s); s += 1 }
      off
    }
  }

  /** Decode features for every media row: batched per-partition
    * execution with one decoder per task. Output schema:
    * (media_id, kind, features array<float>).
    */
  def extractFeatures(
      media: DataFrame,
      decoder: MediaDecoder,
      batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", media.schema("media_id").dataType),
      StructField("kind", StringType),
      StructField("features", ArrayType(FloatType))))
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    val metaIdx = media.schema.fieldIndex("meta")
    val rdd = media.rdd.mapPartitions { rows =>
      // decoder initialised once per task; rows processed in batches
      // (the mapInPandas batch shape) to amortise any codec setup
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val meta = r.getStruct(metaIdx)
          val kind = if (meta == null) "unknown" else meta.getString(0)
          val payload = r.getAs[Array[Byte]](payloadIdx)
          Row(r.get(idIdx), kind,
            decoder.features(kind, if (payload == null) Array.emptyByteArray else payload))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Resize/transcode plan: payload → transformed payload with
    * updated metadata, batched per partition like
    * [[extractFeatures]]. The stub decoder "resizes" by deterministic
    * byte decimation; a real codec slots in without changing the
    * plan, schema, or partitioning.
    */
  def resize(
      media: DataFrame,
      decoder: MediaDecoder,
      targetWidth: Int,
      targetHeight: Int,
      batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    val schema = media.schema
    val idIdx = schema.fieldIndex("media_id")
    val payloadIdx = schema.fieldIndex("payload")
    val metaIdx = schema.fieldIndex("meta")
    val rdd = media.rdd.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val meta = r.getStruct(metaIdx)
          val payload = r.getAs[Array[Byte]](payloadIdx)
          val resized = decoder.resizePayload(payload, targetWidth, targetHeight)
          Row(r.get(idIdx), resized,
            if (meta == null) null
            else Row(meta.getString(0), targetWidth, targetHeight,
              meta.get(3), meta.get(4)))
        }
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** dHash: the standard 64-bit difference perceptual hash. Decode,
    * bilinear-resize to 9×8 grayscale, emit one bit per horizontally
    * adjacent luma pair (left > right). Robust to re-encoding,
    * scaling, and mild noise; bit distance ≈ visual distance.
    * Returns None for payloads no ImageIO reader accepts (degrade,
    * don't fail — the [[ImageIoDecoder]] contract).
    */
  def dHash64(payload: Array[Byte]): Option[Long] = {
    val img =
      if (payload == null || payload.isEmpty) None
      else try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload)))
      catch { case _: java.io.IOException => None }
    img.map { im =>
      val target = new java.awt.image.BufferedImage(
        9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = target.createGraphics()
      try {
        g.setRenderingHint(
          java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(im, 0, 0, 9, 8, null)
      } finally g.dispose()
      var bits = 0L
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          val l = target.getRGB(x, y)
          val r = target.getRGB(x + 1, y)
          def luma(rgb: Int): Int =
            (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
              114 * (rgb & 0xff)) / 1000
          if (luma(l) > luma(r)) bits |= 1L << (y * 8 + x)
          x += 1
        }
        y += 1
      }
      bits
    }
  }

  /** Per-image perceptual hashes: (media_id, phash NULLABLE) — null
    * marks payloads that didn't decode (kept, so callers can audit
    * the undecodable fraction). The decode is per-partition
    * imperative work (the sanctioned mapPartitions case, like
    * [[extractFeatures]]); everything downstream is declarative.
    */
  def perceptualHashes(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", media.schema("media_id").dataType),
      StructField("phash", LongType)))
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    val rdd = media.rdd.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        Row(r.get(idIdx), dHash64(payload).map(Long.box).orNull)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Near-duplicate image pairs by banded dHash — the image twin of
    * SimHash text dedup. The 64-bit hash splits into `bands` equal
    * slices; a pair collides iff some slice matches exactly, then the
    * exact bit distance (`bit_count(xor)`, codegen'd) confirms
    * ≤ `maxHamming`. By pigeonhole every pair within `bands − 1` bits
    * is GUARANTEED found (default 4 bands ⇒ distance ≤ 3 exact);
    * beyond that recall degrades gracefully — the standard
    * LSH-for-Hamming trade.
    *
    * Shape at scale: hashes are 8 bytes/image — the self-join runs on
    * the (band, slice) key after a 4× fanout of 12-byte rows, never
    * touching payloads; collisions concentrate only on true
    * near-dups (uniform hash slices otherwise), so no hot buckets.
    * Returns (id_a, id_b, hamming), id_a < id_b, one row per pair.
    */
  def nearDuplicateImages(media: DataFrame, maxHamming: Int = 3,
      bands: Int = 4): DataFrame =
    bandedHammingPairs(
      perceptualHashes(media).where(col("phash").isNotNull), "phash",
      maxHamming, bands)

  /** Self-scaling band count for [[bandedHammingPairs]] — the
    * [[graft.ops.SimilarityOps.selfScalingPlanes]] discipline applied
    * to the 64-bit Hamming family's own ceiling.
    *
    * Fixed bands have a STRUCTURAL ceiling the SRP family doesn't:
    * `bands` slices of `width = 64/bands` bits give `2^width` buckets
    * per band, so a uniform corpus of n hashes holds n/2^width
    * members per bucket and trips the in-plan `failLimit` guard
    * around n_max ≈ 2^(64/bands)·failLimit (bands = 4, failLimit =
    * 200 ⇒ n_max ≈ 1.3·10⁷ media items) — and unlike SRP the total
    * bit budget cannot grow past 64 (pigeonhole binds bands·width =
    * 64). The scale-through is to WIDEN slices as the corpus grows,
    * trading guaranteed radius (bands − 1) for bucket headroom:
    *
    *   width = max(8, ⌈log₂ n⌉ − 3)  rounded up to a divisor of 64
    *   (expected bucket size n/2^width ≤ 8 by construction)
    *
    * n ≤ 2¹¹ ⇒ 8 bands (radius ≤ 7 guaranteed); n ≤ 2¹⁹ ⇒ 4 bands
    * (≤ 3); n ≤ 2³⁵ ⇒ 2 bands (≤ 1, distance-2/3 pairs found with
    * P ≈ 0.49/0.24 — the priced recall trade, cf. the q191-q196
    * nprobe curve); past 2³⁵ ⇒ 1 band (exact-hash duplicates only —
    * at that corpus size a 64-bit fingerprint is saturated and the
    * honest near-dup path is a wider fingerprint, not this family).
    * ⌈log₂ n⌉ is integer-exact (64 − nlz(n−1)) so an oracle deriving
    * the width from COUNT agrees at power-of-two boundaries.
    */
  private[graft] def selfScalingBands(n: Long): Int = {
    require(n >= 0, "corpus count must be non-negative")
    val ceilLog2 =
      if (n <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    val w = math.max(8, ceilLog2 - 3)
    val width = if (w <= 8) 8 else if (w <= 16) 16 else if (w <= 32) 32 else 64
    64 / width
  }

  /** [[bandedHammingPairs]] with the band count derived from the
    * corpus COUNT by [[selfScalingBands]] — the default spelling for
    * a corpus whose size is not known to sit under the fixed-band
    * ceiling. One counting job (metadata-cheap: 8-byte hash rows),
    * then the banded plan at the derived width. */
  def bandedHammingPairsAuto(hashes: DataFrame, hashCol: String,
      maxHamming: Int = 3,
      failLimit: Int = DedupOps.DefaultBucketFailLimit): DataFrame =
    bandedHammingPairs(hashes, hashCol, maxHamming,
      selfScalingBands(hashes.count()), failLimit)

  /** The banded-Hamming LSH pair emitter behind the image (dHash)
    * near-dup operator and the declared hash-pair queries: a pair
    * collides iff some `64/bands`-bit slice matches exactly, then
    * codegen'd `bit_count(xor)` confirms the exact distance.
    * Pigeonhole guarantees every pair within `bands − 1` bits;
    * 8-byte hashes cross the shuffle, payloads never do.
    *
    * Grouped combination generation (ONE aggregation on the (band,
    * slice) key) instead of a two-sided self-join, with the same
    * in-plan bucket guard as the MinHash family
    * ([[graft.ops.DedupOps.DefaultBucketFailLimit]]): uniform hash
    * slices make hot buckets unlikely, but "unlikely" is not a
    * contract — a degenerate corpus (all-black thumbnails hashing
    * alike) would otherwise emit its c·(c−1)/2 pairs silently.
    */
  private[graft] def bandedHammingPairs(hashes: DataFrame, hashCol: String,
      maxHamming: Int, bands: Int,
      failLimit: Int = DedupOps.DefaultBucketFailLimit): DataFrame = {
    require(bands > 0 && 64 % bands == 0, "bands must divide 64")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val slices = hashes.select(col("media_id"), col(hashCol),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          (shiftright(col(hashCol), b * width).bitwiseAND(lit(mask)))
            .as("slice"))): _*)).as("bs"))
      .select(col("media_id"), col(hashCol),
        col("bs.band").as("band"), col("bs.slice").as("slice"))
    val limit = failLimit
    slices.groupBy(col("band"), col("slice"))
      .agg(sort_array(collect_set(struct(col("media_id").as("id"),
        col(hashCol).as("ph")))).as("ms"))
      .where(size(col("ms")) > 1)
      .select(when(size(col("ms")) <= limit, col("ms"))
        .otherwise(raise_error(concat(
          lit("bandedHammingPairs: a (band, slice) bucket holds "),
          size(col("ms")),
          lit(s" members (> $limit) — its pair emission alone " +
            s"exceeds ~${limit.toLong * (limit - 1) / 2} pairs; the " +
            "hash family has collapsed on this " +
            "corpus. Use more bands or pre-filter degenerate media."))))
        .as("ms"))
      .select(explode(transform(col("ms"), (x, i) =>
        transform(slice(col("ms"), i + 2, size(col("ms"))),
          y => struct(x.getField("id").as("id_a"),
            y.getField("id").as("id_b"),
            bit_count(x.getField("ph").bitwiseXOR(y.getField("ph")))
              .as("hamming"))))).as("ps"))
      .select(explode(col("ps")).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.hamming"))
      // a media_id carrying two distinct hashes (a re-encode) would
      // otherwise pair with itself (collect_set dedups only identical
      // (id, ph) structs) and emit the SAME (id_a, id_b) under
      // several hamming values; the contract is one row per pair, so
      // self-pairs drop and multi-hash pairs keep their CLOSEST
      // agreement (min): if any hash variant is near, the media are
      // near-dups
      .where(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }
}
