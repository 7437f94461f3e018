package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types._

/** Multimodal column handling for training-data pipelines: image /
  * audio / video payloads travel as opaque `binary` columns alongside
  * typed metadata, and per-item decode / feature-extraction runs as a
  * partition-parallel typed transformation (the Scala analogue of
  * mapInPandas batches).
  *
  * The Spark-side plumbing — schema, partition sizing, batch shape,
  * null/corrupt handling — is real and tested. The codec seam
  * ([[MediaCodec]]) is real for IMAGES (round 8: pure-JDK
  * `javax.imageio`, PNG/BMP/GIF/JPEG), AUDIO (round 9: pure-JDK
  * `javax.sound.sampled`, WAV/AIFF/AU — true sample rate, channels,
  * frame count, and a deterministic 8-bin amplitude-histogram
  * feature), VIDEO METADATA (round 9: pure-byte MP4 box-tree and
  * AVI RIFF-chunk parse — true dimensions, frame count, and duration
  * from the container headers), and VIDEO FRAMES for motion-JPEG AVI
  * (round 10: the `movi` LIST's `##dc`/`##db` chunks are standalone
  * JPEGs the imageio path decodes — sampled keyframes feature-ize
  * through the SAME luminance histogram as still images). A corrupt
  * payload of ANY kind is DROPPED (permissive-scan semantics), never
  * faked; a corrupt individual FRAME drops out of the sampled mean.
  * Codecs the JDK cannot decode (MP4/H.264) keep the container-byte
  * histogram feature, documented as a file-level — not pixel —
  * signature; swapping in an ffmpeg-class decoder for those still
  * touches ONLY [[MediaCodec]].
  */
object Multimodal {

  /** One media item: payload + sidecar metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType),        // image | audio | video
    StructField("mime", StringType),
    StructField("payload", BinaryType),     // opaque encoded bytes
    StructField("meta", MapType(StringType, StringType))))

  final case class MediaRow(media_id: Long, kind: String, mime: String,
                            payload: Array[Byte],
                            meta: Map[String, String])

  final case class DecodedMedia(media_id: Long, kind: String,
                                width: Int, height: Int, n_frames: Int,
                                feature: Array[Float])

  /** Parsed video container metadata — REAL header fields, no frame
    * decode (see [[MediaCodec.probeVideo]]). */
  final case class VideoMeta(width: Int, height: Int, nFrames: Int,
                             durationMs: Long, container: String)

  /** The codec seam. All three kinds now parse REAL bytes; swapping in
    * richer decoders (an ffmpeg binding for video FRAMES) still
    * touches only this object. */
  object MediaCodec {

    /** REAL image decode — pure-JDK `javax.imageio` (PNG, BMP, GIF,
      * JPEG readers ship with the JRE): true raster dimensions,
      * n_frames = 1, and an 8-bin luminance-histogram feature. The
      * histogram bins integer luma `(299r + 587g + 114b)/1000` by
      * `>> 5` (exact integer arithmetic); the only float op is the
      * final per-bin count/total division — deterministic across
      * JVMs, and PNG being lossless makes the whole decode a pure
      * function of the encoded pixels. Returns None for anything
      * imageio cannot parse (corrupt/truncated/not-an-image). */
    def decodeImage(payload: Array[Byte]): Option[(Int, Int, Int, Array[Float])] =
      try {
        Option(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))).map { img =>
          val w = img.getWidth
          val h = img.getHeight
          val hist = new Array[Long](8)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val lum = (((rgb >> 16) & 0xFF) * 299 +
                ((rgb >> 8) & 0xFF) * 587 + (rgb & 0xFF) * 114) / 1000
              hist(math.min(lum >> 5, 7)) += 1
              x += 1
            }
            y += 1
          }
          val n = (w.toLong * h).toFloat
          (w, h, 1, hist.map(c => c / n))
        }
      } catch { case _: Exception => None }

    /** 64-bit perceptual difference hash (dHash) over the decoded
      * raster — the image analogue of the text family's SimHash: two
      * images that differ by re-encoding, slight noise, or small
      * edits land within a few bits; unrelated images are ~32 bits
      * apart (each bit is an independent coin for random inputs).
      *
      * Fully deterministic, no interpolation library: integer luma
      * per pixel (the [[decodeImage]] formula), an exact box-average
      * downscale onto a 9×8 grid (pixel (x,y) belongs to cell
      * (x·9/w, y·8/h) — every pixel in exactly one cell, every cell
      * non-empty for w ≥ 9, h ≥ 8; cell value = integer mean), and
      * bit (cy·8+cx) = 1 iff cell(cx+1) > cell(cx) in row cy — the
      * horizontal gradient signature. Images below 9×8 return None
      * (beneath hash resolution — a 2-px thumbnail has no perceptual
      * content to compare; dropped, never faked). */
    def dhash64(img: java.awt.image.BufferedImage): Option[Long] = {
      val w = img.getWidth
      val h = img.getHeight
      if (w < 9 || h < 8) None
      else {
        val sum = Array.ofDim[Long](8, 9)
        val cnt = Array.ofDim[Long](8, 9)
        var y = 0
        while (y < h) {
          val cy = y * 8 / h
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xFF) * 299 +
              ((rgb >> 8) & 0xFF) * 587 + (rgb & 0xFF) * 114) / 1000
            sum(cy)(x * 9 / w) += lum
            cnt(cy)(x * 9 / w) += 1
            x += 1
          }
          y += 1
        }
        var bits = 0L
        var cy = 0
        while (cy < 8) {
          var cx = 0
          while (cx < 8) {
            if (sum(cy)(cx + 1) / cnt(cy)(cx + 1) >
                sum(cy)(cx) / cnt(cy)(cx))
              bits |= 1L << (cy * 8 + cx)
            cx += 1
          }
          cy += 1
        }
        Some(bits)
      }
    }

    /** [[dhash64]] from encoded bytes: None for undecodable payloads
      * AND sub-9×8 rasters. */
    def imageDHash(payload: Array[Byte]): Option[Long] =
      try {
        Option(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))).flatMap(dhash64)
      } catch { case _: Exception => None }

    /** REAL audio decode — pure-JDK `javax.sound.sampled` (WAV, AIFF,
      * AU file readers ship with the JRE): the payload parses through
      * `AudioSystem`, converts to canonical 16-bit signed
      * little-endian PCM (a pure-JDK conversion, so 8-bit and
      * big-endian sources decode too), and yields
      * `(sample_rate, channels, frame_count)` in the (width, height,
      * n_frames) slots plus an 8-bin amplitude-magnitude histogram:
      * `bin = min(|sample| >> 12, 7)` — exact integer arithmetic over
      * the decoded samples, the [[decodeImage]] luminance-histogram
      * discipline for sound. The only float op is the final per-bin
      * count/total division. Returns None for anything the JDK cannot
      * parse (corrupt/truncated/unknown container) and for
      * zero-sample streams — dropped downstream, never faked. */
    def decodeAudio(payload: Array[Byte]): Option[(Int, Int, Int, Array[Float])] =
      pcm16leWithFormat(payload).flatMap { case (src, bytes) =>
        val nSamples = bytes.length / 2
        if (nSamples == 0) None
        else {
          val hist = new Array[Long](8)
          var i = 0
          while (i < nSamples * 2) {
            // little-endian signed 16-bit
            val s = (bytes(i) & 0xFF) | (bytes(i + 1).toInt << 8)
            hist(math.min(math.abs(s) >> 12, 7)) += 1
            i += 2
          }
          val n = nSamples.toFloat
          Some((src.getSampleRate.toInt, src.getChannels,
            nSamples / src.getChannels, hist.map(c => c / n)))
        }
      }

    /** The decode half of [[decodeAudio]] alone: payload → (source
      * format, canonical 16-bit signed little-endian PCM bytes) —
      * shared with sample-level consumers ([[audioFrameFeatures]]).
      * None for anything the JDK cannot parse. */
    private[Multimodal] def pcm16leWithFormat(payload: Array[Byte])
        : Option[(javax.sound.sampled.AudioFormat, Array[Byte])] =
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val src = in.getFormat
          val target = new javax.sound.sampled.AudioFormat(
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
            src.getSampleRate, 16, src.getChannels,
            src.getChannels * 2, src.getSampleRate, false)
          val pcm = javax.sound.sampled.AudioSystem
            .getAudioInputStream(target, in)
          try Some((src, pcm.readAllBytes())) finally pcm.close()
        } finally in.close()
      } catch { case _: Exception => None }

    /** Decode + downmix in one seam: payload → the canonical MONO
      * 16-bit sample stream (per time step, the truncating integer
      * mean of the interleaved channel samples; whole time steps
      * only — a trailing torn multi-channel frame from a truncated
      * payload is dropped, not averaged short). This is the exact
      * stream [[Multimodal.audioFrameFeatures]] frames, factored out
      * so the q202 fixture dump ([[graft.FixtureDump]]) and the live
      * query share ONE decode path — the fixture certifies this
      * function's output once, and everything after it is replayed
      * by the DuckDB oracle in SQL. None for anything the JDK cannot
      * parse; Some(empty) for zero-sample streams (dropped by
      * callers, never faked). */
    def monoPcm16(payload: Array[Byte]): Option[Array[Int]] =
      pcm16leWithFormat(payload).map { case (fmt, bytes) =>
        val ch = math.max(fmt.getChannels, 1)
        val nSamples = bytes.length / 2 / ch
        val mono = new Array[Int](nSamples)
        var t = 0
        while (t < nSamples) {
          var sum = 0L
          var c = 0
          while (c < ch) {
            val i = t * ch + c
            sum += ((bytes(2 * i) & 0xFF) |
              (bytes(2 * i + 1).toInt << 8)).toShort.toInt
            c += 1
          }
          mono(t) = (sum / ch).toInt
          t += 1
        }
        mono
      }

    // ---- video: REAL container-metadata parse (round 9) -------------
    // The JDK ships no video CODEC, so pixel-level frame decode stays
    // out of reach without native bindings — but the container
    // METADATA (dimensions, frame count, duration) is plain big-/
    // little-endian byte structure, parsed here for real from the MP4
    // box tree and the AVI RIFF chunk list. Corrupt/unknown containers
    // are DROPPED (the image/audio discipline), never faked.

    private def u32be(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xFFL) << 24) | ((b(o + 1) & 0xFFL) << 16) |
        ((b(o + 2) & 0xFFL) << 8) | (b(o + 3) & 0xFFL)
    private def u64be(b: Array[Byte], o: Int): Long =
      (u32be(b, o) << 32) | u32be(b, o + 4)
    private def u32le(b: Array[Byte], o: Int): Long =
      ((b(o + 3) & 0xFFL) << 24) | ((b(o + 2) & 0xFFL) << 16) |
        ((b(o + 1) & 0xFFL) << 8) | (b(o) & 0xFFL)
    private def fourcc(b: Array[Byte], o: Int): String =
      new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

    /** MP4/ISO-BMFF metadata: walks the box tree (`moov` → `mvhd` for
      * timescale/duration, `trak` → `tkhd` for 16.16-fixed dims,
      * `trak/mdia/minf/stbl` → `stts` whose sample counts sum to the
      * frame count). Handles v0/v1 full boxes and 64-bit largesize;
      * any malformed size aborts the walk → None. With several tracks
      * (sound tracks carry 0×0 dims) the max dims / max frame sum
      * win — the video track's numbers. */
    def parseMp4(b: Array[Byte]): Option[VideoMeta] = {
      if (b.length < 12 || fourcc(b, 4) != "ftyp") return None
      val containers = Set("moov", "trak", "mdia", "minf", "stbl")
      var timescale = 0L; var duration = 0L
      var width = 0; var height = 0; var frames = 0L
      def walk(start: Long, end: Long, depth: Int): Boolean = {
        var pos = start
        while (pos + 8 <= end) {
          val size0 = u32be(b, pos.toInt)
          val typ = fourcc(b, pos.toInt + 4)
          val (size, hdr) =
            if (size0 == 1 && pos + 16 <= end) (u64be(b, pos.toInt + 8), 16)
            else if (size0 == 0) (end - pos, 8)  // "to end of file"
            else (size0, 8)
          if (size < hdr || pos + size > end) return false
          val body = pos + hdr
          typ match {
            case t if containers.contains(t) =>
              if (depth > 8 || !walk(body, pos + size, depth + 1)) return false
            case "mvhd" if size >= hdr + 4 =>
              val v = b(body.toInt) & 0xFF
              if (v == 1 && size >= hdr + 28) {
                timescale = u32be(b, body.toInt + 20)
                duration = u64be(b, body.toInt + 24)
              } else if (v == 0 && size >= hdr + 20) {
                timescale = u32be(b, body.toInt + 12)
                duration = u32be(b, body.toInt + 16)
              }
            case "tkhd" if size >= hdr + 84 =>
              val v = b(body.toInt) & 0xFF
              // dims are the LAST 8 bytes of the box either version
              val o = (pos + size - 8).toInt
              if (v <= 1) {
                width = math.max(width, (u32be(b, o) >> 16).toInt)
                height = math.max(height, (u32be(b, o + 4) >> 16).toInt)
              }
            case "stts" if size >= hdr + 8 =>
              val n = u32be(b, body.toInt + 4)
              if (body + 8 + n * 8 <= pos + size) {
                var sum = 0L; var i = 0
                while (i < n) {
                  sum += u32be(b, (body + 8 + i * 8).toInt); i += 1
                }
                frames = math.max(frames, sum)
              }
            case _ => ()
          }
          pos += size
        }
        true
      }
      if (!walk(0L, b.length.toLong, 0) || timescale == 0) None
      else Some(VideoMeta(width, height, frames.toInt,
        duration * 1000L / timescale, "mp4"))
    }

    /** AVI metadata: RIFF chunk walk to the `avih` main header —
      * µs/frame, total frames, and pixel dims as little-endian u32s at
      * fixed offsets. `LIST` chunks recurse; odd chunk sizes pad one
      * byte (the RIFF rule). Malformed sizes abort → None. */
    def parseAvi(b: Array[Byte]): Option[VideoMeta] = {
      if (b.length < 12 || fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "AVI ")
        return None
      var meta: Option[VideoMeta] = None
      def walk(start: Long, end: Long, depth: Int): Boolean = {
        var pos = start
        while (pos + 8 <= end && meta.isEmpty) {
          val typ = fourcc(b, pos.toInt)
          val size = u32le(b, pos.toInt + 4)
          if (pos + 8 + size > end) return false
          if (typ == "LIST" && size >= 4) {
            if (depth > 8 || !walk(pos + 12, pos + 8 + size, depth + 1))
              return false
          } else if (typ == "avih" && size >= 40) {
            val o = pos.toInt + 8
            val usPerFrame = u32le(b, o)
            val totalFrames = u32le(b, o + 16)
            meta = Some(VideoMeta(u32le(b, o + 32).toInt,
              u32le(b, o + 36).toInt, totalFrames.toInt,
              usPerFrame * totalFrames / 1000L, "avi"))
          }
          pos += 8 + size + (size & 1)  // RIFF chunks pad to even
        }
        true
      }
      if (!walk(12L, b.length.toLong, 0)) None else meta
    }

    /** Container probe: MP4 first (`ftyp` magic), then AVI (`RIFF`).
      * REAL metadata, no frame decode. */
    def probeVideo(payload: Array[Byte]): Option[VideoMeta] =
      try parseMp4(payload).orElse(parseAvi(payload))
      catch { case _: Exception => None }

    /** Extract the encoded FRAME chunks of an AVI: the `movi` LIST's
      * `##dc`/`##db` chunks, in stream order. For a motion-JPEG AVI
      * each chunk is a standalone JPEG image — the one mainstream
      * video codec whose frames the pure-JDK imageio path can decode
      * (round-9 verdict #4). Malformed RIFF structure aborts → empty
      * (the parseAvi discipline); non-AVI containers return empty. */
    def aviFrameChunks(b: Array[Byte]): Array[Array[Byte]] = {
      if (b.length < 12 || fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "AVI ")
        return Array.empty
      val out = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      def walk(start: Long, end: Long, depth: Int): Boolean = {
        var pos = start
        while (pos + 8 <= end) {
          val typ = fourcc(b, pos.toInt)
          val size = u32le(b, pos.toInt + 4)
          if (pos + 8 + size > end) return false
          if (typ == "LIST" && size >= 4) {
            if (depth > 8 || !walk(pos + 12, pos + 8 + size, depth + 1))
              return false
          } else if (typ.charAt(0).isDigit && typ.charAt(1).isDigit &&
              (typ.endsWith("dc") || typ.endsWith("db"))) {
            out += java.util.Arrays.copyOfRange(
              b, (pos + 8).toInt, (pos + 8 + size).toInt)
          }
          pos += 8 + size + (size & 1) // RIFF chunks pad to even
        }
        true
      }
      if (!walk(12L, b.length.toLong, 0)) Array.empty else out.toArray
    }

    /** Frames sampled per video — bounded so a long video costs a
      * constant number of frame decodes, the keyframe-sampling shape
      * of a real pipeline. */
    val MaxSampledFrames = 4

    /** Video through the (width, height, n_frames, feature) decode
      * shape: metadata (true header fields) from [[probeVideo]].
      *
      * The FEATURE is pixel-real where the JDK can reach pixels
      * (round 10): for an MJPEG AVI, up to [[MaxSampledFrames]]
      * evenly-spaced `movi` frame chunks decode through the SAME
      * imageio luminance-histogram path as still images
      * ([[decodeImage]]), corrupt frames dropped, and the feature is
      * the per-bin mean over the decoded frames — a true pixel
      * signature. For containers whose codecs the JDK cannot decode
      * (MP4/H.264, non-MJPEG AVI) it falls back to the 8-bin
      * BYTE-VALUE histogram of the payload (`bin = byte >> 5` — a
      * deterministic file-level signature usable for container
      * near-dup grouping, documented as NOT a pixel feature). */
    def decodeVideo(payload: Array[Byte]): Option[(Int, Int, Int, Array[Float])] =
      probeVideo(payload).map { m =>
        val chunks = aviFrameChunks(payload)
        val sampled =
          if (chunks.length <= MaxSampledFrames) chunks.toSeq
          else (0 until MaxSampledFrames).map(j =>
            chunks((j.toLong * (chunks.length - 1) /
              (MaxSampledFrames - 1)).toInt)).distinct
        val frameHists = sampled.flatMap(decodeImage(_)).map(_._4)
        val feature =
          if (frameHists.nonEmpty) {
            // per-bin mean over decoded frames, fixed stream order
            val acc = new Array[Double](8)
            frameHists.foreach { h =>
              var i = 0
              while (i < 8) { acc(i) += h(i); i += 1 }
            }
            acc.map(v => (v / frameHists.length).toFloat)
          } else {
            val hist = new Array[Long](8)
            var i = 0
            while (i < payload.length) {
              hist((payload(i) & 0xFF) >> 5) += 1; i += 1
            }
            val n = math.max(payload.length, 1).toFloat
            hist.map(c => c / n)
          }
        (m.width, m.height, m.nFrames, feature)
      }

    /** Per-item dispatch: all three kinds parse REAL bytes; a corrupt
      * payload (or an unknown kind) is dropped, never faked. Null
      * payloads are dropped for every kind. */
    def decodeItem(m: MediaRow): Option[DecodedMedia] =
      Option(m.payload).flatMap { p =>
        m.kind match {
          case "image" =>
            decodeImage(p).map { case (w, h, f, feat) =>
              DecodedMedia(m.media_id, m.kind, w, h, f, feat) }
          case "audio" =>
            decodeAudio(p).map { case (w, h, f, feat) =>
              DecodedMedia(m.media_id, m.kind, w, h, f, feat) }
          case "video" =>
            decodeVideo(p).map { case (w, h, f, feat) =>
              DecodedMedia(m.media_id, m.kind, w, h, f, feat) }
          case _ => None
        }
      }

    /** Batch decode: one call per batch (where a real codec amortizes
      * setup); per-item results identical to [[decodeItem]]. Corrupt
      * and null payloads are dropped, not thrown. */
    def decodeBatch(batch: Array[MediaRow]): Array[DecodedMedia] =
      batch.flatMap(decodeItem)
  }

  /** Decode/feature-extract as a partition-parallel typed map: one
    * task per partition, items streamed through the codec without
    * materializing the whole partition (same batch shape a real
    * decoder needs). Corrupt payloads (null) are dropped, not thrown,
    * mirroring permissive-mode scan semantics. */
  def decode(media: Dataset[MediaRow]): Dataset[DecodedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap(MediaCodec.decodeItem))
  }

  /** Batched decode — the mapInPandas/Arrow batch shape: the codec is
    * called once per `batchSize` items, not per item (real decoders
    * amortize model/codec setup across a batch; a per-item call is
    * the classic 100× slowdown). Same output as [[decode]], proven in
    * the spec. */
  def decodeBatched(media: Dataset[MediaRow], batchSize: Int = 64)
      : Dataset[DecodedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        MediaCodec.decodeBatch(batch.toArray)
      }
    }
  }

  /** Image near-duplicate pairs by banded dHash — visual dedup for a
    * multimodal corpus (re-encoded/re-scaled/lightly-edited copies of
    * the same picture), the [[graft.ops.Dedup]] banding discipline
    * applied to [[MediaCodec.dhash64]]:
    *
    *  - decode+hash is one partition-parallel pass at the codec seam
    *    (64 bits per image out — the corpus-sized payload column never
    *    shuffles);
    *  - the 64-bit hash splits into four 16-bit bands; candidates
    *    share ≥ 1 band via an EQUALITY join on (band, key) — never a
    *    cross join — and verify by exact popcount on the two hashes.
    *    Pigeonhole makes recall at `maxDist` ≤ 3 EXACT: ≤ 3 differing
    *    bits touch ≤ 3 of the 4 bands, so one band always matches
    *    (the q192 prefix-filter completeness argument); `maxDist` is
    *    therefore capped at 3 — a larger radius would silently turn
    *    the guarantee probabilistic.
    *
    * Scale: band keys are 16-bit, so a band-bucket's size tracks the
    * corpus's true near-dup density (Zipf-benign for photos; a
    * monoculture corpus of identical frames degenerates the same way
    * every LSH does — the bucketCap treatment in [[graft.ops.Dedup]]
    * is the escape hatch if needed). Output is id-ordered distinct
    * pairs with their exact distance. */
  def imageNearDupPairs(media: Dataset[MediaRow], maxDist: Int = 3)
      : DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"imageNearDupPairs: 4x16-bit banding guarantees recall only to " +
        s"Hamming distance 3, got maxDist=$maxDist")
    import media.sparkSession.implicits._
    import org.apache.spark.sql.functions._
    val hashed = media
      .filter(_.kind == "image")
      .mapPartitions(_.flatMap(m =>
        Option(m.payload).flatMap(MediaCodec.imageDHash)
          .map(h => (m.media_id, h))))
      .toDF("media_id", "h")
    val bands = hashed.select(col("media_id"), col("h"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("h"), b * 16)
            .bitwiseAND(lit(0xFFFFL)).as("key"))): _*)).as("bk"))
      .select(col("media_id"), col("h"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val a = bands.select(col("media_id").as("id_a"), col("h").as("h_a"),
      col("band"), col("key"))
    val b = bands.select(col("media_id").as("id_b"), col("h").as("h_b"),
      col("band"), col("key"))
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "h_a", "h_b")
      .distinct()
      .withColumn("dist", expr("CAST(bit_count(h_a ^ h_b) AS INT)"))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  /** Deterministic image corpus with PLANTED near-duplicates for the
    * visual-dedup query: ids ≡ 0 (mod 5) in 1..n are originals
    * (16×16 deterministic PNGs, distinct gradients); ids ≡ 1 (mod 5)
    * re-encode their predecessor with ONE pixel nudged by +8 luma —
    * a perturbation that moves at most two 9×8 grid-cell means, so
    * the pair's dHash distance is ≤ 2 and [[imageNearDupPairs]] must
    * recover every planted pair. Remaining ids are unrelated. */
  def syntheticImageCorpus(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { i =>
      val payload =
        if (i % 5 == 1) {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(syntheticPng(i - 1, side = 16)))
          val rgb = img.getRGB(3, 3)
          val r = math.min(255, ((rgb >> 16) & 0xFF) + 8)
          img.setRGB(3, 3, (r << 16) | (rgb & 0xFFFF))
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          bos.toByteArray
        } else syntheticPng(i, side = 16)
      MediaRow(i, "image", "image/png", payload,
        Map("src" -> s"synthetic/$i"))
    }
  }

  /** One audio frame's features: exact-integer energy (Σ s² over the
    * frame's 16-bit samples) and zero-crossing count — no floats
    * anywhere, so the rows are bit-stable across layouts and retries
    * by construction (derive RMS/rates downstream when needed). */
  final case class AudioFrame(media_id: Long, frame_idx: Int,
                              n_samples: Int, energy: Long,
                              zero_crossings: Long)

  /** Per-frame audio feature extraction — the VAD/segmentation front
    * end of an audio curation pipeline (silence trimming, energy
    * gating, speech/noise heuristics all read exactly these two
    * features): decode the payload to canonical 16-bit PCM (the
    * [[MediaCodec.decodeAudio]] pure-JDK path), DOWNMIX multi-channel
    * audio to mono (per time step, the truncating integer mean of the
    * interleaved channel samples — framing the raw interleaved stream
    * would split frames mid-channel and count L/R alternation as
    * zero-crossings, making zc meaningless as a VAD signal beyond
    * mono), split the mono sample stream into `frameSize`-sample
    * frames, and emit one row per frame with Σ s² (fits a long:
    * frameSize·(2^15)² overflows only past frameSize ≈ 2^33) and the
    * sign-change count between consecutive samples within the frame.
    * Mono input is untouched by the downmix (mean of one sample), so
    * single-channel corpora are byte-identical to the pre-downmix
    * behavior. The last partial frame is kept with its true
    * n_samples. Non-audio kinds, corrupt payloads, and zero-sample
    * streams are dropped (the decode discipline), never faked.
    * Partition-parallel `mapPartitions` (the sanctioned multimodal
    * codec seam); per-row output is ⌈samples/frameSize⌉ rows — linear
    * in audio length, no shuffle. */
  def audioFrameFeatures(media: Dataset[MediaRow],
                         frameSize: Int = 256): Dataset[AudioFrame] = {
    require(frameSize > 0 && frameSize < (1 << 20),
      s"frameSize must be in (0, 2^20), got $frameSize")
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { m =>
      if (m.kind != "audio" || m.payload == null) Iterator.empty
      else MediaCodec.monoPcm16(m.payload) match {
        case None => Iterator.empty
        case Some(mono) if mono.length == 0 => Iterator.empty
        case Some(mono) =>
          val nSamples = mono.length
          (0 until (nSamples + frameSize - 1) / frameSize).iterator
            .map { f =>
              val start = f * frameSize
              val end = math.min(start + frameSize, nSamples)
              var energy = 0L
              var zc = 0L
              var prev = 0
              var t = start
              while (t < end) {
                val s = mono(t)
                energy += s.toLong * s
                if (t > start && ((s < 0) != (prev < 0))) zc += 1
                prev = s
                t += 1
              }
              AudioFrame(m.media_id, f, end - start, energy, zc)
            }
      }
    })
  }

  /** Deterministic 8×8 PNG payload: pixel colors are a pure function
    * of (id, x, y), encoded losslessly — so the DECODED raster (and
    * every feature derived from it) is byte-stable even if the PNG
    * encoder's compression details differ between JREs. */
  def syntheticPng(i: Long, side: Int = 8): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(side, side,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < side) {
      var x = 0
      while (x < side) {
        val v = ((i * 131 + x * 17 + y * 29) % 256).toInt
        img.setRGB(x, y, (v << 16) | (((v * 3) % 256) << 8) | ((v * 7) % 256))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic 16-bit PCM mono WAV payload: sample t is a pure
    * integer function of (id, t), the container is raw PCM — so the
    * decoded samples (and every feature derived from them) are
    * byte-stable across JREs, the [[syntheticPng]] discipline for
    * sound. */
  def syntheticWav(i: Long, nSamples: Int = 256,
                   sampleRate: Int = 8000): Array[Byte] = {
    val data = new Array[Byte](nSamples * 2)
    var t = 0
    while (t < nSamples) {
      val s = (((i * 131 + t.toLong * 7919) % 65536L) - 32768L).toShort
      data(2 * t) = (s & 0xFF).toByte
      data(2 * t + 1) = ((s >> 8) & 0xFF).toByte
      t += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      sampleRate.toFloat, 16, 1, 2, sampleRate.toFloat, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Deterministic synthetic media table for tests/demos: image rows
    * carry REAL 8×8 PNGs (decoded by the real imageio path), audio
    * rows carry REAL mono WAVs (decoded by the real javax.sound
    * path), video rows alternate REAL minimal MP4 containers (box-tree
    * metadata parse; byte-histogram feature) and REAL MJPEG AVIs
    * (metadata AND true pixel-frame features through the imageio
    * path) — so the multimodal queries exercise both the
    * frame-decodable and metadata-only video paths. */
  def syntheticMedia(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { i =>
      if (i % 3 == 0)
        MediaRow(i, "image", "image/png", syntheticPng(i),
          Map("src" -> s"synthetic/$i"))
      else if (i % 3 == 1)
        MediaRow(i, "audio", "audio/wav", syntheticWav(i),
          Map("src" -> s"synthetic/$i"))
      else if (i % 6 == 2)
        MediaRow(i, "video", "video/x-msvideo", syntheticAviMjpeg(i),
          Map("src" -> s"synthetic/$i"))
      else
        MediaRow(i, "video", "video/mp4", syntheticMp4(i),
          Map("src" -> s"synthetic/$i"))
    }
  }

  private def beBox(typ: String, payload: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
    bb.putInt(8 + payload.length)
    bb.put(typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    bb.put(payload)
    bb.array()
  }

  /** Deterministic minimal-but-valid MP4: `ftyp` + `moov{mvhd,
    * trak{tkhd, mdia{minf{stbl{stts}}}}}` + an `mdat` of deterministic
    * bytes — every header field a pure function of `i`, so the parsed
    * [[VideoMeta]] (and the byte-histogram feature) is byte-stable
    * across JREs, the [[syntheticPng]] discipline for containers. The
    * stts carries TWO entries so the frame count exercises the
    * sample-count SUM, not a single field copy. */
  def syntheticMp4(i: Long): Array[Byte] = {
    val width = 160 + (i % 8).toInt * 16
    val height = 120 + (i % 6).toInt * 16
    val frames = 24 + (i % 10).toInt
    val timescale = 600
    val duration = frames * 25
    val ftyp = beBox("ftyp", {
      val bb = java.nio.ByteBuffer.allocate(12)
      bb.put("isom".getBytes("US-ASCII")).putInt(0x200)
        .put("isom".getBytes("US-ASCII"))
      bb.array()
    })
    val mvhd = beBox("mvhd", {
      val bb = java.nio.ByteBuffer.allocate(100)
      bb.putInt(0)                       // version 0 + flags
        .putInt(0).putInt(0)             // creation, modification
        .putInt(timescale).putInt(duration)
        .putInt(0x00010000)              // rate 1.0
        .putShort(0x0100.toShort)        // volume 1.0
        .putShort(0).putLong(0)          // reserved
      Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        .foreach(v => bb.putInt(v))              // unity matrix
      (1 to 6).foreach(_ => bb.putInt(0)) // pre_defined
      bb.putInt(2)                       // next_track_ID
      bb.array()
    })
    val tkhd = beBox("tkhd", {
      val bb = java.nio.ByteBuffer.allocate(84)
      bb.putInt(7)                       // version 0 + enabled flags
        .putInt(0).putInt(0)             // creation, modification
        .putInt(1).putInt(0)             // track_ID, reserved
        .putInt(duration).putLong(0)     // duration, reserved
        .putShort(0).putShort(0)         // layer, alternate_group
        .putShort(0).putShort(0)         // volume, reserved
      Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        .foreach(v => bb.putInt(v))
      bb.putInt(width << 16).putInt(height << 16) // 16.16 fixed
      bb.array()
    })
    val stts = beBox("stts", {
      val bb = java.nio.ByteBuffer.allocate(24)
      bb.putInt(0).putInt(2)             // version/flags, entry_count
        .putInt(frames - 1).putInt(25)   // (sample_count, delta)
        .putInt(1).putInt(25)
      bb.array()
    })
    val trak = beBox("trak",
      tkhd ++ beBox("mdia", beBox("minf", beBox("stbl", stts))))
    val mdat = beBox("mdat",
      Array.tabulate(64)(j => ((i * 131 + j * 7) % 256).toByte))
    ftyp ++ beBox("moov", mvhd ++ trak) ++ mdat
  }

  // ---- synthetic MJPEG AVI (round 10: real video FRAME decode) ------

  private def leChunk(typ: String, payload: Array[Byte]): Array[Byte] = {
    val pad = payload.length & 1 // RIFF chunks pad to even
    val bb = java.nio.ByteBuffer.allocate(8 + payload.length + pad)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      .putInt(payload.length).put(payload)
    bb.array() // trailing pad byte is the buffer's zero fill
  }

  private def leList(listType: String, body: Array[Byte]): Array[Byte] =
    leChunk("LIST",
      listType.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ body)

  /** One deterministic JPEG frame: pixel gray level is a pure function
    * of (id, frame, x, y). Grayscale keeps the post-JPEG luminance
    * histogram well-behaved (chroma subsampling cannot move luma
    * bins far); the exactness contract for tests is self-consistency —
    * the frames decoded out of the container equal [[MediaCodec
    * .decodeImage]] on the same chunk bytes — not cross-JRE byte
    * stability of the lossy encoder. */
  def syntheticJpegFrame(i: Long, f: Int, side: Int = 8): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(side, side,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < side) {
      var x = 0
      while (x < side) {
        val v = ((i * 131 + f * 37 + x * 17 + y * 29) % 256).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Deterministic minimal-but-valid MJPEG AVI:
    * `RIFF{AVI LIST{hdrl avih} LIST{movi 00dc×n}}` — every header
    * field a pure function of `i`, each `00dc` chunk a standalone
    * [[syntheticJpegFrame]] JPEG, so [[MediaCodec.decodeVideo]]
    * exercises the REAL pixel-frame path end to end (parse → sample →
    * imageio decode → luminance histogram). */
  def syntheticAviMjpeg(i: Long, side: Int = 8): Array[Byte] = {
    val nFrames = 3 + (i % 3).toInt
    val frames = (0 until nFrames).map(f => syntheticJpegFrame(i, f, side))
    val avih = {
      val bb = java.nio.ByteBuffer.allocate(56)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(40000)                  // µs/frame (25 fps)
        .putInt(0).putInt(0).putInt(0)  // maxBytesPerSec, padding, flags
        .putInt(nFrames)                // total frames
        .putInt(0).putInt(1).putInt(0)  // initialFrames, streams, bufSize
        .putInt(side).putInt(side)      // width, height
      bb.array()                        // 16 reserved zero bytes
    }
    val hdrl = leList("hdrl", leChunk("avih", avih))
    val movi = leList("movi",
      frames.map(fr => leChunk("00dc", fr)).reduce(_ ++ _))
    val body = "AVI ".getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
      hdrl ++ movi
    val bb = java.nio.ByteBuffer.allocate(8 + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      .putInt(body.length).put(body)
    bb.array()
  }
}
