package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  lazy val media = Multimodal.syntheticMedia(spark, 30)

  test("synthetic media table has the documented schema shape") {
    val df = media.toDF()
    assert(df.count() === 30)
    assert(df.schema("payload").dataType.typeName === "binary")
    assert(df.select("kind").distinct().count() === 3)
  }

  test("decode is partition-parallel, deterministic, and drops null payloads") {
    val withNull = media.map(m =>
      if (m.media_id == 7) m.copy(payload = null) else m)
    val decoded = Multimodal.decode(withNull)
    assert(decoded.count() === 29)
    val a = Multimodal.decode(media).filter(_.media_id == 3).collect()(0)
    val b = Multimodal.decode(media.repartition(7)).filter(_.media_id == 3)
      .collect()(0)
    assert(a.width === b.width && a.feature.toSeq === b.feature.toSeq)
    assert(a.feature.length === 8)
  }

  test("batched decode == streaming decode, including at odd batch boundaries") {
    val m = Multimodal.syntheticMedia(spark, 101) // not a multiple of batchSize
    val streaming = Multimodal.decode(m).collect().map(_.media_id).sorted
    val batched = Multimodal.decodeBatched(m, batchSize = 16)
      .collect().map(_.media_id).sorted
    assert(batched.sameElements(streaming))
    val one = Multimodal.decodeBatched(m, batchSize = 16)
      .filter(_.media_id == 7).collect()(0)
    val oneStreaming = Multimodal.decode(m).filter(_.media_id == 7).collect()(0)
    assert((one.media_id, one.kind, one.width, one.height, one.n_frames) ===
      (oneStreaming.media_id, oneStreaming.kind, oneStreaming.width,
        oneStreaming.height, oneStreaming.n_frames))
    assert(one.feature.sameElements(oneStreaming.feature))
  }

  test("real image decode: known 2x2 PNG yields exact dims and an exact " +
      "luminance histogram") {
    // two black pixels (luma 0 -> bin 0) + two white (luma 255 -> bin 7)
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0x000000); img.setRGB(1, 0, 0xFFFFFF)
    img.setRGB(0, 1, 0x000000); img.setRGB(1, 1, 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val Some((w, h, f, feat)) = Multimodal.MediaCodec.decodeImage(bos.toByteArray)
    assert((w, h, f) === ((2, 2, 1)))
    assert(feat.toSeq === Seq(0.5f, 0f, 0f, 0f, 0f, 0f, 0f, 0.5f))
  }

  test("corrupt image/audio/video payloads are DROPPED, real payloads of " +
      "all three kinds decode") {
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", "image/png",
        Array[Byte](1, 2, 3, 4), Map.empty),              // not a PNG
      Multimodal.MediaRow(2L, "image", "image/png",
        Multimodal.syntheticPng(2L), Map.empty),          // real PNG
      Multimodal.MediaRow(3L, "audio", "audio/wav",
        Array[Byte](9, 9, 9), Map.empty),                 // not a WAV → drop
      Multimodal.MediaRow(4L, "audio", "audio/wav",
        Multimodal.syntheticWav(4L), Map.empty),          // real WAV
      Multimodal.MediaRow(5L, "video", "video/mp4",
        Array[Byte](9, 9, 9), Map.empty),                 // not MP4/AVI → drop
      Multimodal.MediaRow(6L, "video", "video/mp4",
        Multimodal.syntheticMp4(6L), Map.empty),          // real MP4
      Multimodal.MediaRow(7L, "hologram", "application/octet-stream",
        Array[Byte](1, 2), Map.empty))                    // unknown kind → drop
    val got = Multimodal.decode(rows.toDS()).collect().sortBy(_.media_id)
    assert(got.map(_.media_id).toSeq === Seq(2L, 4L, 6L))
    assert(got(0).width === 8 && got(0).height === 8 && got(0).n_frames === 1)
    // histograms are probability vectors over raster / samples / bytes
    assert(math.abs(got(0).feature.sum - 1f) < 1e-6)
    assert(got(1).width === 8000 && got(1).height === 1 &&
      got(1).n_frames === 256)
    assert(math.abs(got(1).feature.sum - 1f) < 1e-6)
    // MP4 header fields for i=6: width 160+6*16, height 120, frames 24+6
    assert(got(2).width === 256 && got(2).height === 120 &&
      got(2).n_frames === 30)
    assert(math.abs(got(2).feature.sum - 1f) < 1e-6)
  }

  test("real MP4 metadata parse: dims from tkhd 16.16 fixed, frame count " +
      "as the stts sample-count SUM, duration from mvhd timescale") {
    val Some(m) = Multimodal.MediaCodec.probeVideo(Multimodal.syntheticMp4(3L))
    // i=3: width 160+3*16=208, height 120+3*16=168, frames 24+3=27
    assert((m.width, m.height, m.nFrames, m.container) ===
      ((208, 168, 27, "mp4")))
    // mvhd: timescale 600, duration frames*25 → ms = 27*25*1000/600
    assert(m.durationMs === 1125L)
    // truncating the payload mid-moov is a malformed size → drop
    val truncated = Multimodal.syntheticMp4(3L).take(40)
    assert(Multimodal.MediaCodec.probeVideo(truncated).isEmpty)
  }

  test("real AVI metadata parse: avih header fields through the RIFF " +
      "LIST-chunk walk") {
    // hand-built minimal AVI: RIFF{AVI LIST{hdrl avih{...}}}
    val avih = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    avih.put("avih".getBytes("US-ASCII")).putInt(56)
      .putInt(40000)        // µs/frame (25 fps)
      .putInt(0).putInt(0).putInt(0)
      .putInt(250)          // total frames
      .putInt(0).putInt(0).putInt(0)
      .putInt(320).putInt(240) // width, height
      .putInt(0).putInt(0).putInt(0).putInt(0)
    val hdrl = java.nio.ByteBuffer.allocate(76)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hdrl.put("LIST".getBytes("US-ASCII")).putInt(68)
      .put("hdrl".getBytes("US-ASCII")).put(avih.array())
    val riff = java.nio.ByteBuffer.allocate(88)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    riff.put("RIFF".getBytes("US-ASCII")).putInt(80)
      .put("AVI ".getBytes("US-ASCII")).put(hdrl.array())
    val Some(m) = Multimodal.MediaCodec.probeVideo(riff.array())
    assert((m.width, m.height, m.nFrames, m.durationMs, m.container) ===
      ((320, 240, 250, 10000L, "avi")))
  }

  test("real audio decode: known 4-sample WAV yields exact rate/channels/" +
      "frames and an exact amplitude histogram") {
    // samples 0, 4096, -32768, 20000 → |s|>>12 bins 0, 1, 7 (clamped), 4
    val samples = Array[Short](0, 4096, Short.MinValue, 20000)
    val data = new Array[Byte](8)
    samples.zipWithIndex.foreach { case (s, i) =>
      data(2 * i) = (s & 0xFF).toByte
      data(2 * i + 1) = ((s >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, 1, 2, 8000f, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, 4L)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val Some((rate, ch, frames, feat)) =
      Multimodal.MediaCodec.decodeAudio(bos.toByteArray)
    assert((rate, ch, frames) === ((8000, 1, 4)))
    assert(feat.toSeq === Seq(0.25f, 0.25f, 0f, 0f, 0.25f, 0f, 0f, 0.25f))
  }

  test("audio decode is invariant to source sample width (8-bit converts)") {
    // an 8-bit unsigned WAV goes through the canonical 16-bit
    // conversion; 0x80 (midpoint) converts to 16-bit 0 → bin 0
    val data = Array[Byte](0x80.toByte, 0x80.toByte, 0x80.toByte, 0x80.toByte)
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
      8000f, 8, 1, 1, 8000f, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, 4L)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val Some((rate, ch, frames, feat)) =
      Multimodal.MediaCodec.decodeAudio(bos.toByteArray)
    assert((rate, ch, frames) === ((8000, 1, 4)))
    assert(feat(0) === 1f)
  }

  test("real MJPEG-AVI FRAME decode: sampled movi chunks decode through " +
      "the imageio path and the feature is the exact per-bin frame mean") {
    val payload = Multimodal.syntheticAviMjpeg(2L) // 5 frames of 8x8
    // frame chunks come back in stream order and each IS a JPEG the
    // still-image decoder accepts
    val chunks = Multimodal.MediaCodec.aviFrameChunks(payload)
    assert(chunks.length === 5)
    val frameHists = chunks.toSeq.flatMap(
      Multimodal.MediaCodec.decodeImage(_))
    assert(frameHists.length === 5)
    frameHists.foreach { case (w, h, f, _) => assert((w, h, f) === ((8, 8, 1))) }
    // decodeVideo samples MaxSampledFrames=4 evenly spaced of the 5:
    // indices 0, 1, 2, 4 (j*(n-1)/(k-1))
    val sampled = Seq(0, 1, 2, 4).map(chunks(_))
      .flatMap(Multimodal.MediaCodec.decodeImage(_)).map(_._4)
    val expected = {
      val acc = new Array[Double](8)
      sampled.foreach(h => (0 until 8).foreach(i => acc(i) += h(i)))
      acc.map(v => (v / sampled.length).toFloat).toSeq
    }
    val Some((w, h, f, feat)) = Multimodal.MediaCodec.decodeVideo(payload)
    assert((w, h, f) === ((8, 8, 5))) // avih header fields
    assert(feat.toSeq === expected, "pixel feature must be the exact mean " +
      "of the sampled frames' luminance histograms")
  }

  test("corrupt MJPEG frames are dropped from the sample; all-corrupt " +
      "frames fall back to the byte-histogram feature") {
    val good = Multimodal.syntheticAviMjpeg(0L) // i%3=0 → 3 frames
    val chunks = Multimodal.MediaCodec.aviFrameChunks(good)
    assert(chunks.length === 3)
    // corrupt frame 1 IN PLACE (RIFF sizes stay intact, so the
    // container still parses and only the frame decode drops): find
    // its JPEG SOI marker (every frame starts FF D8 FF) and trash it
    val corrupted = good.clone()
    var soiCount = 0
    var k = 0
    while (k < corrupted.length - 2) {
      if ((corrupted(k) & 0xFF) == 0xFF && (corrupted(k + 1) & 0xFF) == 0xD8 &&
          (corrupted(k + 2) & 0xFF) == 0xFF) {
        if (soiCount == 1) { // second frame's SOI
          corrupted(k) = 0; corrupted(k + 1) = 0; corrupted(k + 2) = 0
        }
        soiCount += 1
      }
      k += 1
    }
    assert(soiCount === 3)
    val Some((_, _, _, feat)) = Multimodal.MediaCodec.decodeVideo(corrupted)
    val surviving = Seq(0, 2).map(chunks(_))
      .flatMap(Multimodal.MediaCodec.decodeImage(_)).map(_._4)
    val expected = {
      val acc = new Array[Double](8)
      surviving.foreach(h => (0 until 8).foreach(i => acc(i) += h(i)))
      acc.map(v => (v / surviving.length).toFloat).toSeq
    }
    assert(feat.toSeq === expected,
      "corrupt frame must be dropped from the mean, not faked or fatal")
    // all frames corrupt → byte-histogram fallback (container still
    // parses, so the row survives with the file-level signature)
    val allBad = good.clone()
    var k2 = 0
    while (k2 < allBad.length - 2) {
      if ((allBad(k2) & 0xFF) == 0xFF && (allBad(k2 + 1) & 0xFF) == 0xD8 &&
          (allBad(k2 + 2) & 0xFF) == 0xFF) {
        allBad(k2) = 0; allBad(k2 + 1) = 0; allBad(k2 + 2) = 0
      }
      k2 += 1
    }
    val Some((_, _, _, fallback)) = Multimodal.MediaCodec.decodeVideo(allBad)
    val byteHist = {
      val hist = new Array[Long](8)
      allBad.foreach(b => hist((b & 0xFF) >> 5) += 1)
      hist.map(c => c / allBad.length.toFloat).toSeq
    }
    assert(fallback.toSeq === byteHist)
  }

  test("syntheticMedia video rows cover BOTH containers and the AVI rows " +
      "carry pixel-frame features end to end through decode") {
    val decoded = Multimodal.decode(Multimodal.syntheticMedia(spark, 30))
      .filter(_.kind == "video").collect().sortBy(_.media_id)
    assert(decoded.length === 10)
    // i%6==2 rows are MJPEG AVIs (8x8 frames); i%6==5 rows are MP4s
    val avis = decoded.filter(_.media_id % 6 == 2)
    val mp4s = decoded.filter(_.media_id % 6 == 5)
    assert(avis.length === 5 && mp4s.length === 5)
    avis.foreach { d =>
      assert(d.width === 8 && d.height === 8)
      val expected = Multimodal.MediaCodec
        .decodeVideo(Multimodal.syntheticAviMjpeg(d.media_id)).get._4
      assert(d.feature.toSeq === expected.toSeq)
    }
    mp4s.foreach(d => assert(d.width >= 160 && d.n_frames >= 24))
  }

  test("multimodal ANN query returns k nearest decoded features") {
    val topk = graft.queries.DataQueries.q99MultimodalAnn.fn(spark, sf0001).collect()
    assert(topk.length === 10)
    val scores = topk.map(_.getDouble(1))
    assert(scores.sameElements(scores.sorted.reverse), "descending cosine order")
    assert(!topk.map(_.getLong(0)).contains(0L), "query item excluded")
  }

  private def wavOf(samples: Array[Short]): Array[Byte] = {
    val data = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      data(2 * i) = (s & 0xFF).toByte
      data(2 * i + 1) = ((s >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, 1, 2, 8000f, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("audioFrameFeatures: exact per-frame energy and zero crossings, " +
      "partial last frame, non-audio dropped") {
    // 6 samples, frameSize 4 → frames [0,100,-100,100] and [-2,0]
    // frame 0: energy = 0+10000+10000+10000 = 30000,
    //          zc: 0→100 no (both ≥0), 100→-100 yes, -100→100 yes → 2
    // frame 1: energy = 4+0 = 4, zc: -2→0 yes (neg → ≥0) → 1
    val wav = wavOf(Array[Short](0, 100, -100, 100, -2, 0))
    val media = Seq(
      Multimodal.MediaRow(7L, "audio", "audio/wav", wav, Map.empty),
      Multimodal.MediaRow(8L, "image", "image/png",
        Multimodal.syntheticPng(8L), Map.empty)).toDS()
    val got = Multimodal.audioFrameFeatures(media, frameSize = 4)
      .collect().sortBy(_.frame_idx)
    assert(got.length === 2, "image row dropped, audio yields 2 frames")
    assert(got(0) === Multimodal.AudioFrame(7L, 0, 4, 30000L, 2L))
    assert(got(1) === Multimodal.AudioFrame(7L, 1, 2, 4L, 1L))
  }

  private def stereoWavOf(left: Array[Short], right: Array[Short])
      : Array[Byte] = {
    require(left.length == right.length)
    val data = new Array[Byte](left.length * 4)
    (0 until left.length).foreach { t =>
      data(4 * t) = (left(t) & 0xFF).toByte
      data(4 * t + 1) = ((left(t) >> 8) & 0xFF).toByte
      data(4 * t + 2) = (right(t) & 0xFF).toByte
      data(4 * t + 3) = ((right(t) >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, 2, 4, 8000f, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, left.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("audioFrameFeatures: stereo downmixes to mono per time step — " +
      "L == R equals the mono twin; frames never split mid-channel") {
    val samples = Array[Short](0, 100, -100, 100, -2, 0)
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", "audio/wav",
        stereoWavOf(samples, samples), Map.empty),
      Multimodal.MediaRow(2L, "audio", "audio/wav", wavOf(samples),
        Map.empty),
      // unequal channels: downmix is the truncating integer mean, so
      // (100, -100) → 0 and (-5, -2) → -3 (toward zero)
      Multimodal.MediaRow(3L, "audio", "audio/wav",
        stereoWavOf(Array[Short](100, -5), Array[Short](-100, -2)),
        Map.empty)).toDS()
    val got = Multimodal.audioFrameFeatures(media, frameSize = 4)
      .collect().groupBy(_.media_id)
    // identical channels: bit-identical to the mono decode, and
    // n_samples counts TIME STEPS (6), not interleaved samples (12)
    assert(got(1L).sortBy(_.frame_idx).map(f =>
        (f.frame_idx, f.n_samples, f.energy, f.zero_crossings)).toSeq ===
      got(2L).sortBy(_.frame_idx).map(f =>
        (f.frame_idx, f.n_samples, f.energy, f.zero_crossings)).toSeq)
    assert(got(1L).map(_.n_samples).sum === 6)
    // mono mix of id 3 is [0, -3]: energy 0+9=9, zc 0→-3 is ≥0→neg → 1
    assert(got(3L).toSeq === Seq(Multimodal.AudioFrame(3L, 0, 2, 9L, 1L)))
  }

  test("audioFrameFeatures: frame rows tile the synthetic stream exactly") {
    val media = Multimodal.syntheticMedia(spark, 30)
    val frames = Multimodal.audioFrameFeatures(media, frameSize = 100)
      .toDF().groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"), sum(col("n_samples")).as("tot"))
      .collect()
    // audio rows are i % 3 == 1; syntheticWav has 256 samples →
    // 3 frames of (100, 100, 56)
    assert(frames.length === 10)
    frames.foreach { r =>
      assert(r.getLong(1) === 3L && r.getLong(2) === 256L, r.toString)
    }
  }

  private def grayImage(w: Int, h: Int)(lum: (Int, Int) => Int) = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = lum(x, y) & 0xFF
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    img
  }

  private def pngBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("dhash64: monotone gradients give the all-ones / all-zeros hashes; " +
      "sub-9x8 rasters and corrupt payloads return None") {
    // luma strictly increasing in x → every horizontal comparison fires
    val inc = Multimodal.MediaCodec.dhash64(grayImage(18, 16)((x, _) => x * 14))
    val dec = Multimodal.MediaCodec.dhash64(grayImage(18, 16)((x, _) => 255 - x * 14))
    assert(inc === Some(-1L)) // all 64 bits set
    assert(dec === Some(0L))
    assert(Multimodal.MediaCodec.dhash64(grayImage(8, 8)((x, _) => x)) === None)
    assert(Multimodal.MediaCodec.imageDHash(Array[Byte](1, 2, 3)) === None)
    // hash is a pure function of pixels: PNG roundtrip preserves it
    assert(Multimodal.MediaCodec.imageDHash(
      pngBytes(grayImage(18, 16)((x, _) => x * 14))) === Some(-1L))
  }

  test("imageNearDupPairs: exact recall at Hamming <= 3; far pairs and " +
      "the maxDist > 3 misuse are rejected") {
    // base: checkerboard of cell-sized blocks (w=18 → 2-px cells);
    // nudging ONE cell's pixels flips at most 2 comparison bits
    def base(flip: Boolean) = grayImage(18, 16) { (x, y) =>
      val v = if (((x / 2) + (y / 2)) % 2 == 0) 200 else 40
      if (flip && x / 2 == 4 && y / 2 == 4) v - 30 else v
    }
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", "image/png", pngBytes(base(false)), Map()),
      Multimodal.MediaRow(2L, "image", "image/png", pngBytes(base(true)), Map()),
      Multimodal.MediaRow(3L, "image", "image/png",
        pngBytes(grayImage(18, 16)((x, _) => x * 14)), Map()),
      Multimodal.MediaRow(4L, "image", "image/png",
        pngBytes(grayImage(18, 16)((x, _) => 255 - x * 14)), Map()),
      // non-image and undecodable rows are ignored, not thrown
      Multimodal.MediaRow(5L, "audio", "audio/wav",
        Multimodal.syntheticWav(5L), Map()),
      Multimodal.MediaRow(6L, "image", "image/png", Array[Byte](9), Map()))
    val got = Multimodal.imageNearDupPairs(spark.createDataset(rows))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.map(t => (t._1, t._2)).toSet === Set((1L, 2L)))
    assert(got.head._3 <= 3)
    intercept[IllegalArgumentException] {
      Multimodal.imageNearDupPairs(spark.createDataset(rows), maxDist = 4)
    }
  }

  test("syntheticImageCorpus: every planted (5k, 5k+1) pair is recovered " +
      "with distance <= 2") {
    val pairs = Multimodal.imageNearDupPairs(
        Multimodal.syntheticImageCorpus(spark, 50))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val planted = (0L until 50L by 5).map(k => (k, k + 1)).toSet
    val found = pairs.map(t => (t._1, t._2)).toSet
    assert(planted.subsetOf(found),
      s"missing planted pairs: ${planted -- found}")
    pairs.filter(t => planted((t._1, t._2))).foreach(t => assert(t._3 <= 2))
  }

  test("q208 fixture parity: the live imageio decode reproduces the " +
      "committed fixtures/q208_dhash.csv bit-for-bit (the 'trust the " +
      "decoder ONCE' seam — a JDK/imageio drift fails HERE, not " +
      "silently in the oracle)") {
    val f = new java.io.File("fixtures/q208_dhash.csv")
    assert(f.exists(), s"missing ${f.getAbsolutePath} — regenerate " +
      "with `sbt \"runMain graft.FixtureDump\"` and commit it with " +
      "the oracle it pins")
    val fixture = scala.io.Source.fromFile(f, "UTF-8").getLines()
      .drop(1).filter(_.nonEmpty).map { line =>
        val Array(id, h) = line.split(",")
        id.toLong -> h.toLong
      }.toMap
    val live = Multimodal.syntheticImageCorpus(spark, 400)
      .collect()
      .flatMap(m => Option(m.payload)
        .flatMap(Multimodal.MediaCodec.imageDHash)
        .map(h => (m.media_id, h)))
      .toMap
    assert(live === fixture)
  }

  test("q202 fixture parity: the live javax.sound decode+downmix " +
      "reproduces the committed fixtures/q202_pcm.csv bit-for-bit " +
      "(the 'trust the decoder ONCE' seam for audio)") {
    val f = new java.io.File("fixtures/q202_pcm.csv")
    assert(f.exists(), s"missing ${f.getAbsolutePath} — regenerate " +
      "with `sbt \"runMain graft.FixtureDump\"` and commit it with " +
      "the oracle it pins")
    val fixture = scala.io.Source.fromFile(f, "UTF-8").getLines()
      .drop(1).filter(_.nonEmpty).map { line =>
        val Array(id, t, s) = line.split(",")
        (id.toLong, t.toInt) -> s.toInt
      }.toMap
    val live = Multimodal.syntheticMedia(spark, 300)
      .collect()
      .filter(m => m.kind == "audio" && m.payload != null)
      .flatMap(m => Multimodal.MediaCodec.monoPcm16(m.payload)
        .toSeq.flatMap(_.iterator.zipWithIndex
          .map { case (s, t) => (m.media_id, t) -> s }))
      .toMap
    assert(live.size === fixture.size)
    assert(live === fixture)
  }

  test("q55 fixture parity: the live three-codec decode reproduces the " +
      "committed fixtures/q55_meta.csv metadata bit-for-bit (the " +
      "round-18 metadata seam — only dims/frame counts freeze, the " +
      "float features stay live)") {
    val f = new java.io.File("fixtures/q55_meta.csv")
    assert(f.exists(), s"missing ${f.getAbsolutePath} — regenerate " +
      "with `sbt \"runMain graft.FixtureDump\"` and commit it with " +
      "the oracle it pins")
    val fixture = scala.io.Source.fromFile(f, "UTF-8").getLines()
      .drop(1).filter(_.nonEmpty).map { line =>
        val Array(id, kind, w, h, nf) = line.split(",")
        id.toLong -> ((kind, w.toInt, h.toInt, nf.toInt))
      }.toMap
    val live = Multimodal.syntheticMedia(spark, 300)
      .collect()
      .flatMap(Multimodal.MediaCodec.decodeItem)
      .map(m => m.media_id -> ((m.kind, m.width, m.height, m.n_frames)))
      .toMap
    assert(live.size === fixture.size)
    assert(live === fixture)
  }

  test("monoPcm16 downmix: interleaved stereo averages per time step " +
      "with truncating integer mean; mono passes through untouched") {
    // hand-built stereo WAV: L = [100, -200, 3], R = [300, -100, -8]
    val l = Array[Short](100, -200, 3)
    val r = Array[Short](300, -100, -8)
    val data = new Array[Byte](12)
    for (t <- 0 until 3; c <- 0 until 2) {
      val s = if (c == 0) l(t) else r(t)
      data(4 * t + 2 * c) = (s & 0xFF).toByte
      data(4 * t + 2 * c + 1) = ((s >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, 2, 4, 8000f, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, 3L)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val mono = Multimodal.MediaCodec.monoPcm16(bos.toByteArray).get
    // (100+300)/2 = 200; (-200 + -100)/2 = -150; (3 + -8)/2 = -2
    // (JVM integer division truncates toward zero: -5/2 = -2)
    assert(mono.toSeq === Seq(200, -150, -2))
  }
}
