package graft

import graft.io.Tables
import graft.ops.MultimodalOps
import org.scalatest.funsuite.AnyFunSuite

class MultimodalOpsSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  test("resize caps payload size and rewrites metadata dims") {
    val media = MultimodalOps.fromDocuments(spark, Tables.documents(spark, sf))
    val resized = MultimodalOps.resizeMedia(media, targetW = 32, targetH = 32).collect()
    val budget = 32 * 32 / 64
    val orig = media.collect().map(r => r.mediaId -> r.content.length).toMap
    assert(resized.length == orig.size)
    resized.foreach { r =>
      assert(r.content.length == math.min(orig(r.mediaId), budget))
      assert(r.meta.width == 32 && r.meta.height == 32)
    }
  }

  test("feature extraction preserves row count and emits fixed-dim vectors") {
    val media = MultimodalOps.fromDocuments(spark, Tables.documents(spark, sf))
    val feats = MultimodalOps.extractFeatures(media, dim = 16).collect()
    assert(feats.length == media.count())
    feats.foreach { f =>
      assert(f.feature.length == 16)
      assert(f.nBytes > 0)
      assert(f.checksum >= 0 && f.checksum <= 0x7fffffffL)
    }
  }

  test("decode stub is deterministic") {
    val bytes = "hello media".getBytes("UTF-8")
    assert(MultimodalOps.decodeStub(bytes, 8).toSeq == MultimodalOps.decodeStub(bytes, 8).toSeq)
  }

  test("real PNG round trip: ImageIO decode reproduces every generated pixel") {
    for (id <- Seq(0L, 1L, 7L, 123L, 4999L)) {
      val src = MultimodalOps.synthImage(id)
      val png = MultimodalOps.encodePng(src)
      // PNG magic: this is a real encoded file, not a byte passthrough
      assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
      val img = MultimodalOps.decodeImage(png).get
      assert(img.getWidth == (8 + id % 9).toInt && img.getHeight == (8 + id % 7).toInt)
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val p = img.getRGB(x, y)
        assert(((p >> 16) & 0xff) == ((id * 3 + x * 7 + y * 13) % 256).toInt)
        assert(((p >> 8) & 0xff) == ((id * 5 + x * 11 + y * 3) % 256).toInt)
        assert((p & 0xff) == ((id * 7 + x * 5 + y * 17) % 256).toInt)
      }
    }
  }

  test("decodeImage rejects non-image bytes instead of guessing") {
    assert(MultimodalOps.decodeImage("not a png at all".getBytes("UTF-8")).isEmpty)
  }

  test("imageDecodeStats matches the locally recomputed pixel formula") {
    val docs = Tables.documents(spark, sf)
    val out = MultimodalOps.imageDecodeStats(MultimodalOps.imageCorpus(spark, docs))
      .orderBy("doc_id").collect()
    assert(out.length == docs.count())
    out.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = ((8 + id % 9).toInt, (8 + id % 7).toInt)
      assert(r.getLong(1) == w && r.getLong(2) == h && r.getLong(3) == w.toLong * h)
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        sr += (id * 3 + x * 7 + y * 13) % 256
        sg += (id * 5 + x * 11 + y * 3) % 256
        sb += (id * 7 + x * 5 + y * 17) % 256
      }
      assert(r.getLong(4) == sr && r.getLong(5) == sg && r.getLong(6) == sb)
    }
  }

  test("imageAHash matches the locally recomputed block-mean hash; pairs verify exact hamming") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val out = MultimodalOps.imageAHash(MultimodalOps.imageCorpus(spark, docs))
      .orderBy("doc_id").collect()
    assert(out.length == docs.count())
    out.foreach { r =>
      val id = r.getLong(0)
      val (w, h) = ((8 + id % 9).toInt, (8 + id % 7).toInt)
      val sums = new Array[Long](64); val cnts = new Array[Long](64)
      for (y <- 0 until h; x <- 0 until w) {
        val gray = ((id * 3 + x * 7 + y * 13) % 256 +
          (id * 5 + x * 11 + y * 3) % 256 +
          (id * 7 + x * 5 + y * 17) % 256) / 3
        val c = (y * 8 / h) * 8 + x * 8 / w
        sums(c) += gray; cnts(c) += 1
      }
      val means = Array.tabulate(64)(i => sums(i) / cnts(i))
      val thr = means.sum / 64
      var hi = 0L; var lo = 0L
      for (i <- 0 until 64 if means(i) >= thr)
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      assert(r.getLong(1) == w && r.getLong(2) == h)
      assert(r.getLong(3) == hi && r.getLong(4) == lo,
        s"hash mismatch for doc $id: got (${r.getLong(3)},${r.getLong(4)}) want ($hi,$lo)")
    }
    // pairs: two hand-made near-identical rasters land within hamming 7;
    // an unrelated inverted raster does not pair with them
    def img(f: (Int, Int) => Int): Array[Byte] = {
      val b = new java.awt.image.BufferedImage(16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) { val v = f(x, y) & 0xff; b.setRGB(x, y, (v << 16) | (v << 8) | v) }
      MultimodalOps.encodePng(b)
    }
    val grad = (x: Int, _: Int) => x * 16           // left dark, right bright
    val gradTweak = (x: Int, y: Int) => if (x == 0 && y == 0) 255 else x * 16
    val inverted = (x: Int, _: Int) => 255 - x * 16
    val media = Seq(
      MultimodalOps.MediaRow(1L, "image", img(grad), MultimodalOps.MediaMeta("png", 16, 16, 0L)),
      MultimodalOps.MediaRow(2L, "image", img(gradTweak), MultimodalOps.MediaMeta("png", 16, 16, 0L)),
      MultimodalOps.MediaRow(3L, "image", img(inverted), MultimodalOps.MediaMeta("png", 16, 16, 0L)))
      .toDS()
    val pairs = MultimodalOps.imageAHashPairs(media, maxDist = 7, limit = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)), s"got ${pairs.toSeq}")
    assert(pairs.head._3 <= 1L, s"one tweaked pixel flips at most one block bit: ${pairs.head}")
  }

  test("extractFeatures uses decoded pixels for real images") {
    import spark.implicits._
    val media = MultimodalOps.imageCorpus(spark, Tables.documents(spark, sf).limit(20))
    val feats = MultimodalOps.extractFeatures(media, dim = 8).collect()
    val byId = media.collect().map(m => m.mediaId -> m).toMap
    feats.foreach { f =>
      val img = MultimodalOps.decodeImage(byId(f.mediaId).content).get
      assert(f.feature.toSeq == MultimodalOps.pixelFeatures(img, 8).toSeq)
      // and NOT the byte stub over the compressed payload
      assert(f.feature.toSeq != MultimodalOps.decodeStub(byId(f.mediaId).content, 8).toSeq)
    }
  }

  test("real WAV round trip: AudioSystem decode reproduces every generated sample") {
    for (id <- Seq(0L, 1L, 7L, 123L, 4999L)) {
      val src = MultimodalOps.synthSamples(id)
      val wav = MultimodalOps.encodeWav(src)
      // RIFF/WAVE magic: this is a real container, not a byte passthrough
      assert(wav(0) == 'R' && wav(1) == 'I' && wav(2) == 'F' && wav(3) == 'F')
      assert(wav(8) == 'W' && wav(9) == 'A' && wav(10) == 'V' && wav(11) == 'E')
      val (rate, channels, samples) = MultimodalOps.decodeWav(wav).get
      assert(rate == 8000L && channels == 1)
      assert(samples.toSeq == src.toSeq,
        s"decoded PCM must be bit-exact for id $id")
    }
  }

  test("decodeWav rejects non-audio bytes instead of guessing") {
    assert(MultimodalOps.decodeWav("not a wav at all".getBytes("UTF-8")).isEmpty)
    // and an image payload is not audio either
    val png = MultimodalOps.encodePng(MultimodalOps.synthImage(3L))
    assert(MultimodalOps.decodeWav(png).isEmpty)
  }

  test("audioDecodeStats matches the locally recomputed sample formula") {
    val docs = Tables.documents(spark, sf)
    val out = MultimodalOps.audioDecodeStats(MultimodalOps.audioCorpus(spark, docs))
      .orderBy("doc_id").collect()
    assert(out.length == docs.count())
    out.foreach { r =>
      val id = r.getLong(0)
      val n = (64 + id % 129).toInt
      assert(r.getLong(1) == n && r.getLong(2) == 8000L && r.getLong(3) == 1L)
      val abs = (0 until n).map(i => math.abs((id * 31 + i.toLong * 17) % 65536 - 32768))
      assert(r.getLong(4) == abs.sum && r.getLong(5) == abs.max)
    }
  }

  test("extractFeatures uses decoded samples for real WAV audio") {
    import spark.implicits._
    val media = MultimodalOps.audioCorpus(spark, Tables.documents(spark, sf).limit(20))
    val feats = MultimodalOps.extractFeatures(media, dim = 8).collect()
    val byId = media.collect().map(m => m.mediaId -> m).toMap
    feats.foreach { f =>
      val (_, _, samples) = MultimodalOps.decodeWav(byId(f.mediaId).content).get
      assert(f.feature.toSeq == MultimodalOps.sampleFeatures(samples, 8).toSeq)
      // and NOT the byte stub over the WAV container bytes
      assert(f.feature.toSeq != MultimodalOps.decodeStub(byId(f.mediaId).content, 8).toSeq)
    }
  }

  test("resampleAudioMedia really decimates decoded PCM and re-encodes WAV") {
    import spark.implicits._
    val media = MultimodalOps.audioCorpus(spark, Tables.documents(spark, sf).limit(15))
    val src = media.collect().map(m => m.mediaId -> m).toMap
    val out = MultimodalOps.resampleAudioMedia(media, targetRateHz = 4000).collect()
    assert(out.length == src.size)
    out.foreach { r =>
      assert(r.meta.format == "wav" && r.meta.height == 4000)
      val (rate, channels, samples) = MultimodalOps.decodeWav(r.content).get
      assert(rate == 4000L && channels == 1, "re-encoded at the target rate")
      val (_, _, orig) = MultimodalOps.decodeWav(src(r.mediaId).content).get
      // plain decimation: every 2nd source sample, bit-exact
      assert(samples.toSeq == orig.indices.collect { case i if i % 2 == 0 => orig(i) }.toSeq)
      // wall-clock duration preserved: n/2 samples at rate/2
      assert(r.meta.durationMs == samples.length.toLong * 1000 / 4000)
    }
    // payloads the audio readers cannot decode pass through unchanged
    val img = MultimodalOps.imageCorpus(spark, Tables.documents(spark, sf).limit(3))
    val passthrough = MultimodalOps.resampleAudioMedia(img, 4000).collect()
    passthrough.foreach { r =>
      assert(MultimodalOps.decodeImage(r.content).isDefined, "image bytes untouched")
    }
  }

  test("resizeMedia really rescales decodable images and re-encodes PNG") {
    import spark.implicits._
    val media = MultimodalOps.imageCorpus(spark, Tables.documents(spark, sf).limit(10))
    val resized = MultimodalOps.resizeMedia(media, targetW = 5, targetH = 4).collect()
    resized.foreach { r =>
      assert(r.meta.format == "png" && r.meta.width == 5 && r.meta.height == 4)
      val img = MultimodalOps.decodeImage(r.content).get
      assert(img.getWidth == 5 && img.getHeight == 4)
    }
    // solid-color image: any interpolation must preserve the color exactly
    val solid = new java.awt.image.BufferedImage(9, 9, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 9; x <- 0 until 9) solid.setRGB(x, y, 0x123456)
    val one = Seq(MultimodalOps.MediaRow(1L, "image", MultimodalOps.encodePng(solid),
      MultimodalOps.MediaMeta("png", 9, 9, 0L))).toDS()
    val out = MultimodalOps.resizeMedia(one, 3, 3).collect().head
    val dec = MultimodalOps.decodeImage(out.content).get
    for (y <- 0 until 3; x <- 0 until 3) assert((dec.getRGB(x, y) & 0xffffff) == 0x123456)
  }

  test("frame sampling fans out with stride and fixed frame size") {
    val media = MultimodalOps.fromDocuments(spark, Tables.documents(spark, sf))
    val frames = MultimodalOps.sampleFrames(media, frameSize = 16, stride = 8)
    val rows = frames.filter("media_id = 0").orderBy("frame_no").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Array[Byte]]("frame_bytes").length == 16))
    assert(rows.map(_.getInt(1)).toSeq == rows.indices)
  }

  test("frame summary counts match the sampling arithmetic") {
    val docs = Tables.documents(spark, sf)
    val out = MultimodalOps.frameSummary(spark, docs, frameSize = 32, stride = 24).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("audio", "image", "video"))
    // total frames = sum over docs of the exclusive-stop stride count
    import org.apache.spark.sql.functions._
    val expected = docs.filter(col("text").isNotNull)
      .select(length(col("text")).as("n")).collect()
      .map(r => math.max(0, (r.getInt(0) - 32 + 1 + 23) / 24)).map(_.toLong).sum
    assert(out.map(_.getLong(1)).sum == expected)
    out.foreach(r => assert(r.getLong(2) <= r.getLong(3))) // min <= max checksum
  }

  test("real AVI round trip: container parse reproduces every generated frame, bit-exact") {
    for (id <- Seq(0L, 1L, 7L, 123L, 4999L)) {
      val src = MultimodalOps.synthVideo(id)
      val avi = MultimodalOps.encodeAvi(src.width, src.height, src.fps, src.frames.toSeq)
      // RIFF/AVI magic: this is a real container, not a byte passthrough
      assert(avi(0) == 'R' && avi(1) == 'I' && avi(2) == 'F' && avi(3) == 'F')
      assert(avi(8) == 'A' && avi(9) == 'V' && avi(10) == 'I' && avi(11) == ' ')
      val dec = MultimodalOps.decodeAvi(avi).get
      assert(dec.width == src.width && dec.height == src.height && dec.fps == src.fps)
      assert(dec.frames.length == src.frames.length)
      dec.frames.zip(src.frames).foreach { case (d, s) =>
        assert(d.toSeq == s.toSeq, s"decoded raster must be bit-exact for id $id")
      }
      // container round trip is bit-exact both ways: re-encoding the
      // decode reproduces the original container byte-for-byte
      val reenc = MultimodalOps.encodeAvi(dec.width, dec.height, dec.fps, dec.frames.toSeq)
      assert(reenc.toSeq == avi.toSeq, s"container re-encode must be bit-exact for id $id")
    }
  }

  test("decodeAvi rejects non-video bytes instead of guessing") {
    assert(MultimodalOps.decodeAvi("not an avi at all".getBytes("UTF-8")).isEmpty)
    // a WAV is also RIFF but not AVI — the form type must be checked
    assert(MultimodalOps.decodeAvi(MultimodalOps.encodeWav(MultimodalOps.synthSamples(3L))).isEmpty)
    val png = MultimodalOps.encodePng(MultimodalOps.synthImage(3L))
    assert(MultimodalOps.decodeAvi(png).isEmpty)
  }

  test("videoDecodeStats matches the locally recomputed frame formula") {
    val docs = Tables.documents(spark, sf)
    val out = MultimodalOps.videoDecodeStats(MultimodalOps.videoCorpus(spark, docs))
      .orderBy("doc_id").collect()
    assert(out.length == docs.count())
    out.foreach { r =>
      val id = r.getLong(0)
      val (w, h, nf, fps) =
        ((4 + id % 6).toInt, (4 + id % 4).toInt, (2 + id % 5).toInt, (10 + id % 3).toInt)
      assert(r.getLong(1) == nf && r.getLong(2) == w && r.getLong(3) == h)
      assert(r.getLong(4) == fps && r.getLong(5) == nf.toLong * w * h)
      var sr = 0L; var sg = 0L; var sb = 0L
      for (f <- 0 until nf; y <- 0 until h; x <- 0 until w) {
        sr += (id * 3 + f * 19 + x * 7 + y * 13) % 256
        sg += (id * 5 + f * 23 + x * 11 + y * 3) % 256
        sb += (id * 7 + f * 29 + x * 5 + y * 17) % 256
      }
      assert(r.getLong(6) == sr && r.getLong(7) == sg && r.getLong(8) == sb)
    }
  }

  test("sampleVideoFrames emits REAL decoded frames re-encoded as lossless PNG") {
    val media = MultimodalOps.videoCorpus(spark, Tables.documents(spark, sf).limit(12))
    val out = MultimodalOps.sampleVideoFrames(media, stride = 2).collect()
    val srcById = media.collect().map(m => m.mediaId -> m).toMap
    // fan-out arithmetic: every 2nd frame of each clip
    val expected = srcById.keys.toSeq.map(id => ((2 + id % 5) + 1) / 2).sum
    assert(out.length == expected)
    out.foreach { r =>
      val id = r.getLong(0)
      val f = r.getInt(1)
      assert(f % 2 == 0, "stride-2 keeps even frame numbers")
      val v = MultimodalOps.decodeAvi(srcById(id).content).get
      val img = MultimodalOps.decodeImage(r.getAs[Array[Byte]]("frame_png")).get
      assert(img.getWidth == v.width && img.getHeight == v.height)
      for (y <- 0 until v.height; x <- 0 until v.width)
        assert((img.getRGB(x, y) & 0xffffff) == v.frames(f)(y * v.width + x),
          s"PNG of sampled frame $f must match the decoded raster for id $id")
    }
  }

  test("extractFeatures uses decoded frames for real AVI video") {
    val media = MultimodalOps.videoCorpus(spark, Tables.documents(spark, sf).limit(20))
    val feats = MultimodalOps.extractFeatures(media, dim = 8).collect()
    val byId = media.collect().map(m => m.mediaId -> m).toMap
    feats.foreach { f =>
      val v = MultimodalOps.decodeAvi(byId(f.mediaId).content).get
      assert(f.feature.toSeq == MultimodalOps.videoFeatures(v, 8).toSeq)
      // and NOT the byte stub over the container bytes
      assert(f.feature.toSeq != MultimodalOps.decodeStub(byId(f.mediaId).content, 8).toSeq)
    }
  }

  test("resampleVideoMedia really decimates decoded frames and re-encodes AVI") {
    val media = MultimodalOps.videoCorpus(spark, Tables.documents(spark, sf).limit(12))
    val src = media.collect().map(m => m.mediaId -> m).toMap
    // fps is 10..12 across the corpus; 1 divides all of them
    val out = MultimodalOps.resampleVideoMedia(media, targetFps = 1).collect()
    assert(out.length == src.size)
    out.foreach { r =>
      val v = MultimodalOps.decodeAvi(r.content).get
      val orig = MultimodalOps.decodeAvi(src(r.mediaId).content).get
      assert(v.fps == 1 && v.width == orig.width && v.height == orig.height)
      // plain decimation: every fps-th source frame, bit-exact rasters
      val expected = orig.frames.indices.collect {
        case i if i % orig.fps == 0 => orig.frames(i).toSeq
      }.toSeq
      assert(v.frames.map(_.toSeq).toSeq == expected)
      assert(r.meta.durationMs == v.frames.length.toLong * 1000)
    }
    // non-divisible rate throws instead of silently passing through
    val ex = intercept[org.apache.spark.SparkException] {
      MultimodalOps.resampleVideoMedia(media, targetFps = 7).collect()
    }
    assert(ex.getMessage != null)
    // payloads the container parser cannot decode pass through unchanged
    val img = MultimodalOps.imageCorpus(spark, Tables.documents(spark, sf).limit(3))
    MultimodalOps.resampleVideoMedia(img, 1).collect().foreach { r =>
      assert(MultimodalOps.decodeImage(r.content).isDefined, "image bytes untouched")
    }
  }

  test("resampleAudioMedia throws loudly when the target rate cannot be decimated to") {
    val media = MultimodalOps.audioCorpus(spark, Tables.documents(spark, sf).limit(3))
    val ex = intercept[org.apache.spark.SparkException] {
      // 3000 does not divide 8000: silent passthrough would be
      // indistinguishable from success
      MultimodalOps.resampleAudioMedia(media, targetRateHz = 3000).collect()
    }
    assert(ex.getMessage != null)
  }

  test("modality summary partitions the corpus into three modalities") {
    val out = MultimodalOps.modalitySummary(spark, Tables.documents(spark, sf), 16).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("audio", "image", "video"))
    assert(out.map(_.getLong(1)).sum == Tables.documents(spark, sf).count())
  }

  test("JPEG quality 1.0 reproduces every uniform-gray level bit-exactly (all 256)") {
    // the exactness contract the q127 closed-form oracle rests on:
    // uniform blocks quantize to DC-only with unit tables, constant
    // chroma is 128 — no level may drift by even one step
    (0 until 256).foreach { v =>
      val img = new java.awt.image.BufferedImage(6, 4,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 6) img.setRGB(x, y, (v << 16) | (v << 8) | v)
      val back = MultimodalOps.decodeImage(MultimodalOps.encodeJpeg(img)).get
      for (y <- 0 until 4; x <- 0 until 6)
        assert((back.getRGB(x, y) & 0xffffff) == ((v << 16) | (v << 8) | v),
          s"gray level $v drifted at ($x,$y)")
    }
  }

  test("real MJPEG AVI round trip: container + JPEG codec reproduce every gray frame") {
    (0L to 40L).foreach { id =>
      val v = MultimodalOps.synthVideoGray(id)
      val avi = MultimodalOps.encodeAviMjpeg(v.width, v.height, v.fps, v.frames.toSeq)
      val d = MultimodalOps.decodeAvi(avi).getOrElse(
        fail(s"MJPEG container for doc $id did not decode"))
      assert(d.width == v.width && d.height == v.height && d.fps == v.fps)
      assert(d.frames.length == v.frames.length)
      d.frames.zip(v.frames).zipWithIndex.foreach { case ((got, want), f) =>
        assert(got.toSeq == want.toSeq, s"doc $id frame $f pixel drift")
      }
    }
    // uncompressed decode path untouched: raw and MJPEG containers of the
    // same frames disagree on bytes but agree on decoded content
    val raw = MultimodalOps.synthVideoGray(7L)
    val viaRaw = MultimodalOps.decodeAvi(
      MultimodalOps.encodeAvi(raw.width, raw.height, raw.fps, raw.frames.toSeq)).get
    assert(viaRaw.frames.map(_.toSeq).toSeq == raw.frames.map(_.toSeq).toSeq)
    // a well-formed MJPG container with a CORRUPT frame chunk honors the
    // return-None contract (ImageIO's IIOException must not escape)
    val v7 = MultimodalOps.synthVideoGray(7L)
    val avi7 = MultimodalOps.encodeAviMjpeg(v7.width, v7.height, v7.fps, v7.frames.toSeq)
    val corrupted = avi7.clone()
    // zero out bytes shortly after the first 00dc payload begins: the
    // JPEG SOI/headers get destroyed while the RIFF framing stays valid
    val dcAt = corrupted.indices.find(i =>
      corrupted(i) == '0'.toByte && corrupted(i + 1) == '0'.toByte &&
        corrupted(i + 2) == 'd'.toByte && corrupted(i + 3) == 'c'.toByte).get
    (dcAt + 8 until math.min(dcAt + 24, corrupted.length)).foreach(corrupted(_) = 0)
    assert(MultimodalOps.decodeAvi(corrupted).isEmpty,
      "corrupt MJPEG frame payload must decode to None, not throw")
    // a movi frame chunk declaring a size past the end of its list ends
    // that list: the frames before it still decode, also when offset +
    // size overflows an Int
    val aviRaw = MultimodalOps.encodeAvi(raw.width, raw.height, raw.fps, raw.frames.toSeq)
    val firstDb = aviRaw.indices.find(i =>
      new String(aviRaw, i, 4, "US-ASCII") == "00db").get
    val firstSize = (0 until 4).map(k => (aviRaw(firstDb + 4 + k) & 0xff) << (8 * k)).sum
    val secondDb = firstDb + 8 + firstSize + (firstSize & 1)
    assert(new String(aviRaw, secondDb, 4, "US-ASCII") == "00db")
    for (size <- Seq(aviRaw.length, 0x7ffffff8)) {
      val overrun = aviRaw.clone()
      (0 until 4).foreach(k => overrun(secondDb + 4 + k) = ((size >>> (8 * k)) & 0xff).toByte)
      val (d, keys) = MultimodalOps.decodeAviKeyed(overrun).getOrElse(
        fail(s"frame size $size: the frame before the overrun must decode"))
      assert(d.frames.length == 1 && keys.toSeq == Seq(true), s"frame size $size")
      assert(d.frames(0).toSeq == raw.frames(0).toSeq, s"frame size $size")
    }
  }

  test("videoCorpusMjpeg decode stats match the closed-form gray formula") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf).limit(30)
    val got = MultimodalOps.videoDecodeStats(
        MultimodalOps.videoCorpusMjpeg(spark, docs))
      .orderBy(col("doc_id")).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val id = r.getLong(0)
      val (w, h, nf, fps) = (4 + id % 6, 4 + id % 4, 2 + id % 5, 10 + id % 3)
      val sum = (0L until nf).map(f => ((id * 11 + f * 31) % 256) * w * h).sum
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) == ((nf, w, h, fps)))
      assert(r.getLong(5) == nf * w * h)
      assert(r.getLong(6) == sum && r.getLong(7) == sum && r.getLong(8) == sum,
        s"doc $id channel sums drifted")
    }
  }

  test("mp3 header walk: index tables, frame count and byte total match the formulas") {
    for (id <- 0L to 40L by 2) {
      val bytes = MultimodalOps.synthMp3(id)
      val h = MultimodalOps.parseMp3Headers(bytes)
      val nf = 2 + id % 5
      // per-frame bitrates: every fifth mp3 is VBR, the rest constant
      val kbF = (0L until nf).map(f => MultimodalOps.Mp3BitratesKbps(
        (if (id % 10 == 4) 1 + (id + 3 * f) % 14 else 1 + id % 14).toInt))
      val rate = MultimodalOps.Mp3RatesHz((id % 3).toInt)
      assert(h.format == "mp3" && h.sampleRate == rate)
      assert(h.bitrateKbps.contains(kbF.sum / nf),
        s"doc $id bitrate must be the exact frame mean")
      assert(h.channels == (if ((id / 2) % 4 == 3) 1L else 2L))
      assert(h.nFrames == nf && h.samplesPerFrame == 1152L)
      // independent byte recount off the spec's frame-length arithmetic,
      // plus the synchsafe-skipped ID3v2 prefix every third mp3 carries,
      // plus the 128 kbps Xing metadata frame every VBR doc opens with
      val tag = if (id % 6 == 0) 20 + id % 40 else 0L
      val xing = if (id % 10 == 4) 144000L * 128L / rate else 0L
      val expect = (0L until nf).map(f => 144000L * kbF(f.toInt) / rate + (id + f) % 2).sum
      assert(h.tagBytes == tag, s"doc $id tag skip drifted")
      assert(h.hasXing == (id % 10 == 4), s"doc $id Xing detection drifted")
      assert(h.totalBytes == bytes.length.toLong && h.totalBytes == expect + tag + xing,
        s"doc $id byte walk drifted")
    }
  }

  test("Xing metadata frame: skipped from stats, cross-checked, Info accepted") {
    val vbr = MultimodalOps.synthMp3(4L) // VBR -> leading Xing frame
    val h = MultimodalOps.parseMp3Headers(vbr)
    assert(h.hasXing && h.nFrames == 6L,
      "Xing frame must not count as audio (the one-frame duration skew)")
    // the 'Info' variant (CBR encodes) is detected at the same offset
    val xOff = 4 + 32 // stereo side info (id 4 -> mode 2)
    val info = vbr.clone()
    info(xOff) = 'I'; info(xOff + 1) = 'n'; info(xOff + 2) = 'f'; info(xOff + 3) = 'o'
    assert(MultimodalOps.parseMp3Headers(info).hasXing)
    // a LYING frame-count field fails loudly, never ships wrong metadata
    val badN = vbr.clone(); badN(xOff + 11) = (badN(xOff + 11) ^ 0x01).toByte
    val e1 = intercept[IllegalArgumentException](MultimodalOps.parseMp3Headers(badN))
    assert(e1.getMessage.contains("Xing frame count"))
    // a LYING byte-total field too
    val badB = vbr.clone(); badB(xOff + 15) = (badB(xOff + 15) ^ 0x01).toByte
    val e2 = intercept[IllegalArgumentException](MultimodalOps.parseMp3Headers(badB))
    assert(e2.getMessage.contains("Xing byte count"))
    // CBR streams carry no marker: never misdetected off the filler
    assert(!MultimodalOps.parseMp3Headers(MultimodalOps.synthMp3(2L)).hasXing)
    // tag + Xing compose: id 24 has BOTH the ID3v2 prefix and a Xing frame
    val both = MultimodalOps.parseMp3Headers(MultimodalOps.synthMp3(24L))
    assert(both.tagBytes == 44L && both.hasXing && both.nFrames == 6L)
  }

  test("ADTS header walk: 13-bit length split, rate/channel tables, frame count") {
    for (id <- 1L to 41L by 2) {
      val bytes = MultimodalOps.synthAdts(id)
      val h = MultimodalOps.parseAdtsHeaders(bytes)
      assert(h.format == "aac" && h.bitrateKbps.isEmpty)
      assert(h.sampleRate == MultimodalOps.AdtsRatesHz((3 + id % 4).toInt))
      assert(h.channels == 1 + (id / 2) % 2)
      assert(h.nFrames == 2 + id % 5 && h.samplesPerFrame == 1024L)
      assert(h.totalBytes == (0L until (2 + id % 5)).map(f => 71 + (id + f) % 50).sum)
    }
  }

  test("compressed-audio header walk fails loudly on corrupt sync or truncation") {
    val ok = MultimodalOps.synthMp3(4L)
    val badSync = ok.clone(); badSync(0) = 0x00
    intercept[IllegalArgumentException](MultimodalOps.parseMp3Headers(badSync))
    intercept[IllegalArgumentException](MultimodalOps.parseMp3Headers(ok.dropRight(1)))
    val okA = MultimodalOps.synthAdts(5L)
    val badA = okA.clone(); badA(1) = 0x00
    intercept[IllegalArgumentException](MultimodalOps.parseAdtsHeaders(badA))
    intercept[IllegalArgumentException](MultimodalOps.parseAdtsHeaders(okA.dropRight(1)))
    // ID3v2: a non-synchsafe size byte and a footer flag both fail loudly
    val tagged = MultimodalOps.synthMp3(6L)
    assert(MultimodalOps.parseMp3Headers(tagged).tagBytes == 26L)
    val badSz = tagged.clone(); badSz(6) = (badSz(6) | 0x80).toByte
    intercept[IllegalArgumentException](MultimodalOps.parseMp3Headers(badSz))
    val footer = tagged.clone(); footer(5) = 0x10
    intercept[IllegalArgumentException](MultimodalOps.parseMp3Headers(footer))
  }

  test("compressedAudioHeaderStats: layer-bit dispatch and hand-computed rows") {
    import spark.implicits._
    val docs = Seq(2L, 4L, 6L, 7L).toDF("doc_id")
    val got = MultimodalOps.compressedAudioHeaderStats(
        MultimodalOps.compressedAudioCorpus(spark, docs))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    // id 2 (mp3 CBR): bitrate idx 3 -> 48 kbps, rate idx 2 -> 32000,
    // mode 1 -> stereo, 4 frames of 216+pad, 4*1152*1000/32000 = 144 ms
    assert(got(0) == Seq(2L, "mp3", 32000L, 2L, 48L, 4L, 1152L, 144L, 866L, 0L, false))
    // id 4 (mp3 VBR): 6 frames at indices 5,8,11,14,3,6 -> kbps
    // 64,112,192,320,48,80 (sum 816, mean 136) @ 48000 stereo; bytes
    // 3*816 + 3 pads = 2451 audio + 384 Xing frame = 2835; duration and
    // mean bitrate EXCLUDE the Xing frame: 6*1152*1000/48000 = 144 ms
    assert(got(1) == Seq(4L, "mp3", 48000L, 2L, 136L, 6L, 1152L, 144L, 2835L, 0L, true))
    // id 6 (mp3 + ID3v2): 96 kbps @ 44100, mono, 3 frames of 313+pad,
    // 26-byte tag skipped synchsafe; 3*1152*1000/44100 = 78 ms
    assert(got(2) == Seq(6L, "mp3", 44100L, 1L, 96L, 3L, 1152L, 78L, 966L, 26L, false))
    // id 7 (aac): sf idx 6 -> 24000, 2 channels, 4 frames, 170 ms,
    // bytes 71*4 + (7+8+9+10) mod-50 offsets = 318; header bitrate NULL
    assert(got(3) == Seq(7L, "aac", 24000L, 2L, null, 4L, 1024L, 170L, 318L, 0L, false))
  }

  test("ADPCM predictor: hand-computed fixture walks the step table exactly") {
    // initPred 0, initIdx 0 (step 7), nibbles [2, 15, 7, 8] — every value
    // below derived by hand from the standard IMA tables:
    //  n=2  (0010): diff = 7>>3 + 7>>1 = 3          -> pred 3,  idx 0-1 -> clamp 0
    //  n=15 (1111): diff = 0+1+3+7 = 11, sign       -> pred -8, idx 0+8 = 8 (step 16)
    //  n=7  (0111): diff = 2+4+8+16 = 30            -> pred 22, idx 8+8 = 16 (step 34)
    //  n=8  (1000): diff = 34>>3 = 4, sign          -> pred 18, idx 16-1 = 15
    assert(MultimodalOps.adpcmDecodeBlock(0, 0, Array(2, 15, 7, 8)).toSeq ==
      Seq(0, 3, -8, 22, 18))
    // int16 clamps both ways at the table top (idx 88, step 32767):
    // n=7 adds 61436 -> clamp 32767; n=15 then subtracts 61436 from the
    // CLAMPED 32767 -> -28669, inside range, NO clamp (the clamp feeds
    // back into the predictor state — the decoder must not track the
    // unclamped value)
    assert(MultimodalOps.adpcmDecodeBlock(32760, 88, Array(7, 15)).toSeq ==
      Seq(32760, 32767, -28669))
    // the negative clamp, from a predictor already near the floor
    assert(MultimodalOps.adpcmDecodeBlock(-32760, 88, Array(15)).toSeq ==
      Seq(-32760, -32768))
    // index floor: n=0 at idx 0 stays 0 (step stays 7), n=4 then adds 7
    assert(MultimodalOps.adpcmDecodeBlock(5, 0, Array(0, 4)).toSeq == Seq(5, 5, 12))
    intercept[IllegalArgumentException](MultimodalOps.adpcmDecodeBlock(5, 89, Array(0)))
  }

  test("ADPCM WAV round trip: container parse + predictor equal the formula blocks") {
    for (id <- Seq(0L, 1L, 2L, 7L, 123L, 4999L)) {
      val wav = MultimodalOps.synthAdpcmWav(id)
      // a real RIFF/WAVE file declaring format 0x11
      assert(wav(0) == 'R' && wav(8) == 'W' && wav(20) == 0x11 && wav(21) == 0)
      val (rate, nb, samples) = MultimodalOps.decodeImaAdpcmWav(wav).get
      assert(rate == 8000L && nb == (1 + id % 3).toInt)
      assert(samples.length == nb * MultimodalOps.AdpcmSamplesPerBlock)
      val want = (0 until nb).flatMap { blk =>
        MultimodalOps.adpcmDecodeBlock(
          MultimodalOps.adpcmInitPred(id, blk),
          MultimodalOps.adpcmInitIdx(id, blk),
          Array.tabulate(64)(j => MultimodalOps.adpcmNibble(id, blk, j)))
      }
      assert(samples.toSeq == want, s"doc $id decode diverged from formula")
    }
  }

  test("ADPCM decode: None on non-ADPCM bytes, loud on an inconsistent container") {
    assert(MultimodalOps.decodeImaAdpcmWav("not a wav".getBytes("UTF-8")).isEmpty)
    // a lossless PCM WAV (format 1) is NOT ours: dispatch contract
    assert(MultimodalOps.decodeImaAdpcmWav(
      MultimodalOps.encodeWav(MultimodalOps.synthSamples(3L))).isEmpty)
    // a lying fact chunk must fail loudly, never ship a partial decode
    val wav = MultimodalOps.synthAdpcmWav(5L)
    val badFact = wav.clone(); badFact(48) = (badFact(48) ^ 1).toByte
    val e = intercept[IllegalArgumentException](
      MultimodalOps.decodeImaAdpcmWav(badFact))
    assert(e.getMessage.contains("fact"))
    // truncated data section: not a whole number of blocks
    val trunc = java.util.Arrays.copyOf(wav, wav.length - 1)
    // fix the RIFF + data sizes so the truncation is INTERNAL, not framing
    def putLe32(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
      b(off + 2) = ((v >> 16) & 0xff).toByte; b(off + 3) = ((v >> 24) & 0xff).toByte
    }
    putLe32(trunc, 4, trunc.length - 8)
    putLe32(trunc, 56, trunc.length - 60) // data chunk size (header at 52)
    intercept[IllegalArgumentException](MultimodalOps.decodeImaAdpcmWav(trunc))
    // a chunk declaring a size past the end of the file is framing damage:
    // None, also when offset + size overflows an Int
    for (size <- Seq(wav.length, 0x7ffffff8)) {
      val overrun = wav.clone(); putLe32(overrun, 16, size) // fmt chunk size
      assert(MultimodalOps.decodeImaAdpcmWav(overrun).isEmpty, s"fmt size $size")
    }
  }

  test("adpcmDecodeStats matches a local recomputation through the corpus") {
    import spark.implicits._
    val docs = Seq(0L, 1L, 2L, 3L, 10L, 47L).toDF("doc_id")
    val got = MultimodalOps.adpcmDecodeStats(MultimodalOps.adpcmCorpus(spark, docs))
      .orderBy("doc_id").collect()
    assert(got.length == 6)
    got.foreach { r =>
      val id = r.getLong(0)
      val nb = (1 + id % 3).toInt
      val samples = (0 until nb).flatMap { blk =>
        MultimodalOps.adpcmDecodeBlock(
          MultimodalOps.adpcmInitPred(id, blk),
          MultimodalOps.adpcmInitIdx(id, blk),
          Array.tabulate(64)(j => MultimodalOps.adpcmNibble(id, blk, j)))
      }
      var cs = 0L
      samples.foreach(v => cs = (cs * 31 + v + 32768L) & 0x7fffffffL)
      assert(r.getLong(1) == nb && r.getLong(2) == samples.length)
      assert(r.getLong(3) == 8000L)
      assert(r.getLong(4) == samples.map(v => math.abs(v.toLong)).sum)
      assert(r.getLong(5) == samples.map(v => math.abs(v.toLong)).max)
      assert(r.getLong(6) == cs)
    }
  }

  test("DLT8 round trip: accumulating decode reproduces every generated frame") {
    for (id <- Seq(0L, 1L, 4L, 7L, 123L, 4999L)) {
      val v = MultimodalOps.synthVideoDelta(id)
      val avi = MultimodalOps.encodeAviDelta(v.width, v.height, v.fps, v.frames.toSeq)
      val (dec, keys) = MultimodalOps.decodeAviKeyed(avi).get
      assert(dec.width == v.width && dec.height == v.height && dec.fps == v.fps)
      assert(dec.frames.length == v.frames.length)
      // keyframes exactly every 3rd chunk (the 00db/00dc walk, not the meta)
      assert(keys.toSeq == v.frames.indices.map(_ % MultimodalOps.DeltaKeyInt == 0))
      v.frames.indices.foreach { f =>
        assert(dec.frames(f).toSeq == v.frames(f).toSeq,
          s"doc $id frame $f diverged (accumulation broken)")
      }
      // at least one genuine P-frame in every synthetic clip
      assert(keys.exists(!_))
    }
  }

  test("DLT8 decode: first chunk must be a keyframe; other codecs keep all-true flags") {
    val v = MultimodalOps.synthVideoDelta(2L)
    val avi = MultimodalOps.encodeAviDelta(v.width, v.height, v.fps, v.frames.toSeq)
    // flip the first frame chunk id 00db -> 00dc: a stream opening on a
    // P-frame has nothing to reference and must be rejected, not guessed
    val pat = "00db".getBytes("US-ASCII")
    val idx = avi.indices.find(i => i + 4 <= avi.length &&
      avi(i) == pat(0) && avi(i + 1) == pat(1) && avi(i + 2) == pat(2) &&
      avi(i + 3) == pat(3)).get
    val bad = avi.clone(); bad(idx + 3) = 'c'
    assert(MultimodalOps.decodeAviKeyed(bad).isEmpty)
    // the raw and MJPEG paths report every frame independent (all-true)
    val raw = MultimodalOps.synthVideo(3L)
    val (_, rawKeys) = MultimodalOps.decodeAviKeyed(
      MultimodalOps.encodeAvi(raw.width, raw.height, raw.fps, raw.frames.toSeq)).get
    assert(rawKeys.forall(identity))
    val gray = MultimodalOps.synthVideoGray(3L)
    val (_, mjKeys) = MultimodalOps.decodeAviKeyed(
      MultimodalOps.encodeAviMjpeg(gray.width, gray.height, gray.fps, gray.frames.toSeq)).get
    assert(mjKeys.forall(identity))
  }

  test("videoDeltaDecodeStats: hand-computed motion energy, wrap included") {
    import spark.implicits._
    // 1x1 @ 10 fps, 2 frames: f0 = RGB(1,2,3) keyframe, f1 = RGB(3,2,1)
    // P-frame -> deltas r: 2, g: 0, b: (1-3) mod 256 = 254 -> me = 256
    val media = Seq(graft.ops.MultimodalOps.MediaRow(1L, "video",
      MultimodalOps.encodeAviDelta(1, 1, 10, Seq(Array(0x010203), Array(0x030201))),
      graft.ops.MultimodalOps.MediaMeta("avi-dlt8", 1, 1, 200L)))
    val ds = spark.createDataset(media)(
      org.apache.spark.sql.Encoders.product[graft.ops.MultimodalOps.MediaRow])
    val r = MultimodalOps.videoDeltaDecodeStats(ds).collect().head
    assert(r.getLong(1) == 2L && r.getLong(2) == 1L)  // n_frames, n_key
    assert(r.getLong(7) == 4L && r.getLong(8) == 4L && r.getLong(9) == 4L)
    assert(r.getLong(10) == 256L, s"motion energy ${r.getLong(10)}")
  }

  test("container encoders are byte-stable: output digests over synthetic ids") {
    // SHA-256 over each encoder's containers for ids 0..23, in id order —
    // odd widths (DIB row padding), 2..8 frames, P-frames, odd-length
    // JPEG chunks (RIFF pad byte) and 1..3 ADPCM blocks all occur.
    def digest(bytes: Long => Array[Byte]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      (0L until 24L).foreach(id => md.update(bytes(id)))
      md.digest().map(b => f"${b & 0xff}%02x").mkString
    }
    def avi(synth: Long => MultimodalOps.DecodedVideo,
        enc: (Int, Int, Int, Seq[Array[Int]]) => Array[Byte]): String =
      digest { id => val v = synth(id); enc(v.width, v.height, v.fps, v.frames.toSeq) }
    assert(avi(MultimodalOps.synthVideo, MultimodalOps.encodeAvi(_, _, _, _)) ==
      "54231f07f3f668e07f93a77914312f7f5f8e7f33b06c058af59c5fe19aba0afa")
    assert(avi(MultimodalOps.synthVideoDelta, MultimodalOps.encodeAviDelta(_, _, _, _)) ==
      "ffef65259ae342e97070b6035a4881e5dcee54b0d5ecbd5682a001ff98b19f68")
    // the frame payloads come from `encodeJpeg`, whose bytes belong to the
    // bundled JRE codec (see its JRE COUPLING note): a JDK bump may move
    // this digest with no container change
    assert(avi(MultimodalOps.synthVideoGray, MultimodalOps.encodeAviMjpeg(_, _, _, _)) ==
      "a7fdec1aa19c8c3b92867679ac80d92693aa64aafece81aa8a1e69bd95d9ab16")
    assert(digest(MultimodalOps.synthAdpcmWav) ==
      "6d3f3d0528bb69ccb8be1c8c3420da834d1274ce0a5259d770c1e47cabf83987")
  }
}
