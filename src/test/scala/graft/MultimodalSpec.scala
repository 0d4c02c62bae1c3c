package graft

import graft.operators.Multimodal
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("FakeCodec decode is deterministic and shape-correct") {
    val f = Multimodal.FakeCodec.decode(7L, "abcd".getBytes("UTF-8"))
    assert(f.doc_id == 7L && f.n_bytes == 4)
    assert(f.width == 64 + 4 && f.height == 64 + 2)
    assert(f.mean_byte == (97 + 98 + 99 + 100) / 4.0)
    assert(f.head_hex == "61626364")
    assert(f == Multimodal.FakeCodec.decode(7L, "abcd".getBytes("UTF-8")))
  }

  test("media column keeps metadata out of the blob (pruning-friendly)") {
    val docs = Seq((1L, "hello world")).toDF("doc_id", "text")
    val m = Multimodal.withMediaColumn(docs, "doc_id", "text")
    assert(m.columns.toSeq ==
      Seq("doc_id", "media", "media_bytes", "media_format"))
    assert(m.head().getAs[Int]("media_bytes") == 11)
  }

  test("decodeFeatures runs batched per partition end to end") {
    val docs = Seq((1L, "hello"), (2L, "worlds!")).toDF("doc_id", "text")
    val media = Multimodal.withMediaColumn(docs, "doc_id", "text")
    val feats = Multimodal.decodeFeatures(spark, media).collect()
      .map(f => f.doc_id -> f).toMap
    assert(feats(1L).n_bytes == 5 && feats(2L).n_bytes == 7)
    assert(feats(1L).head_hex == "68656c6c6f")
  }

  test("resizeDims fits into the box, keeps aspect, never upscales") {
    val feats = Seq(
      (1L, 640, 480),   // landscape, downscale by 1/4 → 160x120
      (2L, 100, 400),   // portrait, height-bound → 30x120
      (3L, 80, 60),     // already inside the box → untouched
      (4L, 10000, 1),   // degenerate thin strip → height clamps to 1
      (5L, 3000, 1000)) // 160/3000 not representable: floor would give 159
      .toDF("doc_id", "width", "height")
    val out = Multimodal.resizeDims(feats, maxW = 160, maxH = 120)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("out_width"), r.getAs[Int]("out_height"))).toMap
    assert(out == Map(1L -> ((160, 120)), 2L -> ((30, 120)),
      3L -> ((80, 60)), 4L -> ((160, 1)), 5L -> ((160, 53))))
  }

  test("frameSample windows the payload with stride") {
    val docs = Seq((1L, "abcdefghij")).toDF("doc_id", "text")
    val media = Multimodal.withMediaColumn(docs, "doc_id", "text")
    val r = Multimodal.frameSample(media, frameBytes = 4, stride = 2).head()
    assert(r.getAs[Int]("n_frames") == 4)
    val frames = r.getSeq[Array[Byte]](r.fieldIndex("frames"))
      .map(new String(_, "UTF-8"))
    assert(frames == Seq("abcd", "cdef", "efgh", "ghij"))
  }

  test("WavCodec round-trips a known signal exactly") {
    import Multimodal.WavCodec
    val samples = Array[Short](0, 100, -100, 30000, -30000, 7)
    val f = WavCodec.decode(9L, WavCodec.encode(8000, samples))
    assert(f.doc_id == 9L && f.n_bytes == 44 + 12)
    assert(f.sample_rate == 8000 && f.n_samples == 6)
    assert(f.duration_us == 6L * 1000000L / 8000)
    assert(f.peak == 30000)
    val expRms = math.floor(math.sqrt(
      samples.map(s => s.toLong * s).sum.toDouble / 6) * 1e6 + 0.5) / 1e6
    assert(f.rms == expRms)
  }

  test("WavCodec walks chunks: LIST before fmt, odd-size pad, trailing") {
    import java.nio.{ByteBuffer, ByteOrder}
    import Multimodal.WavCodec
    // handcraft: RIFF [ LIST(5 bytes + pad) | fmt | data | junk ]
    val samples = Array[Short](1000, -1000, 500)
    val canonical = WavCodec.encode(16000, samples)
    val fmtAndData = java.util.Arrays.copyOfRange(canonical, 12,
      canonical.length)
    val junk = Array[Byte](9, 9, 9, 9)
    val listBody = Array[Byte]('I', 'N', 'F', 'O', 42)
    val padded = listBody.length + (listBody.length & 1)
    val bb = ByteBuffer.allocate(12 + 8 + padded + fmtAndData.length +
        8 + junk.length).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII"))
      .putInt(bb.capacity() - 8).put("WAVE".getBytes("US-ASCII"))
    bb.put("LIST".getBytes("US-ASCII")).putInt(listBody.length)
      .put(listBody).put(new Array[Byte](padded - listBody.length))
    bb.put(fmtAndData)
    bb.put("junk".getBytes("US-ASCII")).putInt(junk.length).put(junk)
    val f = WavCodec.decode(1L, bb.array())
    assert(f.n_samples == 3 && f.sample_rate == 16000 && f.peak == 1000)
  }

  test("WavCodec fails loudly on malformed input") {
    import Multimodal.WavCodec
    val good = WavCodec.encode(16000, Array[Short](1, 2, 3))
    // truncated data chunk
    val truncated = java.util.Arrays.copyOf(good, good.length - 2)
    assert(intercept[IllegalArgumentException] {
      WavCodec.decode(1L, truncated)
    }.getMessage.contains("truncated"))
    // non-PCM format code
    val nonPcm = good.clone(); nonPcm(20) = 3
    assert(intercept[IllegalArgumentException] {
      WavCodec.decode(1L, nonPcm)
    }.getMessage.contains("non-PCM"))
    // stereo rejected (only mono PCM16 supported)
    val stereo = good.clone(); stereo(22) = 2
    assert(intercept[IllegalArgumentException] {
      WavCodec.decode(1L, stereo)
    }.getMessage.contains("only mono"))
    // not RIFF at all
    assert(intercept[IllegalArgumentException] {
      WavCodec.decode(1L, "hello world!".getBytes("US-ASCII"))
    }.getMessage.contains("not a RIFF"))
  }

  test("BmpCodec round-trips dims and exact channel means") {
    import Multimodal.BmpCodec
    // 3×2 px: row padding = (4 - 9%4)%4 = 3 bytes per row
    val px = Map(
      (0, 0) -> ((255, 0, 0)), (1, 0) -> ((0, 255, 0)),
      (2, 0) -> ((0, 0, 255)), (0, 1) -> ((10, 20, 30)),
      (1, 1) -> ((40, 50, 60)), (2, 1) -> ((70, 80, 90)))
    val bytes = BmpCodec.encode(3, 2, (x, y) => px((x, y)))
    assert(bytes.length == 54 + (9 + 3) * 2)
    val f = BmpCodec.decode(5L, bytes)
    assert(f.doc_id == 5L && f.width == 3 && f.height == 2)
    def m(c: Int) = math.floor(px.values.map(v =>
      c match { case 0 => v._1; case 1 => v._2; case _ => v._3 })
      .sum.toDouble / 6 * 1e6 + 0.5) / 1e6
    assert(f.mean_r == m(0) && f.mean_g == m(1) && f.mean_b == m(2))
  }

  test("BmpCodec honors bfOffBits and rejects malformed input") {
    import java.nio.{ByteBuffer, ByteOrder}
    import Multimodal.BmpCodec
    val good = BmpCodec.encode(2, 2, (x, y) => (x * 10, y * 10, 99))
    // shift pixel data 8 bytes later (gap between header and pixels)
    val shifted = ByteBuffer.allocate(good.length + 8)
      .order(ByteOrder.LITTLE_ENDIAN)
    shifted.put(java.util.Arrays.copyOfRange(good, 0, 54))
      .put(new Array[Byte](8))
      .put(java.util.Arrays.copyOfRange(good, 54, good.length))
    val arr = shifted.array()
    ByteBuffer.wrap(arr).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(10, 54 + 8) // bfOffBits
    assert(BmpCodec.decode(1L, arr) ==
      BmpCodec.decode(1L, good).copy(n_bytes = arr.length))
    // malformed rejects
    val bpp8 = good.clone(); bpp8(28) = 8
    assert(intercept[IllegalArgumentException] {
      BmpCodec.decode(1L, bpp8)
    }.getMessage.contains("24-bpp"))
    val rle = good.clone(); rle(30) = 1
    assert(intercept[IllegalArgumentException] {
      BmpCodec.decode(1L, rle)
    }.getMessage.contains("compressed"))
    assert(intercept[IllegalArgumentException] {
      BmpCodec.decode(1L, java.util.Arrays.copyOf(good, good.length - 3))
    }.getMessage.contains("truncated"))
    assert(intercept[IllegalArgumentException] {
      BmpCodec.decode(1L, "PNGnotreally".getBytes("US-ASCII") ++
        new Array[Byte](60))
    }.getMessage.contains("not a BMP"))
  }

  test("SynthBmp corpus round-trip matches the pixel law") {
    val docs = Seq(0L, 4L, 250L).toDF("doc_id")
    val got = Multimodal.bmpFeatures(spark, docs, "doc_id")
      .collect().map(f => f.doc_id -> f).toMap
    for (d <- Seq(0L, 4L, 250L)) {
      val (w, h) = (Multimodal.SynthBmp.width(d), Multimodal.SynthBmp.height(d))
      val f = got(d)
      assert(f.width == w && f.height == h)
      val n = w * h
      def m(c: Int) = math.floor((for (x <- 0 until w; y <- 0 until h)
        yield Multimodal.SynthBmp.channel(d, x, y, c)).sum.toDouble /
        n * 1e6 + 0.5) / 1e6
      assert(f.mean_r == m(0) && f.mean_g == m(1) && f.mean_b == m(2))
    }
  }

  test("wavQuality ratios are exact counts over the decoded signal") {
    val docs = Seq(3L, 77L).toDF("doc_id")
    val got = Multimodal.wavQuality(spark, docs, "doc_id")
      .collect().map(q => q.doc_id -> q).toMap
    for (d <- Seq(3L, 77L)) {
      val n = Multimodal.SynthWav.nSamples(d)
      val vals = (0 until n).map(i =>
        math.abs(Multimodal.SynthWav.sample(d, i).toInt))
      val clip = vals.count(_ >= Multimodal.ClipThreshold)
      val silent = vals.count(_ <= Multimodal.SilenceThreshold)
      def ratio(c: Int) = math.floor(c.toDouble / n * 1e6 + 0.5) / 1e6
      val q = got(d)
      assert(q.n_samples == n)
      assert(q.clip_ratio == ratio(clip) &&
        q.silence_ratio == ratio(silent))
      val expOk = if (ratio(clip) < Multimodal.MaxClipRatio &&
        ratio(silent) < Multimodal.MaxSilenceRatio) 1 else 0
      assert(q.ok == expOk)
    }
  }

  test("pixelDigest ignores container layout, sees content") {
    import java.nio.{ByteBuffer, ByteOrder}
    import Multimodal.BmpCodec
    def digest(bytes: Array[Byte]) = BmpCodec.pixelDigest(
      java.security.MessageDigest.getInstance("MD5"), 1L, bytes)
    val a = BmpCodec.encode(3, 2, (x, y) => (x, y, x + y))
    // same pixels, pixel data shifted by a bfOffBits gap
    val shifted = ByteBuffer.allocate(a.length + 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    shifted.put(java.util.Arrays.copyOfRange(a, 0, 54))
      .put(new Array[Byte](4))
      .put(java.util.Arrays.copyOfRange(a, 54, a.length))
    val arr = shifted.array()
    ByteBuffer.wrap(arr).order(ByteOrder.LITTLE_ENDIAN).putInt(10, 58)
    assert(digest(arr) == digest(a))
    // one pixel differs → digest differs
    val b = BmpCodec.encode(3, 2, (x, y) => (x, y, x + y + (if (x == 2 && y == 1) 1 else 0)))
    assert(digest(b) != digest(a))
    // same pixel bytes at different dims → digest differs (dims mixed in)
    val tall = BmpCodec.encode(2, 3, (x, y) => (0, 0, 0))
    val wide = BmpCodec.encode(3, 2, (x, y) => (0, 0, 0))
    assert(digest(tall) != digest(wide))
  }

  test("imageDupGroups clusters identical decoded images") {
    // docs 0..79 under the mod-40 law → 40 groups of exactly 2
    val docs = (0L until 80L).toDF("doc_id")
    val got = Multimodal.imageDupGroups(spark, docs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 40)
    assert(got.keys.toSeq.sorted == (0L until 40L))
    assert(got.values.forall(_ == 2L))
  }

  test("audio gate runs unchanged on a stream (stateless, append)") {
    // decode + gate are a per-row typed map — one definition, two
    // execution modes (the qualityMonitor property, for media): fed
    // as two micro-batches, the hit-for-hit output equals batch
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ids = (0L until 40L)
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    val out = Multimodal.wavQuality(spark, src.toDF().toDF("doc_id"),
      "doc_id")
    val q = out.writeStream.format("memory").queryName("media_gate")
      .outputMode("append").start()
    try {
      src.addData(ids.take(20))
      q.processAllAvailable()
      src.addData(ids.drop(20))
      q.processAllAvailable()
      val streamed = spark.table("media_gate").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
          r.getDouble(3), r.getInt(4))).toSet
      val batch = Multimodal.wavQuality(spark,
          ids.toDF("doc_id"), "doc_id").collect()
        .map(f => (f.doc_id, f.n_samples, f.clip_ratio,
          f.silence_ratio, f.ok)).toSet
      assert(streamed == batch && batch.size == 40)
    } finally q.stop()
  }

  test("aHash: noise-distinct files hash together, classes apart") {
    import Multimodal.{BmpCodec, SynthBmpPerceptual => P}
    // all 30 class patterns produce DISTINCT hashes with a real
    // on/off mix (deterministic law — checked once is checked forever)
    val classHashes = (0L until P.Classes).map { k =>
      Multimodal.aHash(k, P.bytes(k))
    }
    assert(classHashes.distinct.size == P.Classes)
    classHashes.foreach { hs =>
      val ones = java.lang.Long.bitCount(hs)
      assert(ones >= 8 && ones <= 56, s"degenerate pattern: $ones bits")
    }
    // within a class: different docs have DIFFERENT pixels (exact
    // dedup misses them) but the SAME perceptual hash
    def pd(d: Long) = BmpCodec.pixelDigest(
      java.security.MessageDigest.getInstance("MD5"), d, P.bytes(d))
    for (k <- Seq(0L, 7L, 29L)) {
      val (a, b) = (k, k + P.Classes)
      assert(pd(a) != pd(b), s"noise failed to vary pixels in class $k")
      assert(Multimodal.aHash(a, P.bytes(a)) ==
        Multimodal.aHash(b, P.bytes(b)),
        s"aHash split class $k")
    }
    // dims guard: non-multiple-of-8 images are rejected loudly
    assert(intercept[IllegalArgumentException] {
      Multimodal.aHash(1L, BmpCodec.encode(10, 16, (_, _) => (0, 0, 0)))
    }.getMessage.contains("divisible by 8"))
  }

  test("audio fingerprint: noise-distinct signals hash together, classes apart") {
    import Multimodal.{SynthWavClass => S, WavCodec}
    val classFps = (0L until S.Classes).map { k =>
      Multimodal.audioFingerprint(k, S.bytes(k))
    }
    assert(classFps.distinct.size == S.Classes)
    for (k <- Seq(0L, 11L, 24L)) {
      val (a, b) = (k, k + S.Classes)
      // same-class docs differ sample-wise (noise period coprime to
      // the stride) yet share the loudness fingerprint
      assert(!WavCodec.decodeSamples(a, S.bytes(a)).sameElements(
        WavCodec.decodeSamples(b, S.bytes(b))),
        s"noise failed to vary samples in class $k")
      assert(Multimodal.audioFingerprint(a, S.bytes(a)) ==
        Multimodal.audioFingerprint(b, S.bytes(b)),
        s"fingerprint split class $k")
    }
    // block-count guard
    assert(intercept[IllegalArgumentException] {
      Multimodal.audioFingerprint(1L,
        WavCodec.encode(8000, new Array[Short](33)))
    }.getMessage.contains("multiple of 32"))
  }

  test("SynthWav corpus round-trip matches the generative law") {
    val docs = Seq(0L, 1L, 123L).toDF("doc_id")
    val got = Multimodal.wavFeatures(spark, docs, "doc_id")
      .collect().map(f => f.doc_id -> f).toMap
    for (d <- Seq(0L, 1L, 123L)) {
      val n = Multimodal.SynthWav.nSamples(d)
      val f = got(d)
      assert(f.n_samples == n && f.n_bytes == 44 + 2 * n)
      assert(f.sample_rate == Multimodal.SynthWav.SampleRate)
      val vals = (0 until n).map(i => Multimodal.SynthWav.sample(d, i).toInt)
      assert(f.peak == vals.map(math.abs).max)
      val expRms = math.floor(math.sqrt(
        vals.map(v => v.toLong * v).sum.toDouble / n) * 1e6 + 0.5) / 1e6
      assert(f.rms == expRms)
    }
  }

  test("zstd and lz4 text frames round-trip unicode exactly") {
    import spark.implicits._
    val cases = Seq(
      (0L, "zstd doc with unicode: ñ, 漢字, emoji 😀 and spaces"),
      (1L, "lz4 doc — em-dash and tabs\tok plus trailing space "),
      (2L, ""), (3L, "x"))
    val docs = cases.toDF("doc_id", "text")
    val got = Multimodal.compressedTextFeatures(spark, docs, "doc_id", "text")
      .collect().map(f => f.doc_id -> f).toMap
    for ((id, text) <- cases) {
      val f = got(id)
      assert(f.codec == (if (id % 2 == 0) "zstd" else "lz4"), s"codec doc $id")
      assert(f.n_chars == text.codePointCount(0, text.length), s"chars doc $id")
      assert(f.n_tokens == text.split(" ", -1).length, s"tokens doc $id")
      val md = java.security.MessageDigest.getInstance("MD5")
      val exp = md.digest(text.getBytes("UTF-8"))
        .map(b => "%02x".format(b & 0xFF)).mkString
      assert(f.text_md5 == exp, s"md5 doc $id — a decompressed byte differs")
    }
  }

  test("gzip frame codec is RFC 1952 conformant both directions vs the JDK") {
    // the q100 path moved off per-row GZIP streams onto reused
    // Deflater/Inflater contexts with hand-written framing — frame
    // conformance must therefore be pinned against the JDK's own
    // implementation, not assumed
    val deflater = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    val inf = new java.util.zip.Inflater(true)
    val crc = new java.util.zip.CRC32()
    val tmp = new Array[Byte](8192)
    val texts = Seq("", "x", "hello gzip world " * 50, "ñ 漢字 😀")
    for (t <- texts) {
      val raw = t.getBytes("UTF-8")
      // ours -> JDK reader
      val ours = Multimodal.gzipFrame(deflater, crc, tmp, raw)
      val jdkIn = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(ours))
      val back = jdkIn.readAllBytes(); jdkIn.close()
      assert(back.sameElements(raw), s"JDK cannot read our frame for '$t'")
      // JDK writer -> our strict reader
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(raw); gz.close()
      val theirs = Multimodal.gunzipFrame(inf,
        new Array[Byte](8192), 0L, bos.toByteArray)
      assert(theirs.sameElements(raw), s"we cannot read the JDK frame for '$t'")
    }
    // corruption fails loudly: flipped CRC byte
    val frame = Multimodal.gzipFrame(deflater, crc, tmp, "abc".getBytes)
    frame(frame.length - 5) = (frame(frame.length - 5) ^ 1).toByte
    intercept[IllegalArgumentException] {
      Multimodal.gunzipFrame(inf, new Array[Byte](8192), 0L, frame)
    }
  }
}
