package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads ride as
  * opaque `binary` columns with a typed metadata struct, and decode /
  * feature-extract steps run batched per partition — the Spark-side
  * schema, partitioning, and batch shape are real. The AUDIO path is
  * decoded for REAL: [[WavCodec]] is a pure-JVM RIFF/PCM16 parser
  * (uncompressed containers need no codec library), oracle-gated end
  * to end (q90); [[BmpCodec]] is its image analog (q91);
  * [[PngCodec]] decodes REAL compressed PNGs — chunk walker, CRC32,
  * `java.util.zip.Inflater`, all five row filters — oracle-gated by
  * q96 and feeding the q93/q94 image-dedup payloads; and
  * [[FlacCodec]] decodes REAL compressed FLAC — fixed predictors,
  * Rice bitreading, CRC-8/CRC-16 frames — oracle-gated by q99; and
  * [[JpegCodec]] decodes REAL baseline JPEG — Annex-K Huffman,
  * dequantization, IDCT, 4:2:0 upsampling, restart markers —
  * oracle-gated by q104 (the corpus law keeps the lossy round trip
  * exact) and cross-checked against `javax.imageio` on foreign
  * files; and [[AviCodec]] decodes REAL Motion-JPEG AVI video —
  * RIFF container walk + per-frame JPEG — oracle-gated by q105
  * whose motion feature couples consecutive frames. Every media
  * format in the mandate now decodes for real; [[FakeCodec]] remains
  * only as the generic-plumbing stand-in for q31's schema/batch
  * tests (the shape a JNI/FFI decoder for formats beyond the mandate
  * — H.264 and friends — would slot into).
  *
  * Scale notes: media blobs dominate row size, so (a) metadata-only
  * queries must never deserialize the blob — keep meta in separate
  * top-level columns so parquet column pruning skips the bytes;
  * (b) decode runs via `mapPartitions` so per-batch setup (codec
  * init) amortizes across a partition, exactly like a Pandas-UDF
  * batch; (c) repartition before decode to balance skewed blob sizes.
  */
object Multimodal {

  /** A media row: payload + width/height the "decoder" reports. */
  final case class MediaFeature(
      doc_id: Long, n_bytes: Int, width: Int, height: Int,
      mean_byte: Double, head_hex: String)

  /** STUB decoder — deterministic fake standing in for a decoder of
    * formats BEYOND the mandate (H.264 etc.; ??? in production this
    * is the JNI/FFI codec call ???). Every format the mandate names
    * has a real codec now ([[WavCodec]], [[BmpCodec]], [[PngCodec]],
    * [[FlacCodec]], [[JpegCodec]], [[AviCodec]]); this fake remains
    * only to exercise q31's generic schema/partitioning/batch
    * plumbing with zero native deps. */
  object FakeCodec {
    def decode(docId: Long, bytes: Array[Byte]): MediaFeature = {
      val n = bytes.length
      val mean =
        if (n == 0) 0.0
        else bytes.foldLeft(0L)((a, b) => a + (b & 0xFF)).toDouble / n
      MediaFeature(
        doc_id = docId,
        n_bytes = n,
        width = 64 + (n % 640),
        height = 64 + ((n / 2) % 480),
        mean_byte = math.round(mean * 1e6) / 1e6,
        head_hex = bytes.take(8).map(b => f"${b & 0xFF}%02x").mkString)
    }
  }

  /** Decoded audio features for one WAV payload. */
  final case class WavFeature(
      doc_id: Long, n_bytes: Int, sample_rate: Int, n_samples: Int,
      duration_us: Long, rms: Double, peak: Int)

  /** REAL pure-JVM WAV/PCM codec — the first rung of the media
    * ladder (RIFF containers need no codec library). `encode`
    * writes a canonical 44-byte-header mono PCM16 file; `decode` is a
    * strict RIFF chunk WALKER, not a fixed-offset read: it accepts
    * any chunk order, skips unknown chunks (LIST/INFO/fact), honors
    * the spec's odd-size pad byte, and fails loudly on truncation or
    * non-PCM data — the properties WavCodecSpec pins on handcrafted
    * files. */
  object WavCodec {
    import java.nio.{ByteBuffer, ByteOrder}

    def encode(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = ByteBuffer.allocate(44 + dataLen)
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1.toShort)            // PCM
        .putShort(1.toShort)            // mono
        .putInt(sampleRate)
        .putInt(sampleRate * 2)         // byte rate
        .putShort(2.toShort)            // block align
        .putShort(16.toShort)           // bits per sample
      bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }

    /** Parse and return just the PCM samples (the [[wavQuality]]
      * consumer needs the raw signal, not the summary). */
    def decodeSamples(docId: Long, bytes: Array[Byte]): Array[Short] =
      parse(docId, bytes)._2

    def decode(docId: Long, bytes: Array[Byte]): WavFeature = {
      val (rate, data) = parse(docId, bytes)
      var sumSq = BigInt(0); var peak = 0
      data.foreach { s =>
        val v = s.toInt
        sumSq += BigInt(v.toLong * v)
        if (math.abs(v) > peak) peak = math.abs(v)
      }
      val n = data.length
      // HALF_UP at 6 dp (floor(x·1e6 + 0.5)) — the rounding the SQL
      // oracle's round() applies; rint's half-even would diverge on a
      // .5 boundary
      val rms =
        if (n == 0) 0.0
        else math.floor(math.sqrt(sumSq.toDouble / n) * 1e6 + 0.5) / 1e6
      WavFeature(docId, bytes.length, rate, n,
        n.toLong * 1000000L / rate, rms, peak)
    }

    /** One-pass (rate, samples) parse — the q117 foreign-audio path
      * reads both, so exposing this avoids a second RIFF walk. */
    private[graft] def parse(docId: Long,
        bytes: Array[Byte]): (Int, Array[Short]) = {
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      def ascii4(): String = {
        val a = new Array[Byte](4); bb.get(a); new String(a, "US-ASCII")
      }
      require(bytes.length >= 12 && ascii4() == "RIFF",
        s"doc $docId: not a RIFF file")
      bb.getInt() // declared riff size; trust actual buffer bounds
      require(ascii4() == "WAVE", s"doc $docId: RIFF but not WAVE")
      var rate = -1; var bits = -1; var channels = -1
      var data: Array[Short] = null
      while (bb.remaining() >= 8) {
        val id = ascii4(); val len = bb.getInt()
        require(len >= 0 && bb.remaining() >= len,
          s"doc $docId: truncated '$id' chunk ($len declared, " +
            s"${bb.remaining()} left)")
        val next = bb.position() + len + (len & 1) // spec: odd pads
        id match {
          case "fmt " =>
            require(len >= 16, s"doc $docId: fmt chunk too short")
            val fmt = bb.getShort()
            require(fmt == 1, s"doc $docId: non-PCM format $fmt")
            channels = bb.getShort()
            rate = bb.getInt()
            bb.getInt(); bb.getShort() // byte rate, block align
            bits = bb.getShort()
          case "data" =>
            require(rate > 0,
              s"doc $docId: data chunk before fmt chunk")
            require(bits == 16 && channels == 1,
              s"doc $docId: only mono PCM16 supported " +
                s"($channels ch, $bits bit)")
            data = new Array[Short](len / 2)
            var i = 0
            while (i < data.length) { data(i) = bb.getShort(); i += 1 }
          case _ => // LIST/INFO/fact/…: skip
        }
        bb.position(math.min(next, bb.limit()))
      }
      require(data != null, s"doc $docId: no data chunk")
      (rate, data)
    }
  }

  /** Decoded image features for one BMP payload. */
  final case class BmpFeature(
      doc_id: Long, n_bytes: Int, width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** REAL pure-JVM BMP codec — the uncompressed IMAGE format analog
    * of [[WavCodec]]: `encode` writes a bottom-up 24-bpp
    * BITMAPINFOHEADER file with spec-mandated 4-byte row padding;
    * `decode` validates the magic/header, honors `bfOffBits` (pixel
    * data need not start right after the headers), rejects
    * compressed or non-24-bpp payloads loudly, and walks rows
    * bottom-up with the pad skip. Channel means are exact integer
    * sums divided once at the end — the property that lets a SQL
    * oracle recompute them. */
  object BmpCodec {
    import java.nio.{ByteBuffer, ByteOrder}

    /** `pixels(y)(x)` = (r, g, b), row 0 = TOP row. */
    def encode(width: Int, height: Int,
        pixel: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      require(width > 0 && height > 0, s"bad dims $width x $height")
      val rowBytes = width * 3
      val pad = (4 - rowBytes % 4) % 4
      val dataLen = (rowBytes + pad) * height
      val bb = ByteBuffer.allocate(54 + dataLen)
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(54 + dataLen)
        .putShort(0).putShort(0).putInt(54)         // bfOffBits
      bb.putInt(40).putInt(width).putInt(height)    // BITMAPINFOHEADER
        .putShort(1).putShort(24)                   // planes, bpp
        .putInt(0)                                  // BI_RGB
        .putInt(dataLen).putInt(2835).putInt(2835)  // 72 dpi
        .putInt(0).putInt(0)
      var y = height - 1                            // bottom-up rows
      while (y >= 0) {
        var x = 0
        while (x < width) {
          val (r, g, b) = pixel(x, y)
          bb.put(b.toByte).put(g.toByte).put(r.toByte) // BGR order
          x += 1
        }
        var p = 0
        while (p < pad) { bb.put(0.toByte); p += 1 }
        y -= 1
      }
      bb.array()
    }

    /** Walk every pixel TOP-DOWN row-major (the file stores rows
      * bottom-up; we visit in image order so a content digest is
      * orientation-canonical), calling `f(r, g, b)`. Returns
      * (width, height). */
    private def forEachPixel(docId: Long, bytes: Array[Byte])(
        f: (Int, Int, Int) => Unit): (Int, Int) = {
      require(bytes.length >= 54 &&
        bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte,
        s"doc $docId: not a BMP file")
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      bb.position(10)
      val offBits = bb.getInt()
      val hdrSize = bb.getInt()
      require(hdrSize >= 40, s"doc $docId: pre-v3 BMP header $hdrSize")
      val width = bb.getInt()
      val height = bb.getInt()
      require(width > 0 && height > 0,
        s"doc $docId: unsupported dims $width x $height (top-down " +
          "negative-height BMPs not supported)")
      bb.getShort()
      val bpp = bb.getShort()
      require(bpp == 24, s"doc $docId: only 24-bpp supported, got $bpp")
      val compression = bb.getInt()
      require(compression == 0,
        s"doc $docId: compressed BMP (method $compression) unsupported")
      val rowBytes = width * 3
      val pad = (4 - rowBytes % 4) % 4
      require(bytes.length >= offBits + (rowBytes + pad) * height,
        s"doc $docId: truncated pixel data")
      var y = height - 1 // file rows are bottom-up; start at top row
      while (y >= 0) {
        var base = offBits + (rowBytes + pad) * y
        var x = 0
        while (x < width) {
          f(bytes(base + 2) & 0xFF, bytes(base + 1) & 0xFF,
            bytes(base) & 0xFF)
          base += 3; x += 1
        }
        y -= 1
      }
      (width, height)
    }

    /** Full pixel decode: (width, height, packed 0xRRGGBB ints,
      * top-down row-major) — for consumers that need random access
      * (the aHash block walk). */
    def decodePixels(docId: Long,
        bytes: Array[Byte]): (Int, Int, Array[Int]) = {
      val buf = scala.collection.mutable.ArrayBuilder.make[Int]
      val (w, h) = forEachPixel(docId, bytes) { (r, g, b) =>
        buf += (r << 16) | (g << 8) | b
      }
      (w, h, buf.result())
    }

    def decode(docId: Long, bytes: Array[Byte]): BmpFeature = {
      var sr = 0L; var sg = 0L; var sb = 0L
      val (width, height) = forEachPixel(docId, bytes) { (r, g, b) =>
        sr += r; sg += g; sb += b
      }
      val n = width.toLong * height
      def mean(s: Long) = math.floor(s.toDouble / n * 1e6 + 0.5) / 1e6
      BmpFeature(docId, bytes.length, width, height,
        mean(sr), mean(sg), mean(sb))
    }

    /** Digest of the decoded image CONTENT: dims + top-down row-major
      * RGB triples — identical for any two files holding the same
      * pixels, whatever their container layout (bfOffBits gaps,
      * trailing bytes). Hex string of the supplied MessageDigest. */
    def pixelDigest(md: java.security.MessageDigest, docId: Long,
        bytes: Array[Byte]): String = {
      val buf = new java.io.ByteArrayOutputStream()
      val (w, h) = forEachPixel(docId, bytes) { (r, g, b) =>
        buf.write(r); buf.write(g); buf.write(b)
      }
      md.update(java.nio.ByteBuffer.allocate(8).putInt(w).putInt(h).array())
      md.update(buf.toByteArray)
      md.digest().map(b => f"${b & 0xFF}%02x").mkString
    }
  }

  /** Deterministic pixel pattern for the synthesized image corpus —
    * the [[SynthWav]] pattern's image analog, shared with the q91
    * oracle: doc d is `(16 + d mod 17) × (16 + d mod 13)` pixels,
    * channel c of pixel (x, y) = (d·7 + x·3 + y·5 + c·11) mod 256. */
  object SynthBmp {
    def width(docId: Long): Int = (16 + docId % 17).toInt
    def height(docId: Long): Int = (16 + docId % 13).toInt
    def channel(docId: Long, x: Int, y: Int, c: Int): Int =
      ((docId * 7 + x * 3 + y * 5 + c * 11) % 256).toInt
    def bytes(docId: Long): Array[Byte] =
      BmpCodec.encode(width(docId), height(docId),
        (x, y) => (channel(docId, x, y, 0), channel(docId, x, y, 1),
          channel(docId, x, y, 2)))
  }

  /** q91's synth → real-BMP-bytes → decode round trip (the
    * [[wavFeatures]] shape for images). */
  def bmpFeatures(spark: SparkSession, docs: DataFrame,
      idCol: String): Dataset[BmpFeature] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long]
      .map(id => (id, SynthBmp.bytes(id)))
      .mapPartitions { it =>
        it.map { case (id, bytes) => BmpCodec.decode(id, bytes) }
      }
  }

  /** Decoded image features for one PNG payload. No `n_bytes`: a
    * compressed container's size is deflate-dependent, so the
    * arithmetic oracle can only recompute DECODED quantities. */
  final case class PngFeature(
      doc_id: Long, width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** q96's synth → real-PNG-bytes → decode round trip: the same
    * [[SynthBmp]] pixel law as q91, but rendered through
    * [[PngCodec.encode]] (per-row rotating filters 0–4, split IDAT,
    * real zlib) and decoded back through the chunk walker +
    * `Inflater` + unfilter pipeline. A hash-green gate against the
    * q91-style arithmetic oracle therefore proves the COMPRESSED
    * image path end to end — encoder filtering, CRC framing, deflate
    * round trip, and all five unfilter branches. */
  def pngFeatures(spark: SparkSession, docs: DataFrame,
      idCol: String): Dataset[PngFeature] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long]
      .map { id =>
        (id, PngCodec.encode(SynthBmp.width(id), SynthBmp.height(id),
          (x, y) => (SynthBmp.channel(id, x, y, 0),
            SynthBmp.channel(id, x, y, 1), SynthBmp.channel(id, x, y, 2))))
      }
      .mapPartitions { it =>
        it.map { case (id, bytes) => PngCodec.decode(id, bytes) }
      }
  }

  /** Decoded image features for one JPEG payload, reported in the
    * coding color space (Y/Cb/Cr): lossy RGB conversion rounding
    * never enters, so the arithmetic oracle stays bit-exact. No
    * `n_bytes` — compressed size is entropy-coder-dependent. */
  final case class JpegFeature(
      doc_id: Long, width: Int, height: Int,
      mean_y: Double, mean_cb: Double, mean_cr: Double)

  /** Deterministic per-BLOCK pixel law for the JPEG corpus — the
    * trick that puts a LOSSY codec under an exact SQL oracle: luma is
    * constant within each 8x8 block and chroma constant within each
    * 16x16 MCU, so the forward DCT concentrates all energy in the DC
    * coefficient and quantization (DC step 8) loses nothing. Docs
    * where `doc_id % 3 == 0` additionally encode with a restart
    * interval of 2 MCUs, putting RST-marker handling and DC-predictor
    * resets under the same oracle gate. */
  object SynthJpeg {
    def width(docId: Long): Int = (24 + docId % 41).toInt
    def height(docId: Long): Int = (24 + docId % 37).toInt
    /** Luma of the 8x8 block at (bx, by). */
    def lumaBlock(docId: Long, bx: Int, by: Int): Int =
      ((docId * 7 + bx * 13 + by * 29) % 256).toInt
    /** Chroma of the 16x16 MCU at (mx, my). */
    def cbMcu(docId: Long, mx: Int, my: Int): Int =
      ((docId * 11 + mx * 17 + my * 23) % 256).toInt
    def crMcu(docId: Long, mx: Int, my: Int): Int =
      ((docId * 13 + mx * 19 + my * 31) % 256).toInt
    def restartInterval(docId: Long): Int = if (docId % 3 == 0) 2 else 0
    def bytes(docId: Long): Array[Byte] =
      JpegCodec.encode(width(docId), height(docId),
        (x, y) => (lumaBlock(docId, x / 8, y / 8),
          cbMcu(docId, x / 16, y / 16), crMcu(docId, x / 16, y / 16)),
        subsample = true, restartInterval = restartInterval(docId))
  }

  /** q104's synth → real-JPEG-bytes → decode round trip: the
    * [[SynthJpeg]] block law rendered through the REAL baseline
    * encoder (FDCT, Annex-K Huffman, 4:2:0 box subsampling, restart
    * markers, byte stuffing) and decoded back through the real marker
    * walker + entropy decoder + IDCT + upsample + crop pipeline. The
    * law makes the lossy round trip exact (see [[SynthJpeg]]), so a
    * hash-green gate against the arithmetic oracle proves the
    * COMPRESSED lossy-image path end to end. */
  def jpegFeatures(spark: SparkSession, docs: DataFrame,
      idCol: String): Dataset[JpegFeature] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long]
      .map(id => (id, SynthJpeg.bytes(id)))
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val img = JpegCodec.decode(bytes)
          val n = img.width * img.height
          def mean(p: Array[Int]): Double = {
            var s = 0L
            var i = 0
            while (i < n) { s += p(i); i += 1 }
            math.round(s.toDouble / n * 1e6) / 1e6
          }
          JpegFeature(id, img.width, img.height,
            mean(img.y), mean(img.cb), mean(img.cr))
        }
      }
  }

  /** Decoded video features for one MJPEG/AVI payload. `mean_y` is
    * the luma mean over ALL frames; `motion` is the genuinely
    * temporal quantity — the mean absolute luma delta between
    * consecutive frames — that only a real multi-frame decode can
    * produce. */
  final case class VideoFeature(
      doc_id: Long, n_frames: Int, width: Int, height: Int, fps: Int,
      mean_y: Double, motion: Double)

  /** Deterministic per-frame block law for the video corpus — the
    * [[SynthJpeg]] trick extended with a frame axis: every frame is
    * a DC-only JPEG (luma constant per 8x8 block, chroma per 16x16
    * MCU), so each frame round-trips bit-exactly and the SQL oracle
    * can recompute cross-FRAME quantities (motion) arithmetically.
    * Frame f of doc d mixes f into every channel law; docs where
    * `(d + f) % 3 == 0` encode that frame with a restart interval. */
  object SynthVideo {
    val Fps = 10
    def width(docId: Long): Int = (24 + docId % 33).toInt
    def height(docId: Long): Int = (24 + docId % 29).toInt
    def nFrames(docId: Long): Int = (3 + docId % 4).toInt
    def lumaBlock(docId: Long, f: Int, bx: Int, by: Int): Int =
      ((docId * 7 + f * 37 + bx * 13 + by * 29) % 256).toInt
    def cbMcu(docId: Long, f: Int, mx: Int, my: Int): Int =
      ((docId * 11 + f * 41 + mx * 17 + my * 23) % 256).toInt
    def crMcu(docId: Long, f: Int, mx: Int, my: Int): Int =
      ((docId * 13 + f * 43 + mx * 19 + my * 31) % 256).toInt
    def frameBytes(docId: Long, f: Int): Array[Byte] =
      JpegCodec.encode(width(docId), height(docId),
        (x, y) => (lumaBlock(docId, f, x / 8, y / 8),
          cbMcu(docId, f, x / 16, y / 16), crMcu(docId, f, x / 16, y / 16)),
        subsample = true,
        restartInterval = if ((docId + f) % 3 == 0) 2 else 0)
    def bytes(docId: Long): Array[Byte] =
      AviCodec.encode(width(docId), height(docId), Fps,
        (0 until nFrames(docId)).map(f => frameBytes(docId, f)))
  }

  /** q105's synth → real-AVI-bytes → decode round trip: the
    * [[SynthVideo]] law rendered into a REAL Motion-JPEG AVI
    * (RIFF/avih/strl/movi/idx1 via [[AviCodec.encode]], every frame
    * a real baseline JPEG) and decoded back through the container
    * walker + per-frame JPEG pipeline. The motion feature couples
    * CONSECUTIVE frames, so a hash-green gate proves frame ORDER and
    * count, not just per-frame decode. */
  def videoFeatures(spark: SparkSession, docs: DataFrame,
      idCol: String): Dataset[VideoFeature] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long]
      .map(id => (id, SynthVideo.bytes(id)))
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val v = AviCodec.decode(bytes)
          val n = v.width * v.height
          var sumY = 0L
          var sumDelta = 0L
          var f = 0
          while (f < v.frames.length) {
            val cur = v.frames(f).y
            val prev = if (f > 0) v.frames(f - 1).y else null
            var i = 0
            while (i < n) {
              sumY += cur(i)
              if (prev != null) sumDelta += math.abs(cur(i) - prev(i))
              i += 1
            }
            f += 1
          }
          val meanY = sumY.toDouble / (n.toLong * v.frames.length)
          val motion =
            if (v.frames.length < 2) 0.0
            else sumDelta.toDouble / (n.toLong * (v.frames.length - 1))
          VideoFeature(id, v.frames.length, v.width, v.height, v.fps,
            math.round(meanY * 1e6) / 1e6, math.round(motion * 1e6) / 1e6)
        }
      }
  }

  /** Decoded image features for one GIF payload (palette-indexed →
    * true RGB via the global color table). */
  final case class GifFeature(
      doc_id: Long, width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** Deterministic per-PIXEL law for the GIF corpus — lossless LZW
    * needs no DC trick: index (doc*3 + x*5 + y*11) mod 256 through
    * the fixed [[GifCodec.lawPalette]] (r = i, g = 7i mod 256,
    * b = 13i mod 256), all exactly recomputable in SQL. */
  object SynthGif {
    def width(docId: Long): Int = (20 + docId % 31).toInt
    def height(docId: Long): Int = (20 + docId % 23).toInt
    def index(docId: Long, x: Int, y: Int): Int =
      ((docId * 3 + x * 5 + y * 11) % 256).toInt
    def bytes(docId: Long): Array[Byte] =
      GifCodec.encode(width(docId), height(docId), GifCodec.lawPalette,
        (x, y) => index(docId, x, y))
  }

  /** q106's synth → real-GIF-bytes → decode round trip: the palette
    * law through the REAL variable-width LZW encoder (sub-blocks,
    * early-change widths, dictionary resets) and back through the
    * strict block walker + LZW inverse + color-table mapping. GIF is
    * the engine's LZW rung (PNG = deflate, FLAC = Rice, JPEG =
    * Huffman), ImageIO-pinned EXACT in GifCodecSpec. */
  def gifFeatures(spark: SparkSession, docs: DataFrame,
      idCol: String): Dataset[GifFeature] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long]
      .map(id => (id, SynthGif.bytes(id)))
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val img = GifCodec.decode(bytes)
          val n = img.width * img.height
          var sr = 0L; var sg = 0L; var sb = 0L
          var i = 0
          while (i < n) {
            sr += img.r(i); sg += img.g(i); sb += img.b(i)
            i += 1
          }
          def m(s: Long) = math.round(s.toDouble / n * 1e6) / 1e6
          GifFeature(id, img.width, img.height, m(sr), m(sg), m(sb))
        }
      }
  }

  /** Deterministic PCM pattern for the synthesized corpus — shared
    * law between the Spark side (which renders it into REAL WAV bytes
    * and decodes them back) and the SQL oracle (which recomputes the
    * features arithmetically): doc d has `800 + (d % 100)·8` samples,
    * sample i = ((d·31 + i·17) mod 65536) − 32768. */
  object SynthWav {
    val SampleRate = 16000
    def nSamples(docId: Long): Int = (800 + (docId % 100) * 8).toInt
    def sample(docId: Long, i: Int): Short =
      (((docId * 31 + i.toLong * 17) % 65536) - 32768).toShort
    def bytes(docId: Long): Array[Byte] =
      WavCodec.encode(SampleRate,
        Array.tabulate(nSamples(docId))(i => sample(docId, i)))
  }

  /** Synthesize WAV payloads for a corpus and round-trip them through
    * the real codec: encode → binary column → partition-batched
    * decode → features. The oracle recomputes the same features from
    * the [[SynthWav]] generative law, so a hash-green gate proves the
    * ENCODER and the RIFF PARSER agree with the spec end to end —
    * not just that a fake returned plausible numbers. */
  def wavFeatures(spark: SparkSession, docs: DataFrame,
      idCol: String): Dataset[WavFeature] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long]
      .map(id => (id, SynthWav.bytes(id)))
      .mapPartitions { it =>
        // per-partition codec init would go here (amortized setup)
        it.map { case (id, bytes) => WavCodec.decode(id, bytes) }
      }
  }

  /** Decoded audio features for one FLAC payload (no `n_bytes`:
    * compressed container size is encoder-dependent, so the
    * arithmetic oracle checks DECODED quantities only — the PNG
    * convention). `n_samples` is per-channel; rms/peak aggregate over
    * every channel's samples. */
  final case class FlacFeature(
      doc_id: Long, sample_rate: Int, n_channels: Int, n_samples: Int,
      duration_us: Long, rms: Double, peak: Int)

  /** The q99 RIGHT-channel law for stereo docs — a second
    * deterministic int16 series alongside [[SynthWav.sample]]'s left
    * channel (different multipliers so the channels decorrelate and
    * the side channel genuinely exercises its 17-bit width). */
  def rightSample(docId: Long, i: Int): Short =
    (((docId * 37 + i.toLong * 23) % 65536) - 32768).toShort

  /** q99's synth → real-FLAC-bytes → decode round trip: the same
    * [[SynthWav]] signal law as q90 (plus [[rightSample]] for stereo
    * docs), compressed through the real encoder with the full
    * bitstream surface swept by doc id and decoded back through the
    * real parser (CRC-8/CRC-16 checks, unary/Rice reads,
    * fixed-predictor and LPC integration, inter-channel
    * reconstruction). Per-doc law:
    *  - channel layout = doc mod 5: mono / independent stereo /
    *    left-side / right-side / mid-side — all four decorrelation
    *    modes under the oracle gate;
    *  - subframe class: docs ≡ 0 (mod 3) use LPC of order
    *    2 + (doc mod 7) ∈ 2–8 (Levinson-Durbin + quantized
    *    coefficients), others the pinned FIXED order doc mod 5; the
    *    second channel's spec derives from doc+1 so stereo docs mix
    *    classes within one frame;
    *  - partition order = doc mod 2 (multi-partition layouts);
    *  - docs ≡ 0 (mod 7) mask every sample to a multiple of 4
    *    (`v & -4`), so their blocks carry two shared trailing zero
    *    bits and the encoder's WASTED-BITS detection fires — the
    *    decoder's shift-back path is under the oracle too (the SQL
    *    twin applies the same mask).
    * The codec is lossless, so the DECODED features the oracle
    * recomputes depend only on the signal law and the channel count —
    * the encoding variety exists to put every encoder/decoder branch
    * under the same hash gate. */
  def flacFeatures(spark: SparkSession, docs: DataFrame,
      idCol: String): Dataset[FlacFeature] = {
    import spark.implicits._
    def spec(seed: Long): FlacCodec.SubframeSpec =
      if (seed % 3 == 0) FlacCodec.LpcSub(2 + (seed % 7).toInt)
      else FlacCodec.FixedSub((seed % 5).toInt)
    docs.select(col(idCol).cast("long")).as[Long]
      .map { id =>
        val n = SynthWav.nSamples(id)
        val maskW = if (id % 7 == 0) -4 else -1 // wasted-bits docs
        val left = Array.tabulate(n)(i =>
          (SynthWav.sample(id, i) & maskW).toShort)
        val mode = (id % 5).toInt
        val pOrd = (id % 2).toInt
        val bytes =
          if (mode == 0)
            FlacCodec.encodeSpec(SynthWav.SampleRate, left, spec(id), pOrd)
          else {
            val right = Array.tabulate(n)(i =>
              (rightSample(id, i) & maskW).toShort)
            // mode 1..4 → channel assignment 1 (independent), 8
            // (left/side), 9 (right/side), 10 (mid/side)
            val chanCode = if (mode == 1) 1 else mode + 6
            FlacCodec.encodeStereo(SynthWav.SampleRate, left, right,
              chanCode, spec(id), spec(id + 1), pOrd)
          }
        (id, bytes)
      }
      .mapPartitions { it =>
        it.map { case (id, bytes) => FlacCodec.decode(id, bytes) }
      }
  }

  /** Audio QUALITY gate row: the decode-derived signals an audio
    * curation pass filters on. */
  final case class WavQuality(
      doc_id: Long, n_samples: Int, clip_ratio: Double,
      silence_ratio: Double, ok: Int)

  /** Clipping threshold: |sample| ≥ this counts as clipped (≈ 0.9 of
    * int16 full scale). */
  val ClipThreshold = 29491
  /** Silence threshold: |sample| ≤ this counts as silent. */
  val SilenceThreshold = 328
  /** A payload passes the gate when < 10% clipped AND < 50% silent. */
  val MaxClipRatio = 0.10
  val MaxSilenceRatio = 0.50

  /** Decode-then-gate for audio — the curation filter a speech/audio
    * pipeline runs right after [[WavCodec]] decode: per-payload
    * clipped-sample and near-silence ratios (exact integer counts
    * divided once, so a SQL oracle recomputes them) and the pass/fail
    * flag. Same partition-batched shape as [[wavFeatures]]. */
  def wavQuality(spark: SparkSession, docs: DataFrame,
      idCol: String): Dataset[WavQuality] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long]
      .map(id => (id, SynthWav.bytes(id)))
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val f = WavCodec.decodeSamples(id, bytes)
          val n = f.length
          var clip = 0; var silent = 0
          f.foreach { s =>
            val v = math.abs(s.toInt)
            if (v >= ClipThreshold) clip += 1
            if (v <= SilenceThreshold) silent += 1
          }
          def ratio(c: Int) = math.floor(c.toDouble / n * 1e6 + 0.5) / 1e6
          val ok = if (ratio(clip) < MaxClipRatio &&
            ratio(silent) < MaxSilenceRatio) 1 else 0
          WavQuality(id, n, ratio(clip), ratio(silent), ok)
        }
      }
  }

  /** Pixel law for the image-dedup corpus ([[SynthBmp]]'s law keyed
    * on `d mod 40` instead of d, so exact duplicate IMAGES exist:
    * every congruence class shares one image rendered into distinct
    * per-doc files). */
  object SynthBmpDup {
    val Classes = 40
    def key(docId: Long): Long = docId % Classes
    private def dims(k: Long): (Int, Int) =
      ((8 + k % 5).toInt, (8 + k % 3).toInt)
    private def px(k: Long)(x: Int, y: Int): (Int, Int, Int) = (
      ((k * 7 + x * 3 + y * 5) % 256).toInt,
      ((k * 7 + x * 3 + y * 5 + 11) % 256).toInt,
      ((k * 7 + x * 3 + y * 5 + 22) % 256).toInt)
    /** The image rendered as a PNG (identical pixels ⇒ identical
      * [[PngCodec.pixelDigest]]). */
    def bytesPng(docId: Long): Array[Byte] = {
      val k = key(docId); val (w, h) = dims(k)
      PngCodec.encode(w, h, px(k))
    }
  }

  /** Image dedup over decoded CONTENT, not file bytes — the invariant
    * that matters: two files differing only in container metadata
    * (offsets, padding, dpi fields) hold the same image, and byte-
    * level dedup misses them. Payloads are REAL PNGs (compressed
    * container, [[PngCodec]] decode) — and because the digest is
    * computed over decoded pixels with the same byte layout as
    * [[BmpCodec.pixelDigest]], a BMP and a PNG of the same image
    * dedup together (the cross-container property CodecPropertySpec
    * pins). Group by digest: (keeper = min id, n_copies). Only the
    * 16-byte digest shuffles — the q20 exact-dedup scale shape
    * applied after a real decode. */
  def imageDupGroups(spark: SparkSession, docs: DataFrame,
      idCol: String): DataFrame = {
    import spark.implicits._
    val digests = docs.select(col(idCol).cast("long")).as[Long]
      .map(id => (id, SynthBmpDup.bytesPng(id)))
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, bytes) =>
          md.reset()
          (id, PngCodec.pixelDigest(md, id, bytes))
        }
      }.toDF("doc_id", "pixel_digest")
    digests.groupBy(col("pixel_digest"))
      .agg(min(col("doc_id")).as("keeper"),
        count(lit(1)).as("n_copies"))
      .select(col("keeper"), col("n_copies"))
  }

  /** Block-mean average hash (aHash) over DECODED pixels: the image
    * divided into an 8×8 grid, bit (by·8 + bx) = 1 iff the block's
    * mean luma exceeds the whole image's mean luma — the classic
    * perceptual near-dup signature: small pixel perturbations leave
    * every block on its side of the global mean, so retouched copies
    * hash together while byte- and pixel-level dedup both miss them.
    * All block sums are exact integers scaled by block size, so the
    * comparison `blockSum·64 > totalSum·(blockPixels·64/totalPixels)`
    * reduces to cross-multiplied integer arithmetic — no float, and a
    * SQL oracle can recompute it. Width and height must be multiples
    * of 8 so blocks partition the image exactly (a general
    * implementation resamples first; resampling belongs to the codec
    * layer, see [[resizeHalfBox]]). */
  def aHash(docId: Long, bytes: Array[Byte]): Long = {
    val (w, h, px) = BmpCodec.decodePixels(docId, bytes)
    aHashPixels(docId, w, h, px)
  }

  /** [[aHash]] over already-decoded pixels — container-agnostic core
    * shared by the BMP and PNG paths (same pixels ⇒ same hash,
    * whatever the file format). */
  def aHashPixels(docId: Long, w: Int, h: Int, px: Array[Int]): Long = {
    require(w % 8 == 0 && h % 8 == 0,
      s"doc $docId: aHash needs dims divisible by 8, got $w x $h")
    val bw = w / 8; val bh = h / 8
    val sums = new Array[Long](64)
    var total = 0L
    var i = 0
    while (i < px.length) {
      val p = px(i)
      val luma = ((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)
      val x = i % w; val y = i / w
      sums((y / bh) * 8 + (x / bw)) += luma
      total += luma
      i += 1
    }
    var bits = 0L
    var b = 0
    while (b < 64) {
      // blockMean > globalMean ⇔ sum_b/(bw·bh) > total/(w·h)
      //                        ⇔ sum_b·64 > total  (blocks partition)
      if (sums(b) * 64L > total) bits |= (1L << b)
      b += 1
    }
    bits
  }

  /** Pixel law for the perceptual near-dup corpus (q94): class
    * k = d mod 30 fixes a 24×16 image of 8×8 blocks at luma 64 or
    * 192 (an irregular per-class on/off pattern), and every doc adds
    * its own ±3 per-pixel noise. Within a class the FILES differ
    * (pixel digests distinct — q93's exact dedup misses them) but
    * every block mean stays ≥ 12 luma points from the global mean,
    * so the aHash is bit-identical; across classes the block
    * patterns differ, so the hashes differ (both properties pinned
    * in MultimodalSpec — deterministic, so checked once is checked
    * forever). */
  object SynthBmpPerceptual {
    val Classes = 30
    val W = 24; val H = 16
    def blockOn(k: Long, bx: Int, by: Int): Boolean =
      // STRUCTURAL distinctness: the first six blocks of row 0 spell
      // the class id in binary, so no two classes can share a hash
      // (a mixed-modulus pattern collided 2 of 30 classes and an
      // earlier mod-7 draft collapsed them to 7 — the spec caught
      // both); remaining blocks take an irregular mixed pattern for
      // a realistic on/off ratio
      if (by == 0 && bx < 6) ((k >> bx) & 1L) == 1L
      else ((k * 1000003L + bx * 10007L + by * 101L + bx * by * 13L) *
        2654435761L % 97) < 41
    def noise(docId: Long, x: Int, y: Int): Int =
      // period 7 is COPRIME to the 30-doc class stride, so same-class
      // docs always get different noise (mod 5 divides 30: docs 0 and
      // 30 rendered identical pixels and the spec caught it)
      ((docId * 13 + x * 3 + y * 7) % 7).toInt - 3
    private def px(docId: Long)(x: Int, y: Int): (Int, Int, Int) = {
      val k = docId % Classes
      val v = (if (blockOn(k, x / (W / 8), y / (H / 8))) 192 else 64) +
        noise(docId, x, y)
      (v, v, v)
    }
    def bytes(docId: Long): Array[Byte] =
      BmpCodec.encode(W, H, px(docId))
    /** Same pixels in a PNG container — q94's deployment payload. */
    def bytesPng(docId: Long): Array[Byte] =
      PngCodec.encode(W, H, px(docId))
  }

  /** Perceptual image NEAR-dup groups — the third rung of the image
    * dedup ladder: q93 groups byte-distinct files with identical
    * pixels; this groups PIXEL-distinct files whose decoded content
    * is visually the same (per-doc noise on a shared class image),
    * by the block-mean [[aHash]]. Payloads are REAL PNGs decoded
    * through [[PngCodec]] (the hash core is container-agnostic —
    * [[aHashPixels]]). Only the 8-byte hash shuffles. */
  def imageNearDupGroups(spark: SparkSession, docs: DataFrame,
      idCol: String): DataFrame = {
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long]
      .map { id =>
        val (w, h, px) =
          PngCodec.decodePixels(id, SynthBmpPerceptual.bytesPng(id))
        (id, aHashPixels(id, w, h, px))
      }
      .toDF("doc_id", "ahash")
      .groupBy(col("ahash"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .select(col("keeper"), col("n_copies"))
  }

  /** 32-bit audio fingerprint over decoded PCM: the signal cut into
    * 32 equal blocks, bit b = 1 iff block b's mean |amplitude|
    * exceeds the whole signal's mean |amplitude| — the loudness-
    * profile fingerprint (the simplest member of the
    * energy-landmark family real audio dedup uses): re-noised or
    * re-mastered copies of a recording keep their loudness shape and
    * hash together. Exact integer cross-multiplied comparison
    * (`blockSum·32 > totalSum` when blocks partition the signal);
    * sample count must divide into 32 equal blocks (resample first
    * otherwise — the codec layer's job). */
  def audioFingerprint(docId: Long, bytes: Array[Byte]): Long = {
    val samples = WavCodec.decodeSamples(docId, bytes)
    val n = samples.length
    require(n > 0 && n % 32 == 0,
      s"doc $docId: fingerprint needs a multiple of 32 samples, got $n")
    val block = n / 32
    val sums = new Array[Long](32)
    var total = 0L
    var i = 0
    while (i < n) {
      val v = math.abs(samples(i).toInt).toLong
      sums(i / block) += v
      total += v
      i += 1
    }
    var bits = 0L
    var b = 0
    while (b < 32) {
      if (sums(b) * 32L > total) bits |= (1L << b)
      b += 1
    }
    bits
  }

  /** Signal law for the audio near-dup corpus (q95): class
    * k = d mod 25 fixes a 1024-sample loudness profile (32 blocks of
    * square-wave amplitude 2,000 or 20,000; the first five blocks
    * spell k in binary — the [[SynthBmpPerceptual]] structural-
    * distinctness trick), and every doc adds ±3 per-sample noise with
    * period 7 (coprime to the class stride, so same-class docs always
    * differ sample-wise). Block mean |amplitude| stays within ±3 of
    * its base against a global mean ≥ 1,500 away — the fingerprint
    * is class-determined, provably. */
  object SynthWavClass {
    val Classes = 25
    val N = 1024
    def blockLoud(k: Long, b: Int): Boolean =
      if (b < 5) ((k >> b) & 1L) == 1L
      else ((k * 1000003L + b * 10007L) * 2654435761L % 97) < 41
    def noise(docId: Long, i: Int): Int =
      ((docId * 13 + i * 5) % 7).toInt - 3
    def bytes(docId: Long): Array[Byte] = {
      val k = docId % Classes
      WavCodec.encode(SynthWav.SampleRate,
        Array.tabulate(N) { i =>
          val amp = if (blockLoud(k, i / (N / 32))) 20000 else 2000
          val sign = if (i % 2 == 0) 1 else -1
          (sign * amp + noise(docId, i)).toShort
        })
    }
  }

  /** Audio near-dup groups (q95) — [[imageNearDupGroups]]'s audio
    * twin: sample-DISTINCT recordings grouped by the loudness-profile
    * fingerprint of their decoded signal. Only the 8-byte hash
    * shuffles. */
  def audioNearDupGroups(spark: SparkSession, docs: DataFrame,
      idCol: String): DataFrame = {
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long]
      .map(id => (id, audioFingerprint(id, SynthWavClass.bytes(id))))
      .toDF("doc_id", "fp")
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .select(col("keeper"), col("n_copies"))
  }

  /** Decoded features of one gzip-compressed TEXT payload: the
    * signals the ingest gate reads right after decompression. */
  final case class GzipTextFeature(
      doc_id: Long, n_chars: Int, n_tokens: Int, text_md5: String)

  /** Gzip TEXT ingest (q100) — the compressed-corpus shape a real
    * 100 TB pipeline reads (web corpora ship as .gz): each doc's
    * text round-trips through REAL gzip (`java.util.zip.GZIP*Stream`
    * — public JDK zlib, the [[PngCodec]] precedent for DEFLATE) as
    * an opaque binary payload, decompressed batch-wise per
    * partition, and the decoded text is fingerprinted and measured.
    * The oracle recomputes the same quantities from the plain text,
    * so hash-green proves the decompression path byte-for-byte
    * (the md5 matches only if every decoded byte does). */
  def gzipTextFeatures(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String): Dataset[GzipTextFeature] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        // partition-reused Deflater (the q107 codec-context lesson —
        // GZIPOutputStream allocates a fresh native zlib stream per
        // row); the RFC 1952 frame is written around the raw deflate
        // stream: 10-byte header, CRC-32 + ISIZE trailer. Conformance
        // is pinned against the JDK's own GZIP streams in
        // MultimodalSpec, both directions.
        val deflater =
          new java.util.zip.Deflater(
            java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
        // release the native zlib stream at task end (the zstd-context
        // pattern below) — without end() it lingers until a GC cleaner
        // runs, which on a long-lived executor is unbounded native
        // memory held per completed task (round-13 advice)
        org.apache.spark.TaskContext.get() match {
          case null => ()
          case tc => tc.addTaskCompletionListener[Unit](_ => deflater.end())
        }
        val crc = new java.util.zip.CRC32()
        val tmp = new Array[Byte](8192)
        it.map { case (id, text) =>
          (id, gzipFrame(deflater, crc, tmp, text.getBytes("UTF-8")))
        }
      }
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        // partition-reused Inflater: the frame header/trailer are
        // parsed by hand (strict: loud failure on reserved flags)
        // so the one native inflate context serves every row
        val inf = new java.util.zip.Inflater(true)
        org.apache.spark.TaskContext.get() match {
          case null => ()
          case tc => tc.addTaskCompletionListener[Unit](_ => inf.end())
        }
        val buf = new Array[Byte](8192)
        it.map { case (id, bytes) =>
          val raw = gunzipFrame(inf, buf, id, bytes)
          val text = new String(raw, "UTF-8")
          md.reset()
          // codepoint count, not UTF-16 units — the length() semantics
          // both engines' SQL layers use (differs beyond the BMP)
          GzipTextFeature(id, text.codePointCount(0, text.length),
            text.split(" ", -1).length,
            md.digest(raw).map(b => f"${b & 0xFF}%02x").mkString)
        }
      }
  }

  /** RFC 1952 gzip frame around a raw deflate stream from a REUSED
    * Deflater: 10-byte header (magic, CM=8, FLG=0, MTIME=0, XFL=0,
    * OS=255) + deflate body + CRC-32/ISIZE trailer. Conformance is
    * pinned against the JDK's own GZIP streams in MultimodalSpec,
    * both directions. */
  private[graft] def gzipFrame(deflater: java.util.zip.Deflater,
      crc: java.util.zip.CRC32, tmp: Array[Byte],
      raw: Array[Byte]): Array[Byte] = {
    deflater.reset()
    deflater.setInput(raw)
    deflater.finish()
    val bos = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
    bos.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0,
      0xff.toByte))
    while (!deflater.finished()) {
      val n = deflater.deflate(tmp)
      bos.write(tmp, 0, n)
    }
    crc.reset(); crc.update(raw)
    val t = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(crc.getValue.toInt).putInt(raw.length)
    bos.write(t.array())
    bos.toByteArray
  }

  /** Strict RFC 1952 reader over a REUSED raw Inflater: magic/CM
    * checked, reserved FLG bits rejected loudly, CRC-32 and ISIZE
    * verified against the inflated bytes. */
  private[graft] def gunzipFrame(inf: java.util.zip.Inflater,
      buf: Array[Byte], id: Long, bytes: Array[Byte]): Array[Byte] = {
    require(bytes.length > 18 && (bytes(0) & 0xFF) == 0x1f &&
      (bytes(1) & 0xFF) == 0x8b && bytes(2) == 8,
      s"doc $id: not a gzip frame")
    require(bytes(3) == 0,
      s"doc $id: unsupported gzip FLG ${bytes(3)}")
    inf.reset()
    // include the trailer bytes as input slack: a nowrap Inflater may
    // legitimately request one byte past the deflate stream (the
    // documented "dummy byte" quirk); it stops at the deflate EOF
    // marker, leaving the trailer unread — GZIPInputStream does the same
    inf.setInput(bytes, 10, bytes.length - 10)
    val out = new java.io.ByteArrayOutputStream(bytes.length * 2)
    while (!inf.finished()) {
      val n = inf.inflate(buf)
      require(n > 0 || !inf.needsInput(), s"doc $id: truncated gzip stream")
      out.write(buf, 0, n)
    }
    val raw = out.toByteArray
    val t = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val crc = new java.util.zip.CRC32()
    crc.update(raw)
    require(t.getInt == crc.getValue.toInt, s"doc $id: gzip CRC mismatch")
    require(t.getInt == raw.length, s"doc $id: gzip ISIZE mismatch")
    raw
  }

  /** One decoded row of the zstd/lz4 corpus path. */
  final case class CompressedTextFeature(
      doc_id: Long, codec: String, n_chars: Int, n_tokens: Int,
      text_md5: String)

  /** q107: the MODERN compressed-text ingest path — zstd and LZ4
    * frames, the two codecs large-scale corpora actually ship in
    * (gzip is q100's legacy rung). Even docs compress through
    * zstd-jni's frame API, odd docs through lz4-java's frame stream —
    * both are public OSS libraries already on Spark's own classpath
    * (parquet/shuffle codecs), so the engine adds no dependency. The
    * oracle recomputes chars/tokens/md5 from plain text: the md5 only
    * matches if every decompressed byte does, for BOTH codecs. Decode
    * batches per partition (codec contexts amortize) and the text
    * never shuffles — only the fixed-width feature row. */
  def compressedTextFeatures(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String): Dataset[CompressedTextFeature] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        // partition-reused codec machinery (the decode stage's
        // MessageDigest pattern): one zstd context, one LZ4 block
        // compressor + frame checksum hasher, one output buffer. The
        // per-row `new LZ4FrameOutputStream(bos)` this replaces
        // allocated the frame default's 4 MB block buffer (plus the
        // compressed-side buffer) PER DOCUMENT — tens of GB of churn
        // across a corpus, invisible on a quiet heap and brutal under
        // full-suite heap pressure (the round-12 17.2 s bench record
        // vs the ~1.9 s quiet number). 64 KB blocks bound the one
        // per-stream buffer this API cannot share.
        val zctx = new com.github.luben.zstd.ZstdCompressCtx()
        org.apache.spark.TaskContext.get() match {
          case null => ()
          case tc => tc.addTaskCompletionListener[Unit](_ => zctx.close())
        }
        val lz4Comp = net.jpountz.lz4.LZ4Factory.fastestInstance()
          .fastCompressor()
        val xxh32 = net.jpountz.xxhash.XXHashFactory.fastestInstance()
          .hash32()
        val bos = new java.io.ByteArrayOutputStream(1 << 16)
        it.map { case (id, text) =>
          val raw = text.getBytes("UTF-8")
          val bytes =
            if (id % 2 == 0) zctx.compress(raw)
            else {
              bos.reset()
              val out = new net.jpountz.lz4.LZ4FrameOutputStream(bos,
                net.jpountz.lz4.LZ4FrameOutputStream.BLOCKSIZE.SIZE_64KB,
                -1L, lz4Comp, xxh32,
                net.jpountz.lz4.LZ4FrameOutputStream.FLG.Bits.BLOCK_INDEPENDENCE)
              out.write(raw); out.close()
              bos.toByteArray
            }
          (id, if (id % 2 == 0) "zstd" else "lz4", bytes)
        }
      }
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val zdctx = new com.github.luben.zstd.ZstdDecompressCtx()
        org.apache.spark.TaskContext.get() match {
          case null => ()
          case tc => tc.addTaskCompletionListener[Unit](_ => zdctx.close())
        }
        it.map { case (id, codec, bytes) =>
          val raw =
            if (codec == "zstd") {
              val n = com.github.luben.zstd.Zstd.getFrameContentSize(bytes)
              require(n >= 0 && n < Int.MaxValue, s"zstd frame size $n")
              zdctx.decompress(bytes, n.toInt)
            } else {
              val in = new net.jpountz.lz4.LZ4FrameInputStream(
                new java.io.ByteArrayInputStream(bytes))
              val out = new java.io.ByteArrayOutputStream()
              val buf = new Array[Byte](8192)
              var k = in.read(buf)
              while (k > 0) { out.write(buf, 0, k); k = in.read(buf) }
              in.close()
              out.toByteArray
            }
          val text = new String(raw, "UTF-8")
          md.reset()
          CompressedTextFeature(id, codec,
            text.codePointCount(0, text.length),
            text.split(" ", -1).length,
            md.digest(raw).map(b => f"${b & 0xFF}%02x").mkString)
        }
      }
  }

  /** One resized-image row: input dims, output dims, channel means
    * AFTER the resample. */
  final case class ResizeFeature(
      doc_id: Long, in_w: Int, in_h: Int, out_w: Int, out_h: Int,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** REAL pixel resample — box-filtered half-scale downsample over a
    * decoded RGB plane set: output pixel (i, j) is the rounded mean
    * of the 2×2 (edge: 1×2 / 2×1 / 1×1) input box it covers. This is
    * the codec-level resample; integer box sums keep it exactly
    * recomputable by the SQL oracle (q108), unlike fractional-weight
    * bilinear. */
  def resizeHalfBox(w: Int, h: Int,
      px: (Int, Int) => (Int, Int, Int)): (Int, Int, (Int, Int) => (Int, Int, Int)) = {
    val ow = (w + 1) / 2
    val oh = (h + 1) / 2
    def out(i: Int, j: Int): (Int, Int, Int) = {
      var sr = 0; var sg = 0; var sb = 0; var cnt = 0
      var y = 2 * j
      while (y <= math.min(2 * j + 1, h - 1)) {
        var x = 2 * i
        while (x <= math.min(2 * i + 1, w - 1)) {
          val (r, g, b) = px(x, y)
          sr += r; sg += g; sb += b; cnt += 1
          x += 1
        }
        y += 1
      }
      (math.round(sr.toDouble / cnt).toInt,
        math.round(sg.toDouble / cnt).toInt,
        math.round(sb.toDouble / cnt).toInt)
    }
    (ow, oh, out)
  }

  /** q108: decode the REAL PNG corpus (the q96 payloads), run the
    * real box resample, report resized-image channel means — decode →
    * RESAMPLE → feature, the full multimodal column pipeline with
    * actual pixels at every step. */
  def resizeFeatures(spark: SparkSession, docs: DataFrame,
      idCol: String): Dataset[ResizeFeature] = {
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long]
      .map { id =>
        (id, PngCodec.encode(SynthBmp.width(id), SynthBmp.height(id),
          (x, y) => (SynthBmp.channel(id, x, y, 0),
            SynthBmp.channel(id, x, y, 1), SynthBmp.channel(id, x, y, 2))))
      }
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, packed) = PngCodec.decodePixels(id, bytes)
          def px(x: Int, y: Int): (Int, Int, Int) = {
            val p = packed(y * w + x)
            ((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF)
          }
          val (ow, oh, out) = resizeHalfBox(w, h, px)
          var sr = 0L; var sg = 0L; var sb = 0L
          var j = 0
          while (j < oh) {
            var i = 0
            while (i < ow) {
              val (r, g, b) = out(i, j)
              sr += r; sg += g; sb += b
              i += 1
            }
            j += 1
          }
          val n = ow * oh
          def m(s: Long) = math.round(s.toDouble / n * 1e6) / 1e6
          ResizeFeature(id, w, h, ow, oh, m(sr), m(sg), m(sb))
        }
      }
  }

  /** One frame-sampled video row: which frames a stride-2 sample
    * keeps and the luma mean over ONLY those frames. */
  final case class FrameSampleFeature(
      doc_id: Long, n_frames: Int, n_sampled: Int, mean_y: Double)

  /** q109: REAL frame sampling — decode the MJPEG/AVI corpus and keep
    * every `stride`-th frame (the training-data video practice:
    * decode once, featurize a temporal subsample). The oracle
    * recomputes the sampled-frame luma mean from the law, so a
    * hash-green gate proves the sampler keeps exactly frames
    * 0, stride, 2·stride … — an off-by-one or an all-frames fallback
    * shifts the mean. */
  def frameSampleFeatures(spark: SparkSession, docs: DataFrame,
      idCol: String, stride: Int = 2): Dataset[FrameSampleFeature] = {
    require(stride > 0, s"stride must be positive, got $stride")
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long]
      .map(id => (id, SynthVideo.bytes(id)))
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val v = AviCodec.decode(bytes)
          val n = v.width * v.height
          var sumY = 0L
          var kept = 0
          var f = 0
          while (f < v.frames.length) {
            val y = v.frames(f).y
            var i = 0
            while (i < n) { sumY += y(i); i += 1 }
            kept += 1
            f += stride
          }
          FrameSampleFeature(id, v.frames.length, kept,
            math.round(sumY.toDouble / (n.toLong * kept) * 1e6) / 1e6)
        }
      }
  }

  /** Attach a binary media column (here synthesized from text — in a
    * real pipeline this is the stored blob) plus pruning-friendly
    * top-level metadata columns. */
  def withMediaColumn(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      encode(col(textCol), "UTF-8").as("media"),
      octet_length(encode(col(textCol), "UTF-8")).as("media_bytes"),
      lit("fake/raw").as("media_format"))

  /** Batched decode/feature-extract over the media column —
    * partition-parallel, codec initialized once per partition (the
    * `mapPartitions` batch shape a real decoder needs). */
  def decodeFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeature] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition codec init would go here (amortized setup)
        it.map { case (id, bytes) => FakeCodec.decode(id, bytes) }
      }
  }

  /** Frame-sample shape: take every `stride`-th fixed-size window of
    * the payload as a "frame" (per-row, array output — the video
    * sampling batch shape, stubbed on raw bytes). */
  def frameSample(media: DataFrame, frameBytes: Int, stride: Int): DataFrame =
    media.select(col("doc_id"),
      transform(
        sequence(lit(0),
          greatest(((octet_length(col("media")) - frameBytes) / stride)
            .cast("int"), lit(0))),
        i => substring(col("media"), (i * stride + 1).cast("int"),
          lit(frameBytes)))
        .as("frames"))
      .withColumn("n_frames", size(col("frames")))

  /** Resize shape: aspect-preserving fit of decoded dimensions into a
    * `maxW`×`maxH` box, never upscaling — pure column arithmetic over
    * the decode metadata (the pixel resample itself belongs to the
    * codec; the engine contributes the batch plumbing and the
    * dimension algebra, codegen'd per-row, zero shuffle). */
  def resizeDims(features: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    require(maxW > 0 && maxH > 0, s"target box must be positive: $maxW x $maxH")
    // round + clamp rather than floor: maxW/width is rarely exactly
    // representable, so width*(maxW/width) can land at 159.999…,
    // which floor would undershoot to one short of the box edge
    features.withColumn("__scale",
        least(lit(maxW.toDouble) / col("width"),
          lit(maxH.toDouble) / col("height"), lit(1.0)))
      .withColumn("out_width",
        least(greatest(round(col("width") * col("__scale")), lit(1)),
          lit(maxW)).cast("int"))
      .withColumn("out_height",
        least(greatest(round(col("height") * col("__scale")), lit(1)),
          lit(maxH)).cast("int"))
      .drop("__scale")
  }
}
