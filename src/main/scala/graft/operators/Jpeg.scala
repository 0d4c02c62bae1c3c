package graft.operators

/** REAL pure-JVM JPEG codec — the LOSSY rung of the media ladder
  * ([[PngCodec]] and [[FlacCodec]] cover the lossless compressed
  * formats). Everything here is public-spec ITU-T T.81 /
  * ISO 10918-1 DCT coding over plain JDK arithmetic — no image
  * library, no JNI.
  *
  * Scope: baseline sequential AND progressive (SOF2: spectral
  * selection + successive approximation per annex G — the mode real
  * web crawls are full of), 8-bit samples, 1 or 3 components,
  * sampling factors 1 or 2 per axis (covers grayscale, 4:4:4 and
  * 4:2:0 — the layouts real corpora use), restart markers, multiple
  * DQT/DHT segments, 8- and 16-bit quantization tables. Arithmetic
  * coding and 12-bit precision are rejected loudly rather than
  * mis-decoded.
  *
  * `encode` is a real general-purpose BASELINE encoder: forward DCT,
  * standard Annex-K Huffman tables, optional 4:2:0 chroma
  * subsampling (2x2 box average), optional restart intervals, 0xFF
  * byte stuffing (progressive files come from foreign encoders —
  * decode-side coverage is what corpus ingest needs).
  * `decode` is a strict marker WALKER: it requires SOI first,
  * parses DQT/DHT/SOF/DRI/SOS wherever they appear, entropy-decodes
  * the interleaved MCU stream (canonical Huffman per F.2.2) — or,
  * for SOF2, accumulates every partial scan's band/bit-plane into a
  * per-block coefficient store and transforms once at EOI — checks
  * restart-marker sequence numbers, dequantizes, inverse-zigzags,
  * runs a separable float IDCT, level-shifts, clamps, then
  * upsamples chroma by replication and crops the padded MCU grid to
  * the declared frame size. Truncation, a bad marker, an overlong
  * Huffman lookup, or an unsupported mode fails loudly (the
  * properties JpegCodecSpec pins, including ImageIO-written
  * progressive files decoded exactly).
  *
  * Why a LOSSY codec can still sit under the arithmetic SQL oracle
  * (q104): quantization is exact on DC-only blocks. The synthesized
  * corpus makes every 8x8 luma unit and every 16x16 chroma MCU a
  * CONSTANT, so the FDCT concentrates all energy in the DC
  * coefficient (8*(v-128), exact in a double), the AC coefficients
  * quantize to zero, and with a DC quantization step of 8 the
  * round trip is bit-exact: the DuckDB oracle recomputes the decoded
  * per-pixel planes straight from the generative law. The general
  * (AC-bearing) paths are gated by JpegCodecSpec's cross-decoder
  * tests against `javax.imageio` (public JDK): our encoder's bytes
  * must decode identically (within the spec's IDCT tolerance) under
  * BOTH decoders, and our decoder must agree with ImageIO on
  * ImageIO-encoded files — tables and layouts we did not write.
  */
object JpegCodec {

  // ---- shared spec tables -----------------------------------------

  /** Zig-zag scan order (T.81 figure 5): zigzag(k) = raster index of
    * the k-th coefficient in scan order. */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** Encoder quantization tables. DC step is 8 for BOTH components —
    * that is what makes block-constant inputs round-trip exactly
    * (8*(v-128) / 8 = v-128, no information lost); the AC steps are
    * a mild uniform 16 (unused by the DC-only oracle corpus, real
    * for the property-tested general path). */
  private val QLuma: Array[Int] = {
    val t = Array.fill(64)(16); t(0) = 8; t
  }
  private val QChroma: Array[Int] = {
    val t = Array.fill(64)(16); t(0) = 8; t
  }

  // Standard Huffman tables from T.81 Annex K.3: (bits(1..16), vals).
  private val DcLumaBits = Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumaVals = Array.tabulate(12)(identity)
  private val DcChromaBits = Array(0, 0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcChromaVals = Array.tabulate(12)(identity)
  private val AcLumaBits = Array(0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcLumaVals = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
    0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
    0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)
  private val AcChromaBits = Array(0, 0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcChromaVals = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0,
    0x15, 0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34,
    0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3,
    0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2,
    0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9,
    0xea, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)

  /** Canonical Huffman code assignment (T.81 C.2): for each symbol,
    * its (code, length). Returned as parallel arrays indexed by
    * symbol value for the encoder. */
  private def buildEncTable(bits: Array[Int], vals: Array[Int]): (Array[Int], Array[Int]) = {
    val codes = new Array[Int](256)
    val sizes = new Array[Int](256)
    var code = 0
    var k = 0
    var l = 1
    while (l <= 16) {
      var i = 0
      while (i < bits(l)) {
        codes(vals(k)) = code
        sizes(vals(k)) = l
        code += 1; k += 1; i += 1
      }
      code <<= 1
      l += 1
    }
    (codes, sizes)
  }

  // ---- bit I/O -----------------------------------------------------

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var nbits = 0
    def write(code: Int, len: Int): Unit = {
      require(len > 0 && len <= 24, s"bad code length $len")
      acc = (acc << len) | (code & ((1 << len) - 1))
      nbits += len
      while (nbits >= 8) {
        val b = (acc >>> (nbits - 8)) & 0xFF
        out.write(b)
        if (b == 0xFF) out.write(0x00) // byte stuffing
        nbits -= 8
      }
    }
    /** Pad with 1-bits to a byte boundary (T.81 F.1.2.3). */
    def flush(): Unit = if (nbits > 0) write(0x7F, 8 - nbits)
  }

  /** Entropy-segment bit reader: un-stuffs FF00, stops at any other
    * marker (the caller handles RST / EOI). */
  private final class BitReader(data: Array[Byte], var pos: Int) {
    private var acc = 0L
    private var nbits = 0
    /** Byte-align and return position (for restart handling). */
    def align(): Unit = { acc = 0L; nbits = 0 }
    private def fill(): Unit = {
      val b = data(pos) & 0xFF
      if (b == 0xFF) {
        if (pos + 1 >= data.length)
          throw new IllegalArgumentException("jpeg: truncated entropy data")
        val n = data(pos + 1) & 0xFF
        if (n == 0x00) { pos += 2 }
        else throw new IllegalArgumentException(
          f"jpeg: marker 0xFF$n%02x inside entropy segment")
      } else pos += 1
      acc = (acc << 8) | b
      nbits += 8
    }
    def bit(): Int = {
      if (nbits == 0) {
        if (pos >= data.length)
          throw new IllegalArgumentException("jpeg: truncated entropy data")
        fill()
      }
      nbits -= 1
      ((acc >>> nbits) & 1L).toInt
    }
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
  }

  /** Decoder-side canonical Huffman table (F.2.2.3 DECODE): arrays
    * indexed by code length. */
  private final class DecTable(bits: Array[Int], vals: Array[Int]) {
    // minCode/maxCode/valPtr per length 1..16
    val minCode = new Array[Int](17)
    val maxCode = Array.fill(17)(-1)
    val valPtr = new Array[Int](17)
    val values: Array[Int] = vals
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        if (bits(l) > 0) {
          valPtr(l) = k
          minCode(l) = code
          code += bits(l); k += bits(l)
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
    }
    def decode(in: BitReader): Int = {
      var code = in.bit()
      var l = 1
      while (l <= 16 && (maxCode(l) < 0 || code > maxCode(l))) {
        code = (code << 1) | in.bit()
        l += 1
      }
      if (l > 16)
        throw new IllegalArgumentException("jpeg: invalid Huffman code")
      values(valPtr(l) + (code - minCode(l)))
    }
  }

  // ---- DCT ---------------------------------------------------------

  private val CosTab: Array[Double] = {
    val t = new Array[Double](64) // t(u*8+x) = cos((2x+1) u pi / 16)
    var u = 0
    while (u < 8) {
      var x = 0
      while (x < 8) {
        t(u * 8 + x) = math.cos((2 * x + 1) * u * math.Pi / 16.0)
        x += 1
      }
      u += 1
    }
    t
  }
  private val InvSqrt2 = 1.0 / math.sqrt(2.0)

  /** Separable forward DCT of one level-shifted 8x8 block (raster
    * order in, raster order out, T.81 A.3.3 normalization). */
  private def fdct(block: Array[Double]): Array[Double] = {
    val tmp = new Array[Double](64)
    var y = 0
    while (y < 8) { // rows -> frequency u along x
      var u = 0
      while (u < 8) {
        var s = 0.0
        var x = 0
        while (x < 8) { s += block(y * 8 + x) * CosTab(u * 8 + x); x += 1 }
        tmp(y * 8 + u) = s
        u += 1
      }
      y += 1
    }
    val out = new Array[Double](64)
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var yy = 0
        while (yy < 8) { s += tmp(yy * 8 + u) * CosTab(v * 8 + yy); yy += 1 }
        val cu = if (u == 0) InvSqrt2 else 1.0
        val cv = if (v == 0) InvSqrt2 else 1.0
        out(v * 8 + u) = 0.25 * cu * cv * s
        u += 1
      }
      v += 1
    }
    out
  }

  /** Separable inverse DCT of one dequantized 8x8 block. */
  private def idct(coef: Array[Int]): Array[Double] = {
    val tmp = new Array[Double](64)
    var v = 0
    while (v < 8) { // rows of coef -> spatial x
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) {
          val cu = if (u == 0) InvSqrt2 else 1.0
          s += cu * coef(v * 8 + u) * CosTab(u * 8 + x)
          u += 1
        }
        tmp(v * 8 + x) = s
        x += 1
      }
      v += 1
    }
    val out = new Array[Double](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var vv = 0
        while (vv < 8) {
          val cv = if (vv == 0) InvSqrt2 else 1.0
          s += cv * tmp(vv * 8 + x) * CosTab(vv * 8 + y)
          vv += 1
        }
        out(y * 8 + x) = 0.25 * s
        x += 1
      }
      y += 1
    }
    out
  }

  // ---- encode ------------------------------------------------------

  private def u16(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write((v >>> 8) & 0xFF); out.write(v & 0xFF)
  }
  private def marker(out: java.io.ByteArrayOutputStream, m: Int): Unit = {
    out.write(0xFF); out.write(m)
  }
  private def segment(out: java.io.ByteArrayOutputStream, m: Int,
      body: Array[Byte]): Unit = {
    marker(out, m); u16(out, body.length + 2); out.write(body, 0, body.length)
  }

  private def dhtBody(tc: Int, th: Int, bits: Array[Int],
      vals: Array[Int]): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    b.write((tc << 4) | th)
    var l = 1
    while (l <= 16) { b.write(bits(l)); l += 1 }
    vals.foreach(b.write)
    b.toByteArray
  }

  /** Category (bit size) of a coefficient value per T.81 F.1.2.1. */
  private def category(v: Int): Int = {
    var a = math.abs(v)
    var n = 0
    while (a != 0) { a >>= 1; n += 1 }
    n
  }

  /** Encode `ycbcr(x, y) = (Y, Cb, Cr)` (each 0..255) as baseline
    * JFIF. `subsample` = true emits 4:2:0 (chroma = 2x2 box average),
    * false emits 4:4:4. `restartInterval` > 0 emits DRI + RSTn
    * markers every that-many MCUs. */
  def encode(width: Int, height: Int, ycbcr: (Int, Int) => (Int, Int, Int),
      subsample: Boolean = true, restartInterval: Int = 0): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims $width x $height")
    val out = new java.io.ByteArrayOutputStream()
    marker(out, 0xD8) // SOI
    // APP0 / JFIF 1.1
    segment(out, 0xE0, Array[Byte](
      'J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    // DQT: table 0 (luma) + table 1 (chroma), 8-bit precision
    locally {
      val b = new java.io.ByteArrayOutputStream()
      b.write(0x00); Zigzag.foreach(i => b.write(QLuma(i)))
      b.write(0x01); Zigzag.foreach(i => b.write(QChroma(i)))
      segment(out, 0xDB, b.toByteArray)
    }
    // SOF0
    val hmax = if (subsample) 2 else 1
    locally {
      val b = new java.io.ByteArrayOutputStream()
      b.write(8); // precision
      b.write((height >>> 8) & 0xFF); b.write(height & 0xFF)
      b.write((width >>> 8) & 0xFF); b.write(width & 0xFF)
      b.write(3)
      b.write(1); b.write((hmax << 4) | hmax); b.write(0) // Y
      b.write(2); b.write(0x11); b.write(1)               // Cb
      b.write(3); b.write(0x11); b.write(1)               // Cr
      segment(out, 0xC0, b.toByteArray)
    }
    // DHT x4
    locally {
      val b = new java.io.ByteArrayOutputStream()
      b.write(dhtBody(0, 0, DcLumaBits, DcLumaVals))
      b.write(dhtBody(1, 0, AcLumaBits, AcLumaVals))
      b.write(dhtBody(0, 1, DcChromaBits, DcChromaVals))
      b.write(dhtBody(1, 1, AcChromaBits, AcChromaVals))
      segment(out, 0xC4, b.toByteArray)
    }
    if (restartInterval > 0) {
      val b = new java.io.ByteArrayOutputStream()
      b.write((restartInterval >>> 8) & 0xFF); b.write(restartInterval & 0xFF)
      segment(out, 0xDD, b.toByteArray)
    }
    // SOS
    locally {
      val b = new java.io.ByteArrayOutputStream()
      b.write(3)
      b.write(1); b.write(0x00)
      b.write(2); b.write(0x11)
      b.write(3); b.write(0x11)
      b.write(0); b.write(63); b.write(0) // Ss, Se, AhAl
      segment(out, 0xDA, b.toByteArray)
    }

    // sampled planes (edge-replicated to the MCU grid)
    def clampX(x: Int) = if (x < 0) 0 else if (x >= width) width - 1 else x
    def clampY(y: Int) = if (y < 0) 0 else if (y >= height) height - 1 else y
    val mcuPx = 8 * hmax
    val mcusX = (width + mcuPx - 1) / mcuPx
    val mcusY = (height + mcuPx - 1) / mcuPx
    def lum(x: Int, y: Int): Int = ycbcr(clampX(x), clampY(y))._1
    def chroma(sel: Int)(cx: Int, cy: Int): Int =
      if (!subsample) {
        val p = ycbcr(clampX(cx), clampY(cy)); if (sel == 0) p._2 else p._3
      } else {
        // 2x2 box average with edge replication
        var s = 0
        var dy = 0
        while (dy < 2) {
          var dx = 0
          while (dx < 2) {
            val p = ycbcr(clampX(cx * 2 + dx), clampY(cy * 2 + dy))
            s += (if (sel == 0) p._2 else p._3)
            dx += 1
          }
          dy += 1
        }
        // JPEG encoders conventionally round the box mean half-up
        (s + 2) / 4
      }

    val (dcLC, dcLS) = buildEncTable(DcLumaBits, DcLumaVals)
    val (acLC, acLS) = buildEncTable(AcLumaBits, AcLumaVals)
    val (dcCC, dcCS) = buildEncTable(DcChromaBits, DcChromaVals)
    val (acCC, acCS) = buildEncTable(AcChromaBits, AcChromaVals)

    val bw = new BitWriter(out)
    val pred = new Array[Int](3)

    def encodeBlock(sample: (Int, Int) => Int, ox: Int, oy: Int,
        quant: Array[Int], comp: Int): Unit = {
      val blk = new Array[Double](64)
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          blk(y * 8 + x) = sample(ox + x, oy + y) - 128.0
          x += 1
        }
        y += 1
      }
      val coef = fdct(blk)
      val q = new Array[Int](64)
      var i = 0
      while (i < 64) {
        q(i) = math.round(coef(i) / quant(i)).toInt
        i += 1
      }
      val (dcC, dcS, acC, acS) =
        if (comp == 0) (dcLC, dcLS, acLC, acLS) else (dcCC, dcCS, acCC, acCS)
      // DC
      val diff = q(0) - pred(comp)
      pred(comp) = q(0)
      val cat = category(diff)
      bw.write(dcC(cat), dcS(cat))
      if (cat > 0) {
        val bitsVal = if (diff >= 0) diff else diff + (1 << cat) - 1
        bw.write(bitsVal, cat)
      }
      // AC, zig-zag with run-lengths
      var run = 0
      var k = 1
      while (k < 64) {
        val v = q(Zigzag(k))
        if (v == 0) run += 1
        else {
          while (run >= 16) { bw.write(acC(0xF0), acS(0xF0)); run -= 16 }
          val sz = category(v)
          val sym = (run << 4) | sz
          bw.write(acC(sym), acS(sym))
          val bitsVal = if (v >= 0) v else v + (1 << sz) - 1
          bw.write(bitsVal, sz)
          run = 0
        }
        k += 1
      }
      if (run > 0) bw.write(acC(0x00), acS(0x00)) // EOB
    }

    var mcu = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          bw.flush()
          marker(out, 0xD0 + ((mcu / restartInterval - 1) % 8))
          pred(0) = 0; pred(1) = 0; pred(2) = 0
        }
        if (subsample) {
          var by = 0
          while (by < 2) {
            var bx = 0
            while (bx < 2) {
              encodeBlock(lum, mx * 16 + bx * 8, my * 16 + by * 8, QLuma, 0)
              bx += 1
            }
            by += 1
          }
          encodeBlock(chroma(0), mx * 8, my * 8, QChroma, 1)
          encodeBlock(chroma(1), mx * 8, my * 8, QChroma, 2)
        } else {
          encodeBlock(lum, mx * 8, my * 8, QLuma, 0)
          encodeBlock(chroma(0), mx * 8, my * 8, QChroma, 1)
          encodeBlock(chroma(1), mx * 8, my * 8, QChroma, 2)
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }
    bw.flush()
    marker(out, 0xD9) // EOI
    out.toByteArray
  }

  /** RGB convenience entry for the ImageIO interop tests: standard
    * JFIF RGB -> YCbCr (rounded, clamped) then [[encode]]. */
  def encodeRgb(width: Int, height: Int,
      pixel: (Int, Int) => (Int, Int, Int), subsample: Boolean = true,
      restartInterval: Int = 0): Array[Byte] =
    encode(width, height, (x, y) => {
      val (r, g, b) = pixel(x, y)
      val yy = math.round(0.299 * r + 0.587 * g + 0.114 * b).toInt
      val cb = math.round(-0.168736 * r - 0.331264 * g + 0.5 * b + 128).toInt
      val cr = math.round(0.5 * r - 0.418688 * g - 0.081312 * b + 128).toInt
      (clamp8(yy), clamp8(cb), clamp8(cr))
    }, subsample, restartInterval)

  @inline private def clamp8(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  // ---- decode ------------------------------------------------------

  /** Decoded frame: full-resolution Y/Cb/Cr planes (chroma upsampled
    * by replication, planes cropped to width x height; grayscale
    * files report Cb = Cr = 128). */
  final case class JpegImage(width: Int, height: Int,
      y: Array[Int], cb: Array[Int], cr: Array[Int]) {
    /** Standard JFIF YCbCr -> RGB (rounded, clamped). */
    def rgb(x: Int, yy: Int): (Int, Int, Int) = {
      val i = yy * width + x
      val Y = y(i); val Cb = cb(i) - 128; val Cr = cr(i) - 128
      (clamp8(math.round(Y + 1.402 * Cr).toInt),
        clamp8(math.round(Y - 0.344136 * Cb - 0.714136 * Cr).toInt),
        clamp8(math.round(Y + 1.772 * Cb).toInt))
    }
  }

  private final case class Component(id: Int, h: Int, v: Int, tq: Int) {
    var dcTable: Int = 0
    var acTable: Int = 0
  }

  def decode(bytes: Array[Byte]): JpegImage = {
    def u8(p: Int) = bytes(p) & 0xFF
    def u16at(p: Int) = (u8(p) << 8) | u8(p + 1)
    require(bytes.length > 4 && u8(0) == 0xFF && u8(1) == 0xD8,
      "jpeg: missing SOI")
    var pos = 2
    val qtables = new Array[Array[Int]](4)
    val dcTables = new Array[DecTable](4)
    val acTables = new Array[DecTable](4)
    var comps: Array[Component] = null
    var width = 0
    var height = 0
    var restartInterval = 0
    var image: JpegImage = null
    // progressive (SOF2) state: per-component coefficient store in
    // ZIGZAG order (scans address coefficients by spectral index),
    // accumulated across scans and transformed once at EOI
    var progressive = false
    var progCoefs: Array[Array[Int]] = null
    var progScans = 0

    while (image == null) {
      require(pos + 1 < bytes.length, "jpeg: truncated before EOI")
      require(u8(pos) == 0xFF, f"jpeg: expected marker at $pos, got 0x${u8(pos)}%02x")
      var m = u8(pos + 1)
      pos += 2
      while (m == 0xFF) { m = u8(pos); pos += 1 } // fill bytes
      m match {
        case 0xD9 => // EOI: ends a progressive stream, invalid otherwise
          if (progressive && progScans > 0)
            image = finishProgressive(comps, progCoefs, qtables,
              width, height)
          else
            throw new IllegalArgumentException("jpeg: EOI before scan data")
        case 0xC0 | 0xC1 | 0xC2 => // sequential / progressive SOF
          progressive = m == 0xC2
          val len = u16at(pos)
          require(u8(pos + 2) == 8, "jpeg: only 8-bit precision supported")
          height = u16at(pos + 3)
          width = u16at(pos + 5)
          val nc = u8(pos + 7)
          require(nc == 1 || nc == 3, s"jpeg: $nc components unsupported")
          comps = Array.tabulate(nc) { i =>
            val o = pos + 8 + i * 3
            val hv = u8(o + 1)
            val c = Component(u8(o), hv >> 4, hv & 0xF, u8(o + 2))
            require(c.h >= 1 && c.h <= 2 && c.v >= 1 && c.v <= 2,
              s"jpeg: sampling ${c.h}x${c.v} unsupported")
            c
          }
          pos += len
        case 0xC4 => // DHT (possibly several tables)
          val len = u16at(pos)
          var p = pos + 2
          while (p < pos + len) {
            val tcth = u8(p)
            val tc = tcth >> 4
            val th = tcth & 0xF
            val bits = new Array[Int](17)
            var total = 0
            var l = 1
            while (l <= 16) { bits(l) = u8(p + l); total += bits(l); l += 1 }
            val vals = Array.tabulate(total)(i => u8(p + 17 + i))
            val t = new DecTable(bits, vals)
            if (tc == 0) dcTables(th) = t else acTables(th) = t
            p += 17 + total
          }
          pos += len
        case 0xDB => // DQT (possibly several tables, 8- or 16-bit)
          val len = u16at(pos)
          var p = pos + 2
          while (p < pos + len) {
            val pqtq = u8(p)
            val pq = pqtq >> 4
            val tq = pqtq & 0xF
            val t = new Array[Int](64)
            var i = 0
            while (i < 64) {
              t(Zigzag(i)) = if (pq == 0) u8(p + 1 + i) else u16at(p + 1 + i * 2)
              i += 1
            }
            qtables(tq) = t
            p += 1 + (if (pq == 0) 64 else 128)
          }
          pos += len
        case 0xDD => // DRI
          restartInterval = u16at(pos + 2)
          pos += u16at(pos)
        case 0xDA => // SOS
          val len = u16at(pos)
          val ns = u8(pos + 2)
          require(comps != null, "jpeg: SOS before SOF")
          if (!progressive) {
            // baseline: one full interleaved scan
            require(ns == comps.length, "jpeg: partial scans unsupported")
            var i = 0
            while (i < ns) {
              val cs = u8(pos + 3 + i * 2)
              val tdta = u8(pos + 4 + i * 2)
              val c = comps.find(_.id == cs).getOrElse(
                throw new IllegalArgumentException(s"jpeg: scan refs unknown component $cs"))
              c.dcTable = tdta >> 4
              c.acTable = tdta & 0xF
              i += 1
            }
            pos += len
            image = decodeScan(bytes, pos, comps, qtables, dcTables,
              acTables, width, height, restartInterval)
          } else {
            // progressive: one of many partial scans (spectral
            // selection + successive approximation, T.81 annex G)
            val scanCompIdx = new Array[Int](ns)
            var i = 0
            while (i < ns) {
              val cs = u8(pos + 3 + i * 2)
              val tdta = u8(pos + 4 + i * 2)
              val ci = comps.indexWhere(_.id == cs)
              require(ci >= 0, s"jpeg: scan refs unknown component $cs")
              comps(ci).dcTable = tdta >> 4
              comps(ci).acTable = tdta & 0xF
              scanCompIdx(i) = ci
              i += 1
            }
            val ss = u8(pos + 3 + ns * 2)
            val se = u8(pos + 4 + ns * 2)
            val ahal = u8(pos + 5 + ns * 2)
            pos += len
            if (progCoefs == null) {
              val hmax = comps.map(_.h).max
              val vmax = comps.map(_.v).max
              val mcusX = (width + 8 * hmax - 1) / (8 * hmax)
              val mcusY = (height + 8 * vmax - 1) / (8 * vmax)
              progCoefs = comps.map(c =>
                new Array[Int](mcusX * c.h * mcusY * c.v * 64))
            }
            pos = decodeProgressiveScan(bytes, pos, comps, scanCompIdx,
              progCoefs, dcTables, acTables, width, height,
              ss, se, ahal >> 4, ahal & 0xF, restartInterval)
            progScans += 1
          }
        case a if a >= 0xE0 && a <= 0xEF => pos += u16at(pos) // APPn
        case 0xFE => pos += u16at(pos) // COM
        case other =>
          throw new IllegalArgumentException(f"jpeg: unsupported marker 0xFF$other%02x")
      }
    }
    image
  }

  private def decodeScan(bytes: Array[Byte], start: Int,
      comps: Array[Component], qtables: Array[Array[Int]],
      dcTables: Array[DecTable], acTables: Array[DecTable],
      width: Int, height: Int, restartInterval: Int): JpegImage = {
    val hmax = comps.map(_.h).max
    val vmax = comps.map(_.v).max
    val mcusX = (width + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (height + 8 * vmax - 1) / (8 * vmax)
    // padded per-component planes on the MCU grid
    val planeW = comps.map(c => mcusX * c.h * 8)
    val planeH = comps.map(c => mcusY * c.v * 8)
    val planes = comps.indices.map(i => new Array[Int](planeW(i) * planeH(i))).toArray

    val in = new BitReader(bytes, start)
    val pred = new Array[Int](comps.length)
    val coef = new Array[Int](64)

    var mcu = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          in.align()
          require(in.pos + 1 < bytes.length, "jpeg: truncated at restart")
          val b0 = bytes(in.pos) & 0xFF
          val b1 = bytes(in.pos + 1) & 0xFF
          val expect = 0xD0 + ((mcu / restartInterval - 1) % 8)
          require(b0 == 0xFF && b1 == expect,
            f"jpeg: expected RST 0xFF$expect%02x, got 0x$b0%02x$b1%02x")
          in.pos += 2
          java.util.Arrays.fill(pred, 0)
        }
        var ci = 0
        while (ci < comps.length) {
          val c = comps(ci)
          val dcT = dcTables(c.dcTable)
          val acT = acTables(c.acTable)
          require(dcT != null && acT != null, "jpeg: missing Huffman table")
          val q = qtables(c.tq)
          require(q != null, "jpeg: missing quantization table")
          var by = 0
          while (by < c.v) {
            var bx = 0
            while (bx < c.h) {
              java.util.Arrays.fill(coef, 0)
              // DC
              val cat = dcT.decode(in)
              val diff = if (cat == 0) 0 else extend(in.bits(cat), cat)
              pred(ci) += diff
              coef(0) = pred(ci) * q(0)
              // AC
              var k = 1
              var done = false
              while (k < 64 && !done) {
                val rs = acT.decode(in)
                val run = rs >> 4
                val sz = rs & 0xF
                if (sz == 0) {
                  if (run == 15) k += 16 // ZRL
                  else done = true       // EOB
                } else {
                  k += run
                  require(k < 64, "jpeg: AC index overflow")
                  coef(Zigzag(k)) = extend(in.bits(sz), sz) * q(Zigzag(k))
                  k += 1
                }
              }
              val px = idct(coef)
              val ox = (mx * c.h + bx) * 8
              val oy = (my * c.v + by) * 8
              val pw = planeW(ci)
              var yy = 0
              while (yy < 8) {
                var xx = 0
                while (xx < 8) {
                  planes(ci)((oy + yy) * pw + ox + xx) =
                    clamp8(math.round(px(yy * 8 + xx) + 128.0).toInt)
                  xx += 1
                }
                yy += 1
              }
              bx += 1
            }
            by += 1
          }
          ci += 1
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }

    // verify trailing EOI (after optional final byte-align)
    in.align()
    locally {
      var p = in.pos
      // tolerate pad bytes / fill 0xFFs before EOI
      while (p + 1 < bytes.length &&
        !((bytes(p) & 0xFF) == 0xFF && (bytes(p + 1) & 0xFF) == 0xD9)) p += 1
      require(p + 1 < bytes.length, "jpeg: missing EOI")
    }

    // upsample (replication) + crop to frame size
    def fullPlane(ci: Int): Array[Int] = {
      val c = comps(ci)
      val out = new Array[Int](width * height)
      val pw = planeW(ci)
      var y = 0
      while (y < height) {
        val sy = y * c.v / vmax
        var x = 0
        while (x < width) {
          val sx = x * c.h / hmax
          out(y * width + x) = planes(ci)(sy * pw + sx)
          x += 1
        }
        y += 1
      }
      out
    }
    if (comps.length == 1)
      JpegImage(width, height, fullPlane(0),
        Array.fill(width * height)(128), Array.fill(width * height)(128))
    else
      JpegImage(width, height, fullPlane(0), fullPlane(1), fullPlane(2))
  }

  /** One progressive scan (T.81 annex G): updates the zigzag-order
    * coefficient store for the scan's band [ss..se] at successive-
    * approximation bit `al` (first pass when `ah == 0`, refinement
    * otherwise) and returns the byte position after the scan's
    * entropy data. DC scans (ss == 0) may interleave components in
    * MCU order; AC scans are single-component in block raster order
    * over the component's own (non-MCU-padded) block grid. Restart
    * markers reset DC predictors and the EOB run, counting MCUs in
    * interleaved scans and blocks otherwise. */
  private def decodeProgressiveScan(bytes: Array[Byte], start: Int,
      comps: Array[Component], scanCompIdx: Array[Int],
      coefs: Array[Array[Int]], dcTables: Array[DecTable],
      acTables: Array[DecTable], width: Int, height: Int,
      ss: Int, se: Int, ah: Int, al: Int,
      restartInterval: Int): Int = {
    require(ss >= 0 && se <= 63 && ss <= se, s"jpeg: bad band $ss..$se")
    require(al >= 0 && al <= 13 && (ah == 0 || ah == al + 1),
      s"jpeg: bad successive approximation $ah/$al")
    val dcScan = ss == 0
    require(!dcScan || se == 0,
      "jpeg: DC scan must have se = 0 (no mixed DC/AC bands)")
    require(dcScan || scanCompIdx.length == 1,
      "jpeg: AC progressive scans are single-component")
    val hmax = comps.map(_.h).max
    val vmax = comps.map(_.v).max
    val mcusX = (width + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (height + 8 * vmax - 1) / (8 * vmax)
    val in = new BitReader(bytes, start)
    val pred = new Array[Int](scanCompIdx.length)
    var eobrun = 0
    var unit = 0 // restart-interval counter (MCUs or blocks)

    def restartBoundary(): Unit =
      if (restartInterval > 0 && unit > 0 && unit % restartInterval == 0) {
        in.align()
        require(in.pos + 1 < bytes.length, "jpeg: truncated at restart")
        val b0 = bytes(in.pos) & 0xFF
        val b1 = bytes(in.pos + 1) & 0xFF
        val expect = 0xD0 + ((unit / restartInterval - 1) % 8)
        require(b0 == 0xFF && b1 == expect,
          f"jpeg: expected RST 0xFF$expect%02x, got 0x$b0%02x$b1%02x")
        in.pos += 2
        java.util.Arrays.fill(pred, 0)
        eobrun = 0
      }

    /** DC first pass / refinement for one block (zigzag slot 0). */
    def dcBlock(si: Int, block: Array[Int], off: Int): Unit =
      if (ah == 0) {
        val t = dcTables(comps(scanCompIdx(si)).dcTable)
        require(t != null, "jpeg: missing DC Huffman table")
        val cat = t.decode(in)
        require(cat <= 13 + al, "jpeg: DC category overflow")
        val diff = if (cat == 0) 0 else extend(in.bits(cat), cat)
        pred(si) += diff
        block(off) = pred(si) << al
      } else {
        if (in.bit() == 1) block(off) |= 1 << al
      }

    /** AC first pass for one block's band (G.1.2.2). */
    def acFirst(acT: DecTable, block: Array[Int], off: Int): Unit = {
      if (eobrun > 0) { eobrun -= 1; return }
      var k = ss
      while (k <= se) {
        val rs = acT.decode(in)
        val r = rs >> 4
        val s = rs & 0xF
        if (s == 0) {
          if (r == 15) k += 16 // ZRL
          else {
            eobrun = (1 << r) - 1
            if (r > 0) eobrun += in.bits(r)
            return
          }
        } else {
          k += r
          require(k <= se, "jpeg: AC index beyond band")
          block(off + k) = extend(in.bits(s), s) << al
          k += 1
        }
      }
    }

    /** AC refinement for one block's band (G.1.2.3): correction bits
      * on already-nonzero coefficients, new ±1<<al insertions, EOB
      * runs that still carry correction bits while they skip. */
    def acRefine(acT: DecTable, block: Array[Int], off: Int): Unit = {
      val p1 = 1 << al
      val m1 = -1 << al
      var k = ss
      if (eobrun == 0) {
        var inBand = true
        while (inBand && k <= se) {
          val rs = acT.decode(in)
          var r = rs >> 4
          val s = rs & 0xF
          var newVal = 0
          if (s == 0) {
            if (r < 15) {
              // unlike the first pass, the run INCLUDES this block:
              // the correction section below decrements it
              eobrun = 1 << r
              if (r > 0) eobrun += in.bits(r)
              inBand = false // fall through to the EOB correction loop
            }
            // r == 15: ZRL — skip 16 zero-history coefficients,
            // correcting nonzero ones along the way (newVal stays 0)
          } else {
            require(s == 1, "jpeg: refinement magnitude must be 1")
            newVal = if (in.bit() == 1) p1 else m1
          }
          if (inBand) {
            // advance over r zero-history slots (plus corrections)
            var placed = false
            while (!placed && k <= se) {
              if (block(off + k) != 0) {
                if (in.bit() == 1 && (block(off + k) & p1) == 0)
                  block(off + k) += (if (block(off + k) >= 0) p1 else m1)
              } else {
                if (r == 0) {
                  if (newVal != 0) block(off + k) = newVal
                  placed = true
                } else r -= 1
              }
              k += 1
            }
            require(placed || newVal == 0,
              "jpeg: refinement coefficient beyond band")
          }
        }
      }
      if (eobrun > 0) {
        // inside an EOB run: only correction bits to the band end
        while (k <= se) {
          if (block(off + k) != 0) {
            if (in.bit() == 1 && (block(off + k) & p1) == 0)
              block(off + k) += (if (block(off + k) >= 0) p1 else m1)
          }
          k += 1
        }
        eobrun -= 1
      }
    }

    if (dcScan && scanCompIdx.length > 1) {
      // interleaved DC scan: MCU order over every component's h×v
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          restartBoundary()
          var si = 0
          while (si < scanCompIdx.length) {
            val ci = scanCompIdx(si)
            val c = comps(ci)
            val bw = mcusX * c.h
            var by = 0
            while (by < c.v) {
              var bx = 0
              while (bx < c.h) {
                val b = (my * c.v + by) * bw + (mx * c.h + bx)
                dcBlock(si, coefs(ci), b * 64)
                bx += 1
              }
              by += 1
            }
            si += 1
          }
          unit += 1
          mx += 1
        }
        my += 1
      }
    } else {
      // single-component scan (any DC band, every AC band): block
      // raster order over the component's own block grid — note this
      // is the CEIL(component dims / 8) grid, smaller than the
      // MCU-padded store for subsampled components
      val ci = scanCompIdx(0)
      val c = comps(ci)
      val bw = mcusX * c.h
      val compW = (width * c.h + hmax - 1) / hmax
      val compH = (height * c.v + vmax - 1) / vmax
      val niW = (compW + 7) / 8
      val niH = (compH + 7) / 8
      val acT =
        if (dcScan) null
        else {
          val t = acTables(c.acTable)
          require(t != null, "jpeg: missing AC Huffman table")
          t
        }
      var by = 0
      while (by < niH) {
        var bx = 0
        while (bx < niW) {
          restartBoundary()
          val off = (by * bw + bx) * 64
          if (dcScan) dcBlock(0, coefs(ci), off)
          else if (ah == 0) acFirst(acT, coefs(ci), off)
          else acRefine(acT, coefs(ci), off)
          unit += 1
          bx += 1
        }
        by += 1
      }
    }
    in.align()
    in.pos
  }

  /** Dequantize + inverse-transform the accumulated progressive
    * coefficient store into the decoded image (same padded-plane,
    * replication-upsample, crop pipeline as the baseline scan). */
  private def finishProgressive(comps: Array[Component],
      coefs: Array[Array[Int]], qtables: Array[Array[Int]],
      width: Int, height: Int): JpegImage = {
    val hmax = comps.map(_.h).max
    val vmax = comps.map(_.v).max
    val mcusX = (width + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (height + 8 * vmax - 1) / (8 * vmax)
    val planeW = comps.map(c => mcusX * c.h * 8)
    val planes = comps.indices.map(i =>
      new Array[Int](planeW(i) * mcusY * comps(i).v * 8)).toArray
    val c64 = new Array[Int](64)
    var ci = 0
    while (ci < comps.length) {
      val c = comps(ci)
      val q = qtables(c.tq)
      require(q != null, "jpeg: missing quantization table")
      val bw = mcusX * c.h
      val bh = mcusY * c.v
      val store = coefs(ci)
      val pw = planeW(ci)
      var b = 0
      while (b < bw * bh) {
        var k = 0
        while (k < 64) {
          c64(Zigzag(k)) = store(b * 64 + k) * q(Zigzag(k))
          k += 1
        }
        val px = idct(c64)
        val ox = (b % bw) * 8
        val oy = (b / bw) * 8
        var yy = 0
        while (yy < 8) {
          var xx = 0
          while (xx < 8) {
            planes(ci)((oy + yy) * pw + ox + xx) =
              clamp8(math.round(px(yy * 8 + xx) + 128.0).toInt)
            xx += 1
          }
          yy += 1
        }
        b += 1
      }
      ci += 1
    }
    def fullPlane(ci: Int): Array[Int] = {
      val c = comps(ci)
      val out = new Array[Int](width * height)
      val pw = planeW(ci)
      var y = 0
      while (y < height) {
        val sy = y * c.v / vmax
        var x = 0
        while (x < width) {
          val sx = x * c.h / hmax
          out(y * width + x) = planes(ci)(sy * pw + sx)
          x += 1
        }
        y += 1
      }
      out
    }
    if (comps.length == 1)
      JpegImage(width, height, fullPlane(0),
        Array.fill(width * height)(128), Array.fill(width * height)(128))
    else
      JpegImage(width, height, fullPlane(0), fullPlane(1), fullPlane(2))
  }

  /** Sign-extend `v` read as a `cat`-bit magnitude (T.81 F.2.2.1). */
  private def extend(v: Int, cat: Int): Int =
    if (v < (1 << (cat - 1))) v - (1 << cat) + 1 else v
}
