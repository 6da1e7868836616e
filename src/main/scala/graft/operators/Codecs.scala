package graft.operators

/** REAL pure-JVM media codecs for the multimodal column (SURVEY §2.11).
  *
  * The container has no image/audio libraries, so earlier rounds
  * shipped the multimodal family with a documented stub codec. These
  * two formats need no library — they are fixed-layout byte formats
  * decodable with plain arithmetic — so for them the codec body is no
  * longer a stub:
  *
  *  - BMP (BITMAPINFOHEADER, 24-bit uncompressed): bottom-up rows,
  *    4-byte row padding, BGR pixel order.
  *  - WAV (RIFF/PCM, 16-bit little-endian mono).
  *
  * Encode exists so the fixture can synthesize deterministic media
  * payloads; decode parses the actual bytes back (header fields, pixel
  *  grid, PCM samples). The cross-engine oracle story: the synthetic
  * payloads are generated from closed-form integer formulas of
  * (doc_id, x, y) / (doc_id, i), so DuckDB can recompute the expected
  * decoded features without parsing bytes — any drift between the
  * encoder, the decoder, and the declared features breaks the driver
  * hash. Resize/frame-sample operate on DECODED data and re-encode,
  * so the round-trip exercises both directions.
  */
object Codecs {

  // ---------------------------------------------------------------- BMP

  final case class Bmp(width: Int, height: Int,
      /** pixels(y)(x) = (r,g,b), y=0 is the TOP row */
      pixels: Array[Array[(Int, Int, Int)]])

  def rowStride(width: Int): Int = ((width * 3 + 3) / 4) * 4

  def encodeBmp(img: Bmp): Array[Byte] = {
    val stride = rowStride(img.width)
    val dataSize = stride * img.height
    val out = new Array[Byte](54 + dataSize)
    out(0) = 'B'; out(1) = 'M'
    Bin.put32le(out, 2, out.length); Bin.put32le(out, 10, 54)
    Bin.put32le(out, 14, 40)
    Bin.put32le(out, 18, img.width); Bin.put32le(out, 22, img.height)
    Bin.put16le(out, 26, 1); Bin.put16le(out, 28, 24)
    Bin.put32le(out, 34, dataSize)
    var y = 0
    while (y < img.height) {
      // BMP stores rows bottom-up
      val fileRow = img.height - 1 - y
      var x = 0
      while (x < img.width) {
        val (r, g, b) = img.pixels(y)(x)
        val o = 54 + fileRow * stride + x * 3
        out(o) = b.toByte; out(o + 1) = g.toByte; out(o + 2) = r.toByte
        x += 1
      }
      y += 1
    }
    out
  }

  def decodeBmp(bytes: Array[Byte]): Bmp = {
    require(bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M',
      "not a BMP payload")
    require(Bin.u16le(bytes, 28, bytes.length, "bmp") == 24 &&
      Bin.u32le(bytes, 30, bytes.length, "bmp").toInt == 0,
      "only 24bpp uncompressed BMP supported")
    val off = Bin.u32le(bytes, 10, bytes.length, "bmp").toInt
    val width = Bin.u32le(bytes, 18, bytes.length, "bmp").toInt
    val height = Bin.u32le(bytes, 22, bytes.length, "bmp").toInt
    // biHeight < 0 means a top-down DIB — reject explicitly rather than
    // let the row math throw NegativeArraySize on non-synthetic input.
    require(width > 0 && height > 0, "only bottom-up (height>0) BMP supported")
    // Long stride: an Int rowStride overflows (negative) at width ≥ 2^29
    // and would make the truncation check below trivially pass, turning
    // a hostile header into an OOM instead of this error.
    val strideL = (width.toLong * 3 + 3) / 4 * 4
    require(off >= 54, "truncated BMP payload")
    Bin.checkRange(off.toLong, height.toLong * strideL, bytes.length,
      "truncated BMP payload")
    val stride = strideL.toInt
    val px = Array.ofDim[(Int, Int, Int)](height, width)
    var y = 0
    while (y < height) {
      val fileRow = height - 1 - y
      var x = 0
      while (x < width) {
        val o = off + fileRow * stride + x * 3
        px(y)(x) = (bytes(o + 2) & 0xff, bytes(o + 1) & 0xff, bytes(o) & 0xff)
        x += 1
      }
      y += 1
    }
    Bmp(width, height, px)
  }

  /** Nearest-neighbor resample on decoded pixels: src = floor(dst * srcDim / dstDim). */
  def resizeNearest(img: Bmp, w2: Int, h2: Int): Bmp = {
    val px = Array.ofDim[(Int, Int, Int)](h2, w2)
    var y = 0
    while (y < h2) {
      val sy = y * img.height / h2
      var x = 0
      while (x < w2) { px(y)(x) = img.pixels(sy)(x * img.width / w2); x += 1 }
      y += 1
    }
    Bmp(w2, h2, px)
  }

  // ---------------------------------------------------------------- WAV

  final case class Wav(sampleRate: Int, samples: Array[Int])

  def encodeWavPcm16(w: Wav): Array[Byte] = {
    val dataSize = w.samples.length * 2
    val out = new Array[Byte](44 + dataSize)
    out(0) = 'R'; out(1) = 'I'; out(2) = 'F'; out(3) = 'F'
    Bin.put32le(out, 4, 36 + dataSize)
    out(8) = 'W'; out(9) = 'A'; out(10) = 'V'; out(11) = 'E'
    out(12) = 'f'; out(13) = 'm'; out(14) = 't'; out(15) = ' '
    Bin.put32le(out, 16, 16); Bin.put16le(out, 20, 1); Bin.put16le(out, 22, 1)
    Bin.put32le(out, 24, w.sampleRate); Bin.put32le(out, 28, w.sampleRate * 2)
    Bin.put16le(out, 32, 2); Bin.put16le(out, 34, 16)
    out(36) = 'd'; out(37) = 'a'; out(38) = 't'; out(39) = 'a'
    Bin.put32le(out, 40, dataSize)
    var i = 0
    while (i < w.samples.length) {
      Bin.put16le(out, 44 + i * 2, w.samples(i)); i += 1
    }
    out
  }

  def decodeWav(bytes: Array[Byte]): Wav = {
    require(bytes.length >= 44 && bytes(0) == 'R' && bytes(8) == 'W',
      "not a WAV payload")
    require(Bin.u16le(bytes, 20, bytes.length, "wav") == 1 &&
      Bin.u16le(bytes, 22, bytes.length, "wav") == 1 &&
      Bin.u16le(bytes, 34, bytes.length, "wav") == 16,
      "only PCM16 mono supported")
    // Canonical 44-byte layout only: the 'data' chunk tag must sit at
    // offset 36 and its declared size must fit the payload — otherwise
    // a non-canonical or truncated file would misparse garbage samples
    // or throw a raw index error instead of this message.
    require(bytes(36) == 'd' && bytes(37) == 'a' &&
      bytes(38) == 't' && bytes(39) == 'a', "not a canonical 44-byte WAV")
    val sampleRate = Bin.u32le(bytes, 24, bytes.length, "wav").toInt
    val dataSize = Bin.u32le(bytes, 40, bytes.length, "wav").toInt
    require(dataSize >= 0, "truncated WAV payload")
    Bin.checkRange(44L, dataSize, bytes.length, "truncated WAV payload")
    val n = dataSize / 2
    val s = new Array[Int](n)
    var i = 0
    while (i < n) {
      val v = Bin.u16le(bytes, 44 + i * 2, bytes.length, "wav")
      s(i) = if (v >= 0x8000) v - 0x10000 else v // sign-extend i16le
      i += 1
    }
    Wav(sampleRate, s)
  }

  // ---------------------------------------------------------------- PNG
  //
  // PNG needs no external library either: the JVM ships the only
  // nontrivial piece (zlib, via operators/Deflate); the
  // rest is chunk framing (length/type/data/CRC32), big-endian header
  // arithmetic, and the five per-row byte filters
  // (None/Sub/Up/Average/Paeth). Scope: 8-bit truecolor (color type
  // 2), GRAYSCALE (0), and PALETTE (3, PLTE-indexed — r14; palette
  // and gray rows filter at bpp=1, a genuinely different Sub/Paeth
  // offset), sequential AND Adam7-interlaced (r14 — 7 passes with
  // per-pass filter restart, the progressive-render layout real web
  // PNGs use).
  // Baseline AND progressive JPEG are also real (see the JPEG section
  // below); MP4 sample decode remains behind the documented stub
  // boundary.

  private val pngSig: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)

  private def pngChunk(out: java.io.ByteArrayOutputStream,
      typ: String, data: Array[Byte]): Unit = {
    out.write(Bin.be32(data.length))
    val tb = typ.getBytes("US-ASCII")
    out.write(tb); out.write(data)
    val crc = new java.util.zip.CRC32()
    crc.update(tb); crc.update(data)
    out.write(Bin.be32(crc.getValue))
  }

  /** a = left, b = up, c = upper-left (PNG spec §9, exact tie-break
    * order: a, then b, then c). */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Adam7 pass geometry (PNG spec §8.2): (x0, y0, dx, dy) per pass.
    * A pass with no in-bounds pixels contributes NO scanlines (not
    * even filter bytes); filtering restarts at each pass boundary. */
  private val Adam7: Array[(Int, Int, Int, Int)] = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  private def pngPasses(interlaced: Boolean): Seq[(Int, Int, Int, Int)] =
    if (interlaced) Adam7.toSeq else Seq((0, 0, 1, 1))

  /** Encode as 8-bit PNG — truecolor (colorType 2, the default),
    * GRAYSCALE (0: every pixel must already satisfy r==g==b; one byte
    * per pixel), or PALETTE (3: distinct colors indexed through a
    * PLTE chunk in first-occurrence row-major order; requires ≤256
    * distinct colors) — sequential or Adam7 interlaced. `filterOf(y)`
    * picks the per-row filter type (0-4); the default cycles through
    * all five so every synthesized payload exercises every unfilter
    * path (per PASS when interlaced — filtering restarts at each
    * pass, per spec). Palette and grayscale rows filter at bpp = 1,
    * so the Sub/Paeth left-pixel offset differs from truecolor — a
    * real decoder divergence the round-trip specs pin. */
  def encodePng(img: Bmp, filterOf: Int => Int = _ % 5,
      interlaced: Boolean = false, colorType: Int = 2): Array[Byte] = {
    require(colorType == 0 || colorType == 2 || colorType == 3,
      s"unsupported PNG color type $colorType")
    val w = img.width; val h = img.height
    val bpp = if (colorType == 2) 3 else 1
    // palette in first-occurrence row-major order (decode maps back,
    // so pixel values are palette-order-invariant)
    val palette: IndexedSeq[(Int, Int, Int)] =
      if (colorType != 3) IndexedSeq.empty
      else {
        val seen = scala.collection.mutable.LinkedHashSet[(Int, Int, Int)]()
        img.pixels.foreach(row => row.foreach(seen += _))
        require(seen.size <= 256,
          s"palette PNG needs ≤256 distinct colors, image has ${seen.size}")
        seen.toIndexedSeq
      }
    val palIdx: Map[(Int, Int, Int), Int] = palette.zipWithIndex.toMap
    val rawOut = new java.io.ByteArrayOutputStream(h * (1 + w * bpp))
    pngPasses(interlaced).foreach { case (x0, y0, dx, dy) =>
      val pw = if (w > x0) (w - x0 + dx - 1) / dx else 0
      val ph = if (h > y0) (h - y0 + dy - 1) / dy else 0
      if (pw > 0 && ph > 0) {
        val rowLen = pw * bpp
        var prior: Array[Byte] = null
        var r = 0
        while (r < ph) {
          val cur = new Array[Byte](rowLen)
          var c = 0
          while (c < pw) {
            val px @ (rr, gg, bb) = img.pixels(y0 + r * dy)(x0 + c * dx)
            colorType match {
              case 2 =>
                cur(c * 3) = rr.toByte; cur(c * 3 + 1) = gg.toByte
                cur(c * 3 + 2) = bb.toByte
              case 0 =>
                require(rr == gg && gg == bb,
                  s"grayscale PNG needs r==g==b, got ($rr,$gg,$bb)")
                cur(c) = rr.toByte
              case _ =>
                cur(c) = palIdx(px).toByte
            }
            c += 1
          }
          val f = filterOf(r)
          require(f >= 0 && f <= 4, s"bad PNG filter type $f")
          rawOut.write(f)
          var i = 0
          while (i < rowLen) {
            val left = if (i >= bpp) cur(i - bpp) & 0xff else 0
            val up = if (prior != null) prior(i) & 0xff else 0
            val ul = if (prior != null && i >= bpp) prior(i - bpp) & 0xff else 0
            val pred = f match {
              case 0 => 0
              case 1 => left
              case 2 => up
              case 3 => (left + up) / 2
              case 4 => paeth(left, up, ul)
            }
            rawOut.write(((cur(i) & 0xff) - pred) & 0xff)
            i += 1
          }
          prior = cur
          r += 1
        }
      }
    }
    val idat = Deflate.deflate(rawOut.toByteArray, raw = false)
    val out = new java.io.ByteArrayOutputStream()
    out.write(pngSig)
    val ihdr = new Array[Byte](13)
    Bin.put32be(ihdr, 0, w); Bin.put32be(ihdr, 4, h)
    ihdr(8) = 8; ihdr(9) = colorType.toByte; ihdr(10) = 0; ihdr(11) = 0
    ihdr(12) = if (interlaced) 1 else 0
    pngChunk(out, "IHDR", ihdr)
    if (colorType == 3) {
      val plte = new Array[Byte](palette.size * 3)
      palette.zipWithIndex.foreach { case ((rr, gg, bb), i) =>
        plte(i * 3) = rr.toByte; plte(i * 3 + 1) = gg.toByte
        plte(i * 3 + 2) = bb.toByte
      }
      pngChunk(out, "PLTE", plte)
    }
    pngChunk(out, "IDAT", idat)
    pngChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Parse the chunk stream, inflate IDAT, undo per-row filters —
    * sequential AND Adam7-interlaced layouts (7 passes, per-pass
    * filter restart, empty passes contributing zero scanlines).
    * Validates signature, per-chunk CRC32, and the IHDR layout fields,
    * failing loudly on anything outside 8-bit RGB. */
  def decodePng(bytes: Array[Byte]): Bmp = {
    require(bytes.length >= 8 + 25 && pngSig.indices.forall(i => bytes(i) == pngSig(i)),
      "not a PNG payload")
    var off = 8
    var w = -1; var h = -1
    var colorType = -1
    var interlace = 0
    var palette: Array[(Int, Int, Int)] = null
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done) {
      require(off + 8 <= bytes.length, "truncated PNG chunk header")
      val len = Bin.u32be(bytes, off, bytes.length, "png").toInt
      require(len >= 0, "truncated PNG chunk")
      Bin.checkRange(off + 12L, len, bytes.length, "truncated PNG chunk")
      val typ = new String(bytes, off + 4, 4, "US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(bytes, off + 4, 4 + len)
      require(crc.getValue.toInt == Bin.u32be(bytes, off + 8 + len, bytes.length,
        "png").toInt,
        s"PNG chunk CRC mismatch in $typ")
      typ match {
        case "IHDR" =>
          require(len == 13, "bad IHDR length")
          w = Bin.u32be(bytes, off + 8, bytes.length, "png").toInt
          h = Bin.u32be(bytes, off + 12, bytes.length, "png").toInt
          require(w > 0 && h > 0, "bad PNG dimensions")
          colorType = bytes(off + 17) & 0xff
          require(bytes(off + 16) == 8 &&
            (colorType == 0 || colorType == 2 || colorType == 3),
            "only 8-bit grayscale (0) / truecolor (2) / palette (3) " +
              "PNG supported")
          require(bytes(off + 18) == 0 && bytes(off + 19) == 0,
            "only deflate/adaptive-filter PNG supported")
          interlace = bytes(off + 20) & 0xff
          require(interlace == 0 || interlace == 1,
            s"bad PNG interlace method $interlace")
        case "PLTE" =>
          // forbidden for grayscale (spec §11.2.3); a legal-but-unused
          // quantization hint for truecolor; REQUIRED for palette.
          // Spec §5.6 also pins chunk order: IHDR first, one PLTE max.
          require(colorType >= 0, "PLTE chunk before IHDR")
          require(palette == null, "duplicate PLTE chunk")
          require(colorType != 0, "PLTE chunk in a grayscale PNG")
          require(len > 0 && len % 3 == 0 && len <= 256 * 3,
            s"bad PLTE length $len")
          require(idat.size() == 0, "PLTE after IDAT")
          if (colorType == 3)
            palette = Array.tabulate(len / 3)(i =>
              (bytes(off + 8 + i * 3) & 0xff,
                bytes(off + 8 + i * 3 + 1) & 0xff,
                bytes(off + 8 + i * 3 + 2) & 0xff))
        case "IDAT" => idat.write(bytes, off + 8, len)
        case "IEND" => done = true
        case _ => () // ancillary chunks (tEXt, pHYs, ...) are skippable
      }
      off += 12 + len
    }
    require(w > 0, "PNG missing IHDR")
    require(colorType != 3 || palette != null,
      "palette PNG missing its PLTE chunk")
    val bpp = if (colorType == 2) 3 else 1
    val passes = pngPasses(interlace == 1)
    def passDims(p: (Int, Int, Int, Int)): (Int, Int) = {
      val (x0, y0, dx, dy) = p
      (if (w > x0) (w - x0 + dx - 1) / dx else 0,
        if (h > y0) (h - y0 + dy - 1) / dy else 0)
    }
    // Bound the decoded size BEFORE allocating: hostile dimensions would
    // otherwise overflow the Int row math (NegativeArraySize) or OOM —
    // the same class decodeBmp guards against. 1 GiB of raw scanlines
    // is far beyond any payload this codec's scope handles.
    val rawLenL = passes.map { p =>
      val (pw, ph) = passDims(p)
      if (pw > 0 && ph > 0) ph.toLong * (1L + pw.toLong * bpp) else 0L
    }.sum
    require(rawLenL <= (1L << 30), s"PNG dimensions ${w}x$h too large")
    val rawLen = rawLenL.toInt
    val raw = Deflate.inflate(idat.toByteArray, 0, idat.size, raw = false,
      "PNG IDAT", cap = rawLen)
    require(raw.length == rawLen,
      s"PNG IDAT inflated to ${raw.length} of $rawLen bytes")
    val px = Array.ofDim[(Int, Int, Int)](h, w)
    var base = 0
    passes.foreach { case p @ (x0, y0, dx, dy) =>
      val (pw, ph) = passDims(p)
      if (pw > 0 && ph > 0) {
        val rowLen = pw * bpp
        var prior: Array[Byte] = null
        var r = 0
        while (r < ph) {
          val f = raw(base) & 0xff
          require(f <= 4, s"bad PNG filter type $f in pass row $r")
          val cur = new Array[Byte](rowLen)
          var i = 0
          while (i < rowLen) {
            val left = if (i >= bpp) cur(i - bpp) & 0xff else 0
            val up = if (prior != null) prior(i) & 0xff else 0
            val ul = if (prior != null && i >= bpp) prior(i - bpp) & 0xff
              else 0
            val pred = f match {
              case 0 => 0
              case 1 => left
              case 2 => up
              case 3 => (left + up) / 2
              case 4 => paeth(left, up, ul)
            }
            cur(i) = (((raw(base + 1 + i) & 0xff) + pred) & 0xff).toByte
            i += 1
          }
          var c = 0
          while (c < pw) {
            px(y0 + r * dy)(x0 + c * dx) = colorType match {
              case 2 =>
                (cur(c * 3) & 0xff, cur(c * 3 + 1) & 0xff,
                  cur(c * 3 + 2) & 0xff)
              case 0 =>
                val v = cur(c) & 0xff
                (v, v, v)
              case _ =>
                val idx = cur(c) & 0xff
                require(idx < palette.length,
                  s"palette index $idx outside the ${palette.length}-entry PLTE")
                palette(idx)
            }
            c += 1
          }
          prior = cur
          base += 1 + rowLen
          r += 1
        }
      }
    }
    Bmp(w, h, px)
  }

  // ------------------------------------------- JPEG (baseline sequential)
  //
  // Full JPEG decode needs no external library either: Huffman entropy
  // decode, dequantize, de-zigzag, IDCT, chroma upsampling, and the
  // YCbCr→RGB transform are plain arithmetic. Scope: 8-bit BASELINE
  // (SOF0/SOF1) and PROGRESSIVE (SOF2, round 10 — DC/AC successive
  // approximation, EOB runs, multi-scan coefficient accumulation);
  // grayscale, 4:4:4 (1x1 sampling), or 4:2:0 (luma 2x2 — the
  // real-world color default); other samplings (4:2:2/4:1:1) and
  // arithmetic-coded streams are rejected loudly; MP4 sample decode
  // stays behind the documented stub boundary.
  //
  // Cross-engine exactness design (what gives full-pixel decode a DuckDB
  // oracle despite JPEG being lossy):
  //  - the color transform is FIXED-POINT INTEGER (libjpeg-style):
  //    3/6-decimal scaled constants, round-half-up via nonneg-shifted
  //    integer division — bit-identical in Spark and in oracle SQL, with
  //    no decimal-vs-double literal divergence.
  //  - synthesized fixtures are 8x8-BLOCK-CONSTANT images with unit
  //    quant tables: a flat block has only a DC coefficient (AC sums
  //    cancel; float residue ~1e-13 rounds to 0 deterministically), and
  //    the DC path round-trips exactly (DC = 8·(v−128) is an exact
  //    integer, IDCT recovers v), so decode is LOSSLESS on these inputs.
  // Arbitrary images take the normal lossy path; CodecsSpec pins those
  // against the JDK's independent ImageIO decoder.

  private val zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  private val cosT: Array[Array[Double]] =
    Array.tabulate(8, 8)((x, u) => math.cos((2 * x + 1) * u * math.Pi / 16))
  private val invSqrt2 = 1.0 / math.sqrt(2.0)

  /** Unit tables: quantization is lossless — the oracle-fixture choice. */
  val jpegUnitQuant: Array[Int] = Array.fill(64)(1)
  /** A mild real quantizer for the lossy spec path (any valid table
    * works; this one just grows with frequency). */
  val jpegLossyQuant: Array[Int] =
    Array.tabulate(64)(i => 1 + 2 * (i % 8) + 2 * (i / 8))

  private def clamp255(v: Long): Int =
    if (v < 0) 0 else if (v > 255) 255 else v.toInt
  /** round-half-up of x/1000 for possibly-negative x, as the SAME
    * nonneg-shifted floor division the oracle SQL uses. */
  private def rdiv1000(x: Long): Long = (x + 500 + 512000) / 1000 - 512

  /** Fixed-point RGB→YCbCr (forward constants scaled ×10^6; inputs are
    * nonneg so plain integer division is floor and +half is half-up). */
  def rgbToYcc(r: Int, g: Int, b: Int): (Int, Int, Int) = (
    ((299L * r + 587L * g + 114L * b + 500L) / 1000L).toInt,
    clamp255((128000000L - 168736L * r - 331264L * g + 500000L * b
      + 500000L) / 1000000L),
    clamp255((128000000L + 500000L * r - 418688L * g - 81312L * b
      + 500000L) / 1000000L))

  /** Fixed-point YCbCr→RGB (inverse constants scaled ×10^3). */
  def yccToRgb(y: Int, cb: Int, cr: Int): (Int, Int, Int) = (
    clamp255(rdiv1000(1000L * y + 1402L * (cr - 128))),
    clamp255(rdiv1000(1000L * y - 344L * (cb - 128) - 714L * (cr - 128))),
    clamp255(rdiv1000(1000L * y + 1772L * (cb - 128))))

  /** DC/AC magnitude category + the extra-bits encoding of v. */
  private def category(v: Int): (Int, Int) = {
    if (v == 0) return (0, 0)
    val t = 32 - Integer.numberOfLeadingZeros(math.abs(v))
    (t, if (v < 0) v + (1 << t) - 1 else v)
  }

  private def extendBits(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0; private var n = 0
    def put(v: Int, bits: Int): Unit = {
      var i = bits - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1); n += 1
        if (n == 8) {
          out.write(acc)
          if (acc == 0xff) out.write(0x00) // byte stuffing
          acc = 0; n = 0
        }
        i -= 1
      }
    }
    /** pad to byte boundary with 1-bits (spec padding before markers) */
    def flush(): Unit = if (n > 0) put((1 << (8 - n)) - 1, 8 - n)
  }

  private final class BitReader(val bytes: Array[Byte], var pos: Int) {
    private var acc = 0; private var n = 0
    def readBit(): Int = {
      if (n == 0) {
        require(pos < bytes.length, "truncated JPEG entropy stream")
        val b = bytes(pos) & 0xff; pos += 1
        if (b == 0xff) {
          require(pos < bytes.length, "truncated JPEG entropy stream")
          val m = bytes(pos) & 0xff
          require(m == 0x00,
            f"unexpected JPEG marker 0xff$m%02x inside entropy data")
          pos += 1
        }
        acc = b; n = 8
      }
      n -= 1
      (acc >> n) & 1
    }
    def receive(t: Int): Int = {
      var v = 0; var i = 0
      while (i < t) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    /** discard pad bits, then require the next bytes to be RSTm. */
    def expectRestart(m: Int): Unit = {
      n = 0
      require(pos + 2 <= bytes.length, "truncated JPEG at restart marker")
      require((bytes(pos) & 0xff) == 0xff &&
        (bytes(pos + 1) & 0xff) == 0xd0 + m, s"missing JPEG restart RST$m")
      pos += 2
    }
    def align(): Unit = n = 0
  }

  /** Canonical Huffman decoder (JPEG Annex C mincode/maxcode walk). */
  private final class HuffDec(bits: Array[Int], vals: Array[Int]) {
    private val minCode = new Array[Int](17)
    private val maxCode = Array.fill(17)(-1)
    private val valPtr = new Array[Int](17);
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        if (bits(l) > 0) {
          valPtr(l) = k; minCode(l) = code
          code += bits(l); k += bits(l)
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
    }
    def decode(br: BitReader): Int = {
      var code = br.readBit(); var l = 1
      while (code > maxCode(l) || maxCode(l) < 0) {
        l += 1
        require(l <= 16, "invalid JPEG Huffman code")
        code = (code << 1) | br.readBit()
      }
      vals(valPtr(l) + code - minCode(l))
    }
  }

  /** OPTIMAL length-limited canonical Huffman table from symbol
    * frequencies — the T.81 Annex K.2 procedure every real encoder
    * runs: pairwise least-frequency merges accumulate code sizes
    * through an `others` chain, the size histogram is folded down to
    * the 16-bit limit (K.3 pair-move adjustment), and a frequency-1
    * pseudo-symbol reserves the ALL-ONES code point (dropped as the
    * longest code afterwards) so 1-padding before markers can never
    * alias a symbol. Output tables have genuinely variable code
    * lengths, so the decoder's Annex-C mincode/maxcode walk is
    * exercised across lengths by our own fixtures, not only by
    * third-party streams. */
  private def optimalTable(freqIn: collection.Map[Int, Long])
      : (Array[Int], Array[Int], Map[Int, (Int, Int)]) = {
    val freq = new Array[Long](257)
    freqIn.foreach { case (s, f) => freq(s) = f }
    freq(256) = 1 // reserved: claims the all-ones code
    val codesize = new Array[Int](257)
    val others = Array.fill(257)(-1)
    var done = false
    while (!done) {
      // v1 = least-frequency symbol (ties -> larger index, per spec),
      // v2 = next least excluding v1
      var v1 = -1; var v2 = -1
      var i = 0
      while (i <= 256) {
        if (freq(i) > 0) {
          if (v1 < 0 || freq(i) < freq(v1) ||
            (freq(i) == freq(v1) && i > v1)) v1 = i
        }
        i += 1
      }
      i = 0
      while (i <= 256) {
        if (freq(i) > 0 && i != v1) {
          if (v2 < 0 || freq(i) < freq(v2) ||
            (freq(i) == freq(v2) && i > v2)) v2 = i
        }
        i += 1
      }
      if (v2 < 0) done = true
      else {
        freq(v1) += freq(v2); freq(v2) = 0
        codesize(v1) += 1
        var p = v1
        while (others(p) >= 0) { p = others(p); codesize(p) += 1 }
        others(p) = v2
        codesize(v2) += 1
        p = v2
        while (others(p) >= 0) { p = others(p); codesize(p) += 1 }
      }
    }
    // size histogram (code sizes can reach 57 before limiting)
    val hist = new Array[Int](64)
    (0 to 256).foreach(i => if (codesize(i) > 0) hist(codesize(i)) += 1)
    // K.3: fold sizes > 16 down — remove a pair at length i (one moves
    // to i-1, the pair's slot is paid for by splitting a shorter code)
    var i = 63
    while (i > 16) {
      while (hist(i) > 0) {
        var j = i - 2
        while (hist(j) == 0) j -= 1
        hist(i) -= 2; hist(i - 1) += 1; hist(j + 1) += 2; hist(j) -= 1
      }
      i -= 1
    }
    // drop the reserved pseudo-symbol's (longest) code point
    var k = 16
    while (hist(k) == 0) k -= 1
    hist(k) -= 1
    // canonical assignment: real symbols sorted by (merge code size,
    // symbol), lengths dealt from the ADJUSTED histogram in order
    val syms = (0 until 256).filter(codesize(_) > 0)
      .sortBy(s => (codesize(s), s)).toArray
    val bits = new Array[Int](17)
    (1 to 16).foreach(l => bits(l) = hist(l))
    require(bits.sum == syms.length, "Huffman histogram/symbol mismatch")
    val enc = Map.newBuilder[Int, (Int, Int)]
    var code = 0; var si = 0
    var l = 1
    while (l <= 16) {
      var c = 0
      while (c < bits(l)) {
        enc += syms(si) -> (code, l)
        code += 1; si += 1; c += 1
      }
      code <<= 1
      l += 1
    }
    (bits, syms, enc.result())
  }

  private def getBlock(plane: Array[Int], w: Int, h: Int,
      bx: Int, by: Int): Array[Int] = {
    val blk = new Array[Int](64)
    var y = 0
    while (y < 8) {
      val sy = math.min(by * 8 + y, h - 1)
      var x = 0
      while (x < 8) {
        blk(y * 8 + x) = plane(sy * w + math.min(bx * 8 + x, w - 1))
        x += 1
      }
      y += 1
    }
    blk
  }

  private def fdctQuant(blk: Array[Int], quant: Array[Int]): Array[Int] = {
    val out = new Array[Int](64)
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            s += (blk(y * 8 + x) - 128) * cosT(x)(u) * cosT(y)(v)
            x += 1
          }
          y += 1
        }
        val cu = if (u == 0) invSqrt2 else 1.0
        val cv = if (v == 0) invSqrt2 else 1.0
        val f = 0.25 * cu * cv * s / quant(v * 8 + u)
        out(v * 8 + u) = math.floor(f + 0.5).toInt
        u += 1
      }
      v += 1
    }
    out
  }

  private def idct(coef: Array[Int]): Array[Int] = {
    val out = new Array[Int](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) {
          var u = 0
          while (u < 8) {
            val cu = if (u == 0) invSqrt2 else 1.0
            val cv = if (v == 0) invSqrt2 else 1.0
            s += cu * cv * coef(v * 8 + u) * cosT(x)(u) * cosT(y)(v)
            u += 1
          }
          v += 1
        }
        val p = math.floor(0.25 * s + 128.5).toInt
        out(y * 8 + x) = if (p < 0) 0 else if (p > 255) 255 else p
        x += 1
      }
      y += 1
    }
    out
  }

  /** Sampling factors for the five supported layouts. */
  private def jpegSampling(nComp: Int, subsample: Boolean,
      subsample422: Boolean, subsample411: Boolean = false,
      subsampleH1v2: Boolean = false): (Array[Int], Array[Int]) =
    if (subsample) (Array(2, 1, 1), Array(2, 1, 1))       // 4:2:0
    else if (subsample422) (Array(2, 1, 1), Array(1, 1, 1)) // 4:2:2
    else if (subsample411) (Array(4, 1, 1), Array(1, 1, 1)) // 4:1:1
    else if (subsampleH1v2) (Array(1, 1, 1), Array(2, 1, 1)) // h1v2
    else (Array.fill(nComp)(1), Array.fill(nComp)(1))     // 4:4:4 / gray

  /** Shared encoder front half: RGB→YCC planes at component
    * resolution, chroma box-downsampled by the per-component sampling
    * ratio (fx×fy box, replicated edges, round half-up). Returns
    * (compW, compH, planes). */
  private def jpegPlanes(img: Bmp, gray: Boolean,
      hs: Array[Int], vs: Array[Int])
      : (Array[Int], Array[Int], Array[Array[Int]]) = {
    val w = img.width; val h = img.height
    val nComp = if (gray) 1 else 3
    val hmax = hs(0); val vmax = vs(0)
    val full = Array.fill(nComp)(new Array[Int](w * h))
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r, g, b) = img.pixels(y)(x)
        if (gray) full(0)(y * w + x) = r
        else {
          val (yy, cb, cr) = rgbToYcc(r, g, b)
          full(0)(y * w + x) = yy
          full(1)(y * w + x) = cb
          full(2)(y * w + x) = cr
        }
        x += 1
      }
      y += 1
    }
    val compW = Array.tabulate(nComp)(c => (w * hs(c) + hmax - 1) / hmax)
    val compH = Array.tabulate(nComp)(c => (h * vs(c) + vmax - 1) / vmax)
    val planes = Array.tabulate(nComp) { c =>
      if (hs(c) == hmax && vs(c) == vmax) full(c)
      else {
        val fx = hmax / hs(c); val fy = vmax / vs(c)
        val cw = compW(c); val ch = compH(c)
        val p = new Array[Int](cw * ch)
        var cy = 0
        while (cy < ch) {
          var cx = 0
          while (cx < cw) {
            var sum = 0
            var dy = 0
            while (dy < fy) {
              var dx = 0
              while (dx < fx) {
                sum += full(c)(math.min(cy * fy + dy, h - 1) * w +
                  math.min(cx * fx + dx, w - 1))
                dx += 1
              }
              dy += 1
            }
            p(cy * cw + cx) = (sum + fx * fy / 2) / (fx * fy)
            cx += 1
          }
          cy += 1
        }
        p
      }
    }
    (compW, compH, planes)
  }

  /** Shared container-header emission for BOTH encoders: SOI, JFIF
    * APP0, DQTs, SOF (the marker byte is the only frame-type
    * difference), the DHT serialization of every built table, and an
    * optional DRI — one writer to fix, two frame types served. */
  private def writeJpegHeaders(out: java.io.ByteArrayOutputStream,
      sofMarker: Int, w: Int, h: Int, nComp: Int,
      hs: Array[Int], vs: Array[Int],
      quantLuma: Array[Int], quantChroma: Array[Int], gray: Boolean,
      tables: Map[(Int, Int), (Array[Int], Array[Int], Map[Int, (Int, Int)])],
      restartInterval: Int): Unit = {
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def seg(m: Int, payload: Array[Byte]): Unit = {
      marker(m)
      val len = payload.length + 2
      out.write(Bin.be16(len))
      out.write(payload)
    }
    marker(0xd8)
    seg(0xe0, Array[Byte]('J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    def dqt(tq: Int, tab: Array[Int]): Unit =
      seg(0xdb, tq.toByte +: Array.tabulate(64)(i => tab(zigzag(i)).toByte))
    dqt(0, quantLuma)
    if (!gray) dqt(1, quantChroma)
    val sof = new Array[Byte](6 + 3 * nComp)
    sof(0) = 8
    sof(1) = ((h >> 8) & 0xff).toByte; sof(2) = (h & 0xff).toByte
    sof(3) = ((w >> 8) & 0xff).toByte; sof(4) = (w & 0xff).toByte
    sof(5) = nComp.toByte
    var c = 0
    while (c < nComp) {
      sof(6 + 3 * c) = (c + 1).toByte
      sof(7 + 3 * c) = ((hs(c) << 4) | vs(c)).toByte
      sof(8 + 3 * c) = (if (c == 0) 0 else 1).toByte
      c += 1
    }
    seg(sofMarker, sof)
    tables.toSeq.sortBy(_._1).foreach { case ((cls, tid), (bits, vals, _)) =>
      seg(0xc4, ((cls << 4) | tid).toByte +:
        (Array.tabulate(16)(i => bits(i + 1).toByte) ++ vals.map(_.toByte)))
    }
    if (restartInterval > 0)
      seg(0xdd, Array(((restartInterval >> 8) & 0xff).toByte,
        (restartInterval & 0xff).toByte))
  }

  /** Baseline sequential JPEG ENCODER — gray (1 component, the Bmp's R
    * channel), YCbCr 4:4:4, or (subsample=true) YCbCr 4:2:0 — luma
    * 2x2 against 1x1 chroma, the layout real-world color JPEGs
    * overwhelmingly use: each MCU interleaves 4 luma blocks with one
    * Cb and one Cr block covering 16x16 pixels, chroma planes
    * box-average-downsampled 2x2 (replicated edges, round half-up).
    * Exists so fixtures are REAL files; fidelity is governed by the
    * quant tables (unit tables + flat blocks → lossless, see header
    * comment; for 4:2:0 the chroma must additionally be constant over
    * each downsample footprint — the synth420 fixtures hold it
    * constant corpus-wide). */
  def encodeJpeg(img: Bmp, gray: Boolean = false,
      quantLuma: Array[Int] = jpegUnitQuant,
      quantChroma: Array[Int] = jpegUnitQuant,
      restartInterval: Int = 0,
      subsample: Boolean = false,
      subsample422: Boolean = false,
      subsample411: Boolean = false,
      subsampleH1v2: Boolean = false): Array[Byte] = {
    val anySub = subsample || subsample422 || subsample411 || subsampleH1v2
    require(!(gray && anySub), "chroma subsampling applies to color only")
    require(Seq(subsample, subsample422, subsample411, subsampleH1v2)
      .count(identity) <= 1, "pick ONE subsampling layout")
    val w = img.width; val h = img.height
    val nComp = if (gray) 1 else 3
    val (hs, vs) =
      jpegSampling(nComp, subsample, subsample422, subsample411, subsampleH1v2)
    val (compW, compH, planes) = jpegPlanes(img, gray, hs, vs)
    val hmax = hs(0); val vmax = vs(0) // luma always carries the max
    val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
    // token stream: (cls, tid, sym, extraVal, extraBits); RST = null
    final case class Tok(cls: Int, tid: Int, sym: Int, ev: Int, eb: Int)
    val toks = collection.mutable.ArrayBuffer.empty[Tok]
    val pred = new Array[Int](nComp)
    var mcu = 0
    while (mcu < mcusX * mcusY) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        toks += null // restart sentinel
        java.util.Arrays.fill(pred, 0)
      }
      val mx = mcu % mcusX; val my = mcu / mcusX
      var c = 0
      while (c < nComp) {
        val tid = if (c == 0) 0 else 1
        // hs(c)×vs(c) blocks per MCU, raster order (JPEG interleave,
        // spec A.2.3); DC prediction accumulates per component in
        // exactly this encounter order.
        var bv = 0
        while (bv < vs(c)) {
          var bhh = 0
          while (bhh < hs(c)) {
            val cf = fdctQuant(getBlock(planes(c), compW(c), compH(c),
              mx * hs(c) + bhh, my * vs(c) + bv),
              if (c == 0) quantLuma else quantChroma)
            val diff = cf(0) - pred(c); pred(c) = cf(0)
            val (t, ev) = category(diff)
            toks += Tok(0, tid, t, ev, t)
            var k = 1; var run = 0
            while (k < 64) {
              val v = cf(zigzag(k))
              if (v == 0) run += 1
              else {
                while (run >= 16) { toks += Tok(1, tid, 0xf0, 0, 0); run -= 16 }
                val (sz, bvv) = category(v)
                toks += Tok(1, tid, (run << 4) | sz, bvv, sz)
                run = 0
              }
              k += 1
            }
            if (run > 0) toks += Tok(1, tid, 0x00, 0, 0) // EOB
            bhh += 1
          }
          bv += 1
        }
        c += 1
      }
      mcu += 1
    }
    val tables = toks.filter(_ != null).groupBy(t => (t.cls, t.tid))
      .map { case (k, ts) => k -> optimalTable(
        ts.groupBy(_.sym).map { case (s, xs) => s -> xs.size.toLong }) }
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def seg(m: Int, payload: Array[Byte]): Unit = {
      marker(m)
      val len = payload.length + 2
      out.write(Bin.be16(len))
      out.write(payload)
    }
    writeJpegHeaders(out, 0xc0, w, h, nComp, hs, vs,
      quantLuma, quantChroma, gray, tables, restartInterval)
    val sos = new Array[Byte](1 + 2 * nComp + 3)
    sos(0) = nComp.toByte
    var c = 0
    while (c < nComp) {
      sos(1 + 2 * c) = (c + 1).toByte
      sos(2 + 2 * c) = (if (c == 0) 0x00 else 0x11).toByte
      c += 1
    }
    sos(1 + 2 * nComp + 1) = 0x3f
    seg(0xda, sos)
    val bwr = new BitWriter(out)
    var rst = 0
    toks.foreach {
      case null =>
        bwr.flush(); marker(0xd0 + rst); rst = (rst + 1) % 8
      case t =>
        val (_, _, enc) = tables((t.cls, t.tid))
        val (code, len) = enc(t.sym)
        bwr.put(code, len)
        if (t.eb > 0) bwr.put(t.ev, t.eb)
    }
    bwr.flush()
    marker(0xd9)
    out.toByteArray
  }

  /** PROGRESSIVE (SOF2) JPEG ENCODER — the minimal standard scan
    * script that exercises every successive-approximation machine the
    * decoder has to implement for real files:
    *
    *   scan 1: DC, interleaved, Ah=0 Al=1 (point-transformed first pass)
    *   scan 2: DC, interleaved, Ah=1 Al=0 (refinement — RAW bits)
    *   scan k: AC 1..63 per component, Ah=0 Al=0, EOB-RUN coded
    *
    * (AC successive approximation is NOT emitted — its decode path is
    * pinned against JDK-ImageIO-written streams, whose default
    * progressive script uses it.) Gray / 4:4:4 / 4:2:0 like the
    * baseline encoder; fidelity contract identical (unit quant + flat
    * blocks → lossless; DC point transform is exactly invertible:
    * first pass codes DC>>1, refinement restores bit 0). */
  def encodeJpegProgressive(img: Bmp, gray: Boolean = false,
      quantLuma: Array[Int] = jpegUnitQuant,
      quantChroma: Array[Int] = jpegUnitQuant,
      subsample: Boolean = false,
      subsample422: Boolean = false,
      restartInterval: Int = 0,
      subsample411: Boolean = false,
      subsampleH1v2: Boolean = false): Array[Byte] = {
    val anySub = subsample || subsample422 || subsample411 || subsampleH1v2
    require(!(gray && anySub), "chroma subsampling applies to color only")
    require(Seq(subsample, subsample422, subsample411, subsampleH1v2)
      .count(identity) <= 1, "pick ONE subsampling layout")
    val w = img.width; val h = img.height
    val nComp = if (gray) 1 else 3
    val (hs, vs) =
      jpegSampling(nComp, subsample, subsample422, subsample411, subsampleH1v2)
    val (compW, compH, planes) = jpegPlanes(img, gray, hs, vs)
    val hmax = hs(0); val vmax = vs(0)
    val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
    // per-component PADDED block grid of quantized coefficients (the
    // interleaved DC scans code padded dummy blocks too, exactly what
    // the decoder's store expects)
    val coefB = Array.tabulate(nComp) { c =>
      val bX = mcusX * hs(c); val bY = mcusY * vs(c)
      Array.tabulate(bX * bY)(b =>
        fdctQuant(getBlock(planes(c), compW(c), compH(c), b % bX, b / bX),
          if (c == 0) quantLuma else quantChroma))
    }
    // cls 0 = DC Huffman, 1 = AC Huffman, 2 = RAW bits (no table)
    final case class Tok(cls: Int, tid: Int, sym: Int, ev: Int, eb: Int)
    // ---- scan 1: DC first, interleaved, Al=1
    val scan1 = collection.mutable.ArrayBuffer.empty[Tok]
    locally {
      val pred = new Array[Int](nComp)
      var mcu = 0
      while (mcu < mcusX * mcusY) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          scan1 += null // restart sentinel
          java.util.Arrays.fill(pred, 0)
        }
        val mx = mcu % mcusX; val my = mcu / mcusX
        var c = 0
        while (c < nComp) {
          val tid = if (c == 0) 0 else 1
          var bv = 0
          while (bv < vs(c)) {
            var bh = 0
            while (bh < hs(c)) {
              val dc = coefB(c)((my * vs(c) + bv) * (mcusX * hs(c)) +
                mx * hs(c) + bh)(0) >> 1 // point transform (arith shift)
              val diff = dc - pred(c); pred(c) = dc
              val (t, ev) = category(diff)
              scan1 += Tok(0, tid, t, ev, t)
              bh += 1
            }
            bv += 1
          }
          c += 1
        }
        mcu += 1
      }
    }
    // ---- scan 2: DC refinement, interleaved, Ah=1 Al=0 — raw bit 0
    val scan2 = collection.mutable.ArrayBuffer.empty[Tok]
    locally {
      var mcu = 0
      while (mcu < mcusX * mcusY) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0)
          scan2 += null
        val mx = mcu % mcusX; val my = mcu / mcusX
        var c = 0
        while (c < nComp) {
          var bv = 0
          while (bv < vs(c)) {
            var bh = 0
            while (bh < hs(c)) {
              val dc = coefB(c)((my * vs(c) + bv) * (mcusX * hs(c)) +
                mx * hs(c) + bh)(0)
              scan2 += Tok(2, 0, 0, dc & 1, 1)
              bh += 1
            }
            bv += 1
          }
          c += 1
        }
        mcu += 1
      }
    }
    // ---- AC scans: per component, band 1..63, first pass, EOB runs
    // over the component's OWN (unpadded) block grid
    val acScans = (0 until nComp).map { c =>
      val tid = if (c == 0) 0 else 1
      val wB = (compW(c) + 7) / 8; val hB = (compH(c) + 7) / 8
      val padBX = mcusX * hs(c)
      val toks = collection.mutable.ArrayBuffer.empty[Tok]
      var eobcnt = 0
      def flushEob(): Unit = while (eobcnt > 0) {
        val run = math.min(eobcnt, 32767)
        val r = 31 - Integer.numberOfLeadingZeros(run)
        toks += Tok(1, tid, r << 4, run - (1 << r), r)
        eobcnt -= run
      }
      var b = 0
      while (b < wB * hB) {
        if (restartInterval > 0 && b > 0 && b % restartInterval == 0) {
          flushEob()
          toks += null // restart sentinel; EOB runs never span it
        }
        val cf = coefB(c)((b / wB) * padBX + b % wB)
        var lastNz = 0
        var k = 63
        while (k >= 1 && lastNz == 0) { if (cf(zigzag(k)) != 0) lastNz = k; k -= 1 }
        if (lastNz == 0) eobcnt += 1
        else {
          flushEob()
          var kk = 1; var run = 0
          while (kk <= lastNz) {
            val v = cf(zigzag(kk))
            if (v == 0) run += 1
            else {
              while (run >= 16) { toks += Tok(1, tid, 0xf0, 0, 0); run -= 16 }
              val (sz, bv) = category(v)
              toks += Tok(1, tid, (run << 4) | sz, bv, sz)
              run = 0
            }
            kk += 1
          }
          if (lastNz < 63) eobcnt += 1 // this block's own EOB starts a run
        }
        b += 1
      }
      flushEob()
      (c, toks)
    }
    // ---- Huffman tables over every coded symbol (RAW toks excluded)
    val allToks = (scan1 ++ acScans.flatMap(_._2))
      .filter(t => t != null && t.cls != 2)
    val tables = allToks.groupBy(t => (t.cls, t.tid))
      .map { case (k, ts) => k -> optimalTable(
        ts.groupBy(_.sym).map { case (s, xs) => s -> xs.size.toLong }) }
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def seg(m: Int, payload: Array[Byte]): Unit = {
      marker(m)
      val len = payload.length + 2
      out.write(Bin.be16(len))
      out.write(payload)
    }
    writeJpegHeaders(out, 0xc2, w, h, nComp, hs, vs,
      quantLuma, quantChroma, gray, tables, restartInterval)
    def writeScan(comps: Seq[Int], ss: Int, se: Int, ahal: Int,
        toks: collection.Seq[Tok]): Unit = {
      val sos = new Array[Byte](1 + 2 * comps.size + 3)
      sos(0) = comps.size.toByte
      comps.zipWithIndex.foreach { case (ci, i) =>
        sos(1 + 2 * i) = (ci + 1).toByte
        val tid = if (ci == 0) 0 else 1
        sos(2 + 2 * i) = ((tid << 4) | tid).toByte
      }
      sos(1 + 2 * comps.size) = ss.toByte
      sos(2 + 2 * comps.size) = se.toByte
      sos(3 + 2 * comps.size) = ahal.toByte
      seg(0xda, sos)
      val bwr = new BitWriter(out)
      var rst = 0
      toks.foreach {
        case null =>
          bwr.flush(); marker(0xd0 + rst); rst = (rst + 1) % 8
        case t =>
          if (t.cls == 2) bwr.put(t.ev, t.eb)
          else {
            val (_, _, enc) = tables((t.cls, t.tid))
            val (code, len) = enc(t.sym)
            bwr.put(code, len)
            if (t.eb > 0) bwr.put(t.ev, t.eb)
          }
      }
      bwr.flush()
    }
    writeScan(0 until nComp, 0, 0, 0x01, scan1)
    writeScan(0 until nComp, 0, 0, 0x10, scan2)
    acScans.foreach { case (ci, toks) => writeScan(Seq(ci), 1, 63, 0x00, toks) }
    marker(0xd9)
    out.toByteArray
  }

  /** One frame component: id, sampling factors, quant table id. */
  private final case class JComp(cid: Int, h: Int, v: Int, tq: Int)

  /** JPEG DECODER, baseline (SOF0/1) and progressive (SOF2): marker
    * walk (DQT/DHT/DRI), Huffman entropy decode with byte unstuffing
    * and restart handling, progressive successive-approximation scans
    * accumulated to EOI, dequantize, de-zigzag, IDCT, 4:2:0 chroma
    * upsampling (libjpeg-style triangular filter), fixed-point
    * YCbCr→RGB. Accepts 1x1 sampling (grayscale / 4:4:4) and 4:2:0
    * (luma 2x2 — the layout real-world color JPEGs overwhelmingly
    * use); rejects other samplings / arithmetic coding / malformed
    * scan scripts / truncated input loudly. */
  def decodeJpeg(bytes: Array[Byte]): Bmp = {
    require(bytes.length >= 4 && (bytes(0) & 0xff) == 0xff &&
      (bytes(1) & 0xff) == 0xd8, "not a JPEG payload")
    val quant = new Array[Array[Int]](4)
    val huff = collection.mutable.Map.empty[(Int, Int), HuffDec]
    var w = -1; var h = -1
    var comps: Array[JComp] = null
    var dri = 0
    var progressive = false
    var sawScan = false
    // progressive coefficient store: [component][padded block index][64
    // raw (unquantized) coefficients], accumulated across scans and
    // dequantized + IDCT'd only at EOI
    var coefs: Array[Array[Array[Int]]] = null
    var pos = 2
    while (true) {
      require(pos + 2 <= bytes.length,
        if (sawScan) "truncated JPEG (no EOI)" else "truncated JPEG (no SOS)")
      require((bytes(pos) & 0xff) == 0xff, s"bad JPEG marker at $pos")
      val m = bytes(pos + 1) & 0xff
      if (m == 0xd9) {
        // EOI: terminates a progressive stream after >= 1 scan (the
        // baseline path returns from inside its single SOS)
        require(progressive && sawScan, "JPEG EOI before SOS")
        return assembleProgressive(w, h, comps, quant, coefs)
      }
      require(pos + 4 <= bytes.length,
        if (sawScan) "truncated JPEG (no EOI)" else "truncated JPEG (no SOS)")
      val len = Bin.u16be(bytes, pos + 2, bytes.length)
      require(len >= 2, "truncated JPEG segment")
      Bin.checkRange(pos + 2, len, bytes.length, "truncated JPEG segment")
      val body = pos + 4
      var next = pos + 2 + len
      m match {
        case 0xdb => // DQT: one or more tables per segment
          var o = body
          while (o < pos + 2 + len) {
            require((bytes(o) & 0xf0) == 0, "only 8-bit JPEG quant tables")
            val tq = bytes(o) & 0x0f
            require(tq <= 3, s"bad JPEG quant table id $tq")
            require(o + 65 <= pos + 2 + len, "truncated DQT")
            val tab = new Array[Int](64)
            var i = 0
            while (i < 64) { tab(zigzag(i)) = bytes(o + 1 + i) & 0xff; i += 1 }
            quant(tq) = tab
            o += 65
          }
        case 0xc4 => // DHT: one or more tables per segment
          var o = body
          while (o < pos + 2 + len) {
            val cls = (bytes(o) >> 4) & 0x0f
            val tid = bytes(o) & 0x0f
            require(cls <= 1 && tid <= 3, "bad DHT class/id")
            require(o + 17 <= pos + 2 + len, "truncated DHT")
            val bits = new Array[Int](17)
            var total = 0
            var i = 1
            while (i <= 16) {
              bits(i) = bytes(o + i) & 0xff; total += bits(i); i += 1
            }
            require(o + 17 + total <= pos + 2 + len, "truncated DHT values")
            val vals = Array.tabulate(total)(j => bytes(o + 17 + j) & 0xff)
            huff((cls, tid)) = new HuffDec(bits, vals)
            o += 17 + total
          }
        case 0xc0 | 0xc1 | 0xc2 => // SOF0/1 baseline, SOF2 progressive
          progressive = m == 0xc2
          // The outer check proved `len` bytes exist; the SOF reads
          // below must ALSO fit inside the declared length, or a
          // truncated/under-length SOF would silently read the next
          // segment's bytes (or throw a raw index error at EOF).
          require(len >= 8, "truncated JPEG SOF segment")
          require(bytes(body) == 8, "only 8-bit JPEG supported")
          h = Bin.u16be(bytes, body + 1, bytes.length)
          w = Bin.u16be(bytes, body + 3, bytes.length)
          require(w > 0 && h > 0 && w.toLong * h <= (1L << 26),
            s"bad JPEG dimensions ${w}x$h")
          val n = bytes(body + 5) & 0xff
          require(n == 1 || n == 3, "only 1- or 3-component JPEG supported")
          require(len >= 8 + 3 * n, "JPEG SOF length/component mismatch")
          comps = Array.tabulate(n) { i =>
            val samp = bytes(body + 7 + 3 * i) & 0xff
            val tq = bytes(body + 8 + 3 * i) & 0xff
            // Tq is 0-3 per the spec; a corrupt byte would otherwise
            // index past the 4-slot quant array as a raw array error
            require(tq <= 3, s"bad JPEG quant table id $tq")
            JComp(bytes(body + 6 + 3 * i) & 0xff,
              (samp >> 4) & 0x0f, samp & 0x0f, tq)
          }
          val all11 = comps.forall(c => c.h == 1 && c.v == 1)
          def lumaLayout(lh: Int, lv: Int) = comps.length == 3 &&
            comps(0).h == lh && comps(0).v == lv &&
            comps.tail.forall(c => c.h == 1 && c.v == 1)
          val is420 = lumaLayout(2, 2)
          val is422 = lumaLayout(2, 1)
          val is411 = lumaLayout(4, 1)
          val isH1v2 = lumaLayout(1, 2)
          require(all11 || is420 || is422 || is411 || isH1v2,
            "only 1x1 (4:4:4 / grayscale), 4:2:0 (luma 2x2), 4:2:2 " +
              "(luma 2x1), 4:1:1 (luma 4x1), or vertical-only (luma " +
              "1x2) JPEG sampling supported")
          if (progressive) {
            val hmax = comps.map(_.h).max; val vmax = comps.map(_.v).max
            val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
            val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
            coefs = Array.tabulate(comps.length)(i =>
              Array.fill(mcusX * comps(i).h * mcusY * comps(i).v)(
                new Array[Int](64)))
          }
        case 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb | 0xcd |
            0xce | 0xcf =>
          require(requirement = false,
            f"unsupported JPEG SOF marker 0xff$m%02x")
        case 0xdd =>
          require(len >= 4, "truncated JPEG DRI segment")
          dri = Bin.u16be(bytes, body, bytes.length)
        case 0xda =>
          require(comps != null, "JPEG SOS before SOF")
          require(len >= 3, "truncated JPEG SOS segment")
          val ns = bytes(body) & 0xff
          if (!progressive)
            require(ns == comps.length, "partial JPEG scans not supported")
          else require(ns >= 1 && ns <= comps.length, "bad JPEG scan count")
          require(len >= 2 + 1 + 2 * ns + 3, "JPEG SOS length/component mismatch")
          // scan component → (component index, dc table, ac table)
          val sel = Array.tabulate(ns) { i =>
            val cid = bytes(body + 1 + 2 * i) & 0xff
            val ci = comps.indexWhere(_.cid == cid)
            require(ci >= 0, s"JPEG scan references unknown component $cid")
            (ci, (bytes(body + 2 + 2 * i) >> 4) & 0x0f,
              bytes(body + 2 + 2 * i) & 0x0f)
          }
          val entropy = body + 1 + 2 * ns + 3 // past Ss/Se/AhAl
          if (!progressive)
            return decodeScan(bytes, entropy, w, h, comps, sel, quant,
              huff.toMap, dri)
          val ss = bytes(body + 1 + 2 * ns) & 0xff
          val se = bytes(body + 2 + 2 * ns) & 0xff
          val ahal = bytes(body + 3 + 2 * ns) & 0xff
          sawScan = true
          next = decodeProgScan(bytes, entropy, w, h, comps, sel,
            huff.toMap, coefs, ss, se, (ahal >> 4) & 0x0f, ahal & 0x0f, dri)
        case _ => () // APPn / COM / other ancillary segments
      }
      pos = next
    }
    throw new IllegalArgumentException("unreachable")
  }

  /** One progressive scan (T.81 Annex G): DC first / DC refinement /
    * AC first with EOB runs / AC refinement with correction bits, over
    * interleaved MCUs (multi-component, DC only) or the single
    * component's own block grid. Coefficients accumulate RAW
    * (unquantized, point-transformed by Al) into `coefs`; returns the
    * position just past the scan's entropy data. */
  private def decodeProgScan(bytes: Array[Byte], start: Int, w: Int, h: Int,
      comps: Array[JComp], sel: Array[(Int, Int, Int)],
      huff: Map[(Int, Int), HuffDec], coefs: Array[Array[Array[Int]]],
      ss: Int, se: Int, ah: Int, al: Int, dri: Int): Int = {
    require(ss <= se && se <= 63, s"bad progressive spectral band $ss..$se")
    if (ss == 0) require(se == 0,
      "progressive DC scan must have Se=0 (no mixed DC/AC bands)")
    else require(sel.length == 1,
      "progressive AC scans must be single-component")
    require(ah == 0 || ah == al + 1,
      s"bad successive-approximation pair Ah=$ah Al=$al")
    val hmax = comps.map(_.h).max; val vmax = comps.map(_.v).max
    val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
    val br = new BitReader(bytes, start)
    val pred = new Array[Int](sel.length)
    var eobrun = 0
    var rst = 0
    def dcTable(s: Int): HuffDec = huff.getOrElse((0, sel(s)._2),
      throw new IllegalArgumentException(
        s"JPEG missing DC Huffman table ${sel(s)._2}"))
    def decodeDc(s: Int, coef: Array[Int]): Unit =
      if (ah == 0) {
        val t = dcTable(s).decode(br)
        require(t <= 11, s"bad JPEG DC category $t")
        pred(s) += extendBits(br.receive(t), t)
        coef(0) = pred(s) << al
      } else if (br.receive(1) != 0) coef(0) |= 1 << al
    if (sel.length > 1) {
      // interleaved: DC scans only (enforced above), MCU order
      var mcu = 0
      while (mcu < mcusX * mcusY) {
        if (dri > 0 && mcu > 0 && mcu % dri == 0) {
          br.expectRestart(rst); rst = (rst + 1) % 8
          java.util.Arrays.fill(pred, 0); eobrun = 0
        }
        val mx = mcu % mcusX; val my = mcu / mcusX
        var s = 0
        while (s < sel.length) {
          val ci = sel(s)._1
          var bv = 0
          while (bv < comps(ci).v) {
            var bh = 0
            while (bh < comps(ci).h) {
              decodeDc(s, coefs(ci)(
                (my * comps(ci).v + bv) * (mcusX * comps(ci).h) +
                  mx * comps(ci).h + bh))
              bh += 1
            }
            bv += 1
          }
          s += 1
        }
        mcu += 1
      }
    } else {
      // non-interleaved: the component's OWN block grid (ceil of the
      // sampled dims — NOT the MCU-padded grid; padded dummy blocks
      // are coded only by interleaved scans)
      val ci = sel(0)._1
      val acT = sel(0)._3
      lazy val ac = huff.getOrElse((1, acT),
        throw new IllegalArgumentException(s"JPEG missing AC Huffman table $acT"))
      val cw = (w * comps(ci).h + hmax - 1) / hmax
      val chh = (h * comps(ci).v + vmax - 1) / vmax
      val wB = (cw + 7) / 8; val hB = (chh + 7) / 8
      val padBX = mcusX * comps(ci).h
      var b = 0
      while (b < wB * hB) {
        if (dri > 0 && b > 0 && b % dri == 0) {
          br.expectRestart(rst); rst = (rst + 1) % 8
          java.util.Arrays.fill(pred, 0); eobrun = 0
        }
        val coef = coefs(ci)((b / wB) * padBX + b % wB)
        if (ss == 0) decodeDc(0, coef)
        else if (ah == 0) eobrun = acFirst(br, ac, coef, ss, se, al, eobrun)
        else eobrun = acRefine(br, ac, coef, ss, se, al, eobrun)
        b += 1
      }
    }
    br.align()
    br.pos
  }

  /** Progressive AC band, first pass (Ah=0): run-length symbols with
    * EOB-run extension — returns the remaining EOB run. */
  private def acFirst(br: BitReader, ac: HuffDec, coef: Array[Int],
      ss: Int, se: Int, al: Int, eobrunIn: Int): Int = {
    if (eobrunIn > 0) return eobrunIn - 1
    var k = ss
    while (k <= se) {
      val sym = ac.decode(br)
      val r = (sym >> 4) & 0x0f; val s = sym & 0x0f
      if (s == 0) {
        if (r == 15) k += 16 // ZRL
        else return (1 << r) + (if (r > 0) br.receive(r) else 0) - 1
      } else {
        k += r
        require(k <= se, "JPEG AC coefficient index out of band")
        coef(zigzag(k)) = extendBits(br.receive(s), s) << al
        k += 1
      }
    }
    0
  }

  /** Progressive AC band, refinement pass (Ah=Al+1): each new nonzero
    * is ±1<<Al; every already-nonzero coefficient passed over carries a
    * correction bit (T.81 G.1.2.3 / the algorithm every real decoder
    * implements). Returns the remaining EOB run. */
  private def acRefine(br: BitReader, ac: HuffDec, coef: Array[Int],
      ss: Int, se: Int, al: Int, eobrunIn: Int): Int = {
    var eobrun = eobrunIn
    val p1 = 1 << al; val m1 = -1 << al
    def correct(z: Int): Unit =
      if (br.receive(1) != 0 && (coef(z) & p1) == 0)
        coef(z) += (if (coef(z) >= 0) p1 else m1)
    var k = ss
    if (eobrun == 0) {
      var inEob = false
      while (k <= se && !inEob) {
        val sym = ac.decode(br)
        var r = (sym >> 4) & 0x0f
        val s = sym & 0x0f
        var newval = 0
        if (s == 0) {
          if (r != 15) {
            eobrun = (1 << r) + (if (r > 0) br.receive(r) else 0)
            inEob = true
          }
          // r == 15: ZRL — pass over 16 zero-history coefficients
        } else {
          require(s == 1, "bad JPEG AC refinement magnitude")
          newval = if (br.receive(1) != 0) p1 else m1
        }
        if (!inEob) {
          var placed = false
          while (k <= se && !placed) {
            val z = zigzag(k)
            if (coef(z) != 0) correct(z)
            else if (r == 0) { if (s != 0) coef(z) = newval; placed = true }
            else r -= 1
            k += 1
          }
          require(placed || s == 0, "JPEG AC refinement ran out of band")
        }
      }
    }
    if (eobrun > 0) {
      // inside an EOB run: only correction bits for existing nonzeros
      while (k <= se) { val z = zigzag(k); if (coef(z) != 0) correct(z); k += 1 }
      eobrun - 1
    } else 0
  }

  /** Progressive finish at EOI: dequantize the accumulated raw
    * coefficients, IDCT every padded block into the component planes,
    * and assemble exactly like the baseline path. */
  private def assembleProgressive(w: Int, h: Int,
      comps: Array[JComp], quant: Array[Array[Int]],
      coefs: Array[Array[Array[Int]]]): Bmp = {
    val nComp = comps.length
    val hmax = comps.map(_.h).max; val vmax = comps.map(_.v).max
    val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
    val pw = Array.tabulate(nComp)(i => mcusX * comps(i).h * 8)
    val planes = Array.tabulate(nComp)(i =>
      new Array[Int](pw(i) * mcusY * comps(i).v * 8))
    var ci = 0
    while (ci < nComp) {
      val q = quant(comps(ci).tq)
      require(q != null, "JPEG scan before its quant table")
      val bX = mcusX * comps(ci).h
      val bY = mcusY * comps(ci).v
      var b = 0
      while (b < bX * bY) {
        val raw = coefs(ci)(b)
        val dq = new Array[Int](64)
        var j = 0
        while (j < 64) { dq(j) = raw(j) * q(j); j += 1 }
        val px = idct(dq)
        val bx = b % bX; val by = b / bX
        var y = 0
        while (y < 8) {
          System.arraycopy(px, y * 8, planes(ci), (by * 8 + y) * pw(ci) + bx * 8, 8)
          y += 1
        }
        b += 1
      }
      ci += 1
    }
    assemblePixels(planes, pw, comps, w, h)
  }

  private def decodeScan(bytes: Array[Byte], start: Int, w: Int, h: Int,
      comps: Array[JComp], sel: Array[(Int, Int, Int)],
      quant: Array[Array[Int]], huff: Map[(Int, Int), HuffDec],
      dri: Int): Bmp = {
    val nComp = comps.length
    val hmax = comps.map(_.h).max; val vmax = comps.map(_.v).max
    val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
    val pw = Array.tabulate(nComp)(i => mcusX * comps(i).h * 8)
    val planes = Array.tabulate(nComp)(i =>
      new Array[Int](pw(i) * mcusY * comps(i).v * 8))
    val br = new BitReader(bytes, start)
    val pred = new Array[Int](nComp)
    var rst = 0
    var mcu = 0
    while (mcu < mcusX * mcusY) {
      if (dri > 0 && mcu > 0 && mcu % dri == 0) {
        br.expectRestart(rst); rst = (rst + 1) % 8
        java.util.Arrays.fill(pred, 0)
      }
      val mx = mcu % mcusX; val my = mcu / mcusX
      var s = 0
      while (s < nComp) {
        val (ci, dcT, acT) = sel(s)
        val q = quant(comps(ci).tq)
        require(q != null, "JPEG scan before its quant table")
        val dc = huff.getOrElse((0, dcT),
          throw new IllegalArgumentException(s"JPEG missing DC Huffman table $dcT"))
        val ac = huff.getOrElse((1, acT),
          throw new IllegalArgumentException(s"JPEG missing AC Huffman table $acT"))
        // comps(ci).h × comps(ci).v blocks per MCU, raster order (JPEG
        // interleave, spec A.2.3) — 1 block at 1x1, 4 luma blocks at
        // 4:2:0; DC prediction accumulates per component across blocks
        // in this encounter order.
        var bv = 0
        while (bv < comps(ci).v) {
          var bhh = 0
          while (bhh < comps(ci).h) {
            val coef = new Array[Int](64)
            val t = dc.decode(br)
            require(t <= 11, s"bad JPEG DC category $t")
            pred(ci) += extendBits(br.receive(t), t)
            coef(0) = pred(ci) * q(0)
            var k = 1
            while (k < 64) {
              val sym = ac.decode(br)
              if (sym == 0x00) k = 64 // EOB
              else if (sym == 0xf0) k += 16 // ZRL
              else {
                k += (sym >> 4) & 0x0f
                require(k < 64, "JPEG AC coefficient index out of range")
                val sz = sym & 0x0f
                coef(zigzag(k)) = extendBits(br.receive(sz), sz) * q(zigzag(k))
                k += 1
              }
            }
            val px = idct(coef)
            val bx = mx * comps(ci).h + bhh
            val by = my * comps(ci).v + bv
            var y = 0
            while (y < 8) {
              System.arraycopy(px, y * 8, planes(ci),
                (by * 8 + y) * pw(ci) + bx * 8, 8)
              y += 1
            }
            bhh += 1
          }
          bv += 1
        }
        s += 1
      }
      mcu += 1
    }
    br.align()
    require(br.pos + 2 <= bytes.length &&
      (bytes(br.pos) & 0xff) == 0xff && (bytes(br.pos + 1) & 0xff) == 0xd9,
      "JPEG entropy stream not followed by EOI")
    assemblePixels(planes, pw, comps, w, h)
  }

  /** Component planes → RGB pixels: grayscale passthrough, 4:4:4 direct
    * color transform, or 4:2:0 triangular chroma upsample + transform.
    * Shared by the baseline single-scan path and the progressive
    * multi-scan path. */
  private def assemblePixels(planes: Array[Array[Int]], pw: Array[Int],
      comps: Array[JComp], w: Int, h: Int): Bmp = {
    val nComp = comps.length
    val hmax = comps.map(_.h).max; val vmax = comps.map(_.v).max
    val subsampled = hmax > 1 || vmax > 1
    // Subsampled chroma at full resolution. Filter selection follows
    // libjpeg's jdsample.c rule exactly (which is what the JDK's
    // IJG-derived ImageIO decoder applies too): the "fancy"
    // triangular filters exist ONLY for the h2v1 and h2v2 expansion
    // ratios; every other ratio (4:1:1's 4x1, vertical-only's 1x2)
    // gets plain sample replication (int_upsample).
    def chromaAtFullRes(ci: Int): Array[Int] = {
      val c = comps(ci)
      val hEx = hmax / c.h; val vEx = vmax / c.v
      val cw = (w * c.h + hmax - 1) / hmax
      val ch = (h * c.v + vmax - 1) / vmax
      if (hEx == 2 && vEx == 2) upsampleFancy2x2(planes(ci), pw(ci), cw, ch, w, h)
      else if (hEx == 2 && vEx == 1) upsampleFancy2x1(planes(ci), pw(ci), cw, w, h)
      else if (hEx == 1 && vEx == 2) upsampleFancy1x2(planes(ci), pw(ci), cw, ch, w, h)
      else upsampleInt(planes(ci), pw(ci), cw, ch, hEx, vEx, w, h)
    }
    val (cbF, crF) =
      if (nComp == 3 && subsampled) (chromaAtFullRes(1), chromaAtFullRes(2))
      else (null, null)
    val out = Array.ofDim[(Int, Int, Int)](h, w)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        out(y)(x) =
          if (nComp == 1) {
            val v = planes(0)(y * pw(0) + x); (v, v, v)
          } else if (subsampled)
            yccToRgb(planes(0)(y * pw(0) + x), cbF(y * w + x), crF(y * w + x))
          else yccToRgb(planes(0)(y * pw(0) + x), planes(1)(y * pw(1) + x),
            planes(2)(y * pw(2) + x))
        x += 1
      }
      y += 1
    }
    Bmp(w, h, out)
  }

  /** h1v2 (vertical-only) "fancy" triangular upsampling — the
    * transposed h2v1 kernel: even output rows blend 3:1 toward the
    * previous chroma row (+1 rounding), odd rows toward the next (+2),
    * edges replicate. Cross-checked against the JDK's IJG-derived
    * ImageIO decoder on our own 1x2 streams (the replication filter
    * disagreed by up to ~53 on random chroma — the JDK applies the
    * vertical fancy kernel here, so we do too; constant-chroma
    * fixtures are exact under either, (4c+1)>>2 = (4c+2)>>2 = c). */
  private def upsampleFancy1x2(plane: Array[Int], pw: Int, cw: Int, ch: Int,
      w: Int, h: Int): Array[Int] = {
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val ny = y >> 1
      val fy =
        if ((y & 1) == 0) math.max(ny - 1, 0) else math.min(ny + 1, ch - 1)
      val r = if ((y & 1) == 0) 1 else 2
      var x = 0
      while (x < w) {
        out(y * w + x) =
          (3 * plane(ny * pw + x) + plane(fy * pw + x) + r) >> 2
        x += 1
      }
      y += 1
    }
    out
  }

  /** Plain sample-replication upsampling (libjpeg's int_upsample) —
    * the filter real decoders apply to every expansion ratio WITHOUT
    * a fancy kernel (4x1, ...). Exact on constant planes, which
    * is what makes the 4:1:1 fixtures closed-form. */
  private def upsampleInt(plane: Array[Int], pw: Int, cw: Int, ch: Int,
      hEx: Int, vEx: Int, w: Int, h: Int): Array[Int] = {
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val ny = math.min(y / vEx, ch - 1)
      var x = 0
      while (x < w) {
        out(y * w + x) = plane(ny * pw + math.min(x / hEx, cw - 1))
        x += 1
      }
      y += 1
    }
    out
  }

  /** h2v1 "fancy" (triangular) upsampling for 4:2:2 — horizontal-only
    * 3:1 blend with libjpeg's asymmetric +1/+2 rounding (even columns
    * round toward the previous sample, odd toward the next, so the
    * pair is bias-free); edges replicate, and the clamped formula
    * reproduces libjpeg's exact-copy edge samples ((4c+1)>>2 = c). */
  private def upsampleFancy2x1(plane: Array[Int], pw: Int, cw: Int,
      w: Int, h: Int): Array[Int] = {
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val nx = x >> 1
        out(y * w + x) =
          if ((x & 1) == 0)
            (3 * plane(y * pw + nx) + plane(y * pw + math.max(nx - 1, 0)) + 1) >> 2
          else
            (3 * plane(y * pw + nx) +
              plane(y * pw + math.min(nx + 1, cw - 1)) + 2) >> 2
        x += 1
      }
      y += 1
    }
    out
  }

  /** h2v2 "fancy" (triangular) chroma upsampling — the libjpeg default
    * real decoders apply, implemented from the published algorithm so
    * our full-resolution chroma matches what the JDK's IJG-derived
    * ImageIO decoder produces on the same coefficients: each output
    * pixel is the 9:3:3:1 blend of its nearest chroma sample, the
    * horizontal neighbor toward the pixel, the vertical neighbor, and
    * the diagonal — rounded +8 on EVEN output columns and +7 on ODD
    * (libjpeg's asymmetric pair, bias-free across the column pair; a
    * uniform +8 sits one count above libjpeg on odd columns whenever
    * the blend lands exactly on the half). Edges replicate (neighbor
    * clamped into [0, cw/ch)); the clamped forms reproduce libjpeg's
    * edge columns exactly ((16c+8)>>4 = (16c+7)>>4 = c). `pw` is the
    * padded plane stride; only [0,cw)×[0,ch) content samples are
    * read, so MCU edge padding never leaks into the output. */
  private def upsampleFancy2x2(plane: Array[Int], pw: Int, cw: Int, ch: Int,
      w: Int, h: Int): Array[Int] = {
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val ny = y >> 1
      val fy =
        if ((y & 1) == 0) math.max(ny - 1, 0) else math.min(ny + 1, ch - 1)
      var x = 0
      while (x < w) {
        val nx = x >> 1
        val even = (x & 1) == 0
        val fx =
          if (even) math.max(nx - 1, 0) else math.min(nx + 1, cw - 1)
        out(y * w + x) = (9 * plane(ny * pw + nx) + 3 * plane(ny * pw + fx) +
          3 * plane(fy * pw + nx) + plane(fy * pw + fx) +
          (if (even) 8 else 7)) >> 4
        x += 1
      }
      y += 1
    }
    out
  }
  //
  // JPEG decode (baseline AND progressive) is real above; MP4 video
  // SAMPLE decode remains behind the documented stub boundary — but
  // METADATA does not need a decoder.
  // At 100 TB the first multimodal pass is "filter by dims / duration /
  // codec BEFORE paying for decode", and that pass is plain header
  // arithmetic: a JPEG marker walk to the SOF segment, an ISO-BMFF box
  // walk to mvhd/tkhd. Both are real parsers over real byte layouts
  // (variable-length segment skipping, both SOF0/SOF2 and mvhd v0/v1
  // branches), validated to fail loudly on malformed input.

  final case class JpegMeta(width: Int, height: Int, nComponents: Int,
      progressive: Boolean)

  /** Structurally real JPEG shell: SOI, APP0/JFIF, a variable-length
    * COM segment, DQT, SOF0 (baseline) or SOF2 (progressive), SOS with
    * a short entropy-coded stub, EOI. The entropy bytes are NOT a valid
    * Huffman stream (decode is out of scope); every segment header and
    * length is exact, so a marker-walking parser must do real work. */
  def encodeJpegShell(width: Int, height: Int, nComponents: Int,
      progressive: Boolean, commentLen: Int): Array[Byte] = {
    require(width > 0 && width <= 0xffff && height > 0 && height <= 0xffff)
    require(nComponents == 1 || nComponents == 3)
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def seg(m: Int, payload: Array[Byte]): Unit = {
      marker(m)
      val len = payload.length + 2
      out.write(Bin.be16(len))
      out.write(payload)
    }
    marker(0xd8) // SOI
    seg(0xe0, Array[Byte]('J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    seg(0xfe, Array.fill(commentLen)('x'.toByte)) // COM, doc-varying length
    seg(0xdb, 0.toByte +: Array.tabulate(64)(i => ((i * 7) % 255 + 1).toByte))
    val sof = new Array[Byte](6 + 3 * nComponents)
    sof(0) = 8 // precision
    sof(1) = ((height >> 8) & 0xff).toByte; sof(2) = (height & 0xff).toByte
    sof(3) = ((width >> 8) & 0xff).toByte; sof(4) = (width & 0xff).toByte
    sof(5) = nComponents.toByte
    var c = 0
    while (c < nComponents) {
      sof(6 + 3 * c) = (c + 1).toByte     // component id
      sof(7 + 3 * c) = 0x11.toByte        // 1x1 sampling
      sof(8 + 3 * c) = 0                  // quant table
      c += 1
    }
    seg(if (progressive) 0xc2 else 0xc0, sof)
    val sos = new Array[Byte](1 + 2 * nComponents + 3)
    sos(0) = nComponents.toByte
    c = 0
    while (c < nComponents) {
      sos(1 + 2 * c) = (c + 1).toByte; sos(2 + 2 * c) = 0; c += 1
    }
    sos(1 + 2 * nComponents + 2) = 0x3f
    seg(0xda, sos)
    out.write(Array[Byte](0x12, 0x34, 0x56)) // entropy stub, no 0xFF bytes
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** Marker walk: skip variable-length segments until a SOF marker,
    * read dimensions/components from it. Handles baseline (SOF0/SOF1)
    * and progressive (SOF2); fails loudly on truncation, a missing
    * SOF, or a non-JPEG payload. */
  def jpegMeta(bytes: Array[Byte]): JpegMeta = {
    require(bytes.length >= 4 && (bytes(0) & 0xff) == 0xff &&
      (bytes(1) & 0xff) == 0xd8, "not a JPEG payload")
    var pos = 2
    while (true) {
      require(pos + 4 <= bytes.length, "truncated JPEG (no SOF segment)")
      require((bytes(pos) & 0xff) == 0xff, s"bad JPEG marker at $pos")
      val m = bytes(pos + 1) & 0xff
      require(m != 0xd9 && m != 0xda, "JPEG scan/EOI reached before SOF")
      val len = Bin.u16be(bytes, pos + 2, bytes.length)
      require(len >= 2, "truncated JPEG segment")
      Bin.checkRange(pos + 2, len, bytes.length, "truncated JPEG segment")
      if (m == 0xc0 || m == 0xc1 || m == 0xc2) {
        require(len >= 8, "truncated SOF segment")
        val h = Bin.u16be(bytes, pos + 5, bytes.length)
        val w = Bin.u16be(bytes, pos + 7, bytes.length)
        val n = bytes(pos + 9) & 0xff
        require(len == 8 + 3 * n, "SOF length/component mismatch")
        return JpegMeta(w, h, n, progressive = m == 0xc2)
      }
      pos += 2 + len
    }
    throw new IllegalArgumentException("unreachable")
  }

  final case class Mp4Meta(timescale: Int, durationS: Long, width: Int,
      height: Int, trackId: Int, mvhdVersion: Int)

  private[operators] def mp4Box(typ: String, payload: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](8 + payload.length)
    Bin.put32be(out, 0, out.length)
    val t = typ.getBytes("US-ASCII"); System.arraycopy(t, 0, out, 4, 4)
    System.arraycopy(payload, 0, out, 8, payload.length)
    out
  }

  /** Structurally real ISO-BMFF metadata shell: ftyp, a doc-varying
    * `free` box, moov{ [free,] mvhd (version 0 OR 1 — different field
    * widths), trak{tkhd with 16.16 fixed-point dims} }. No mdat —
    * sample data is out of scope; the box tree is exact. */
  def encodeMp4Meta(m: Mp4Meta, freeLen: Int, innerFree: Boolean): Array[Byte] = {
    val ftyp = mp4Box("ftyp", {
      val p = new Array[Byte](16)
      System.arraycopy("isom".getBytes("US-ASCII"), 0, p, 0, 4)
      Bin.put32be(p, 4, 0x200)
      System.arraycopy("isom".getBytes("US-ASCII"), 0, p, 8, 4)
      System.arraycopy("mp41".getBytes("US-ASCII"), 0, p, 12, 4)
      p
    })
    val free = mp4Box("free", Array.fill(freeLen)(0x20.toByte))
    val duration = m.durationS * m.timescale
    // the v0 duration field is u32 — a longer movie needs a v1 mvhd
    // (the same constraint real muxers enforce)
    require(m.mvhdVersion == 1 || duration <= 0xffffffffL,
      "duration overflows the 32-bit v0 mvhd field; use mvhdVersion = 1")
    val mvhd = if (m.mvhdVersion == 0) {
      val p = new Array[Byte](100) // v0 payload: box totals 108
      // verflags at 0..3 (version 0); ctime/mtime 0 at 4..11
      Bin.put32be(p, 12, m.timescale); Bin.put32be(p, 16, duration.toInt)
      Bin.put32be(p, 20, 0x00010000) // rate 1.0
      p(24) = 1; p(25) = 0       // volume 1.0
      // unity matrix at 36..71
      Bin.put32be(p, 36, 0x00010000); Bin.put32be(p, 52, 0x00010000)
      Bin.put32be(p, 68, 0x40000000)
      Bin.put32be(p, 96, 2) // next track id
      mp4Box("mvhd", p)
    } else {
      val p = new Array[Byte](112) // v1 payload: box totals 120
      p(0) = 1 // version
      // 64-bit ctime/mtime at 4..19; timescale at 20, 64-bit duration at 24
      Bin.put32be(p, 20, m.timescale); Bin.put64be(p, 24, duration)
      Bin.put32be(p, 32, 0x00010000)
      p(36) = 1; p(37) = 0
      Bin.put32be(p, 48, 0x00010000); Bin.put32be(p, 64, 0x00010000)
      Bin.put32be(p, 80, 0x40000000)
      Bin.put32be(p, 108, 2)
      mp4Box("mvhd", p)
    }
    val tkhd = mp4Box("tkhd", {
      val p = new Array[Byte](84) // v0 payload: box totals 92
      p(3) = 7 // flags: enabled | in-movie | in-preview
      Bin.put32be(p, 12, m.trackId)
      Bin.put32be(p, 20, duration.toInt)
      Bin.put32be(p, 40, 0x00010000); Bin.put32be(p, 56, 0x00010000)
      Bin.put32be(p, 72, 0x40000000)
      Bin.put32be(p, 76, m.width << 16); Bin.put32be(p, 80, m.height << 16)
      p
    })
    val trak = mp4Box("trak", tkhd)
    val innerParts =
      if (innerFree) Array(mp4Box("free", Array.fill(12)(0x20.toByte)), mvhd, trak)
      else Array(mvhd, trak)
    val moov = mp4Box("moov", innerParts.flatten)
    ftyp ++ free ++ moov
  }

  private[operators] final case class Mp4Box(typ: String, start: Int, end: Int)

  /** Walk the sibling boxes of [from, to); supports 64-bit `size==1`
    * largesize headers; fails loudly on truncation / size overrun. */
  private[operators] def mp4Walk(bytes: Array[Byte], from: Int, to: Int): List[Mp4Box] = {
    var pos = from
    val out = List.newBuilder[Mp4Box]
    while (pos < to) {
      require(pos + 8 <= to, "truncated MP4 box header")
      val size32 = Bin.u32be(bytes, pos, bytes.length, "mp4").toInt
      val typ = new String(bytes, pos + 4, 4, "US-ASCII")
      val (size, hdr) =
        if (size32 == 1) {
          require(pos + 16 <= to, "truncated MP4 largesize header")
          val hi = Bin.u32be(bytes, pos + 8, bytes.length, "mp4") << 32
          ((hi | (Bin.u32be(bytes, pos + 12, bytes.length, "mp4"))), 16)
        } else (size32.toLong, 8)
      require(size >= hdr && pos + size <= to, s"bad MP4 box size in $typ")
      out += Mp4Box(typ, pos + hdr, pos + size.toInt)
      pos += size.toInt
    }
    out.result()
  }

  /** ISO-BMFF box walk: find moov at the top level, then mvhd (v0 or
    * v1 — the field widths differ) and trak/tkhd inside it. Supports
    * 64-bit `size==1` largesize headers; fails loudly on truncation or
    * missing boxes. */
  def mp4Meta(bytes: Array[Byte]): Mp4Meta = {
    def walk(from: Int, to: Int): List[Mp4Box] = mp4Walk(bytes, from, to)
    require(bytes.length >= 8 &&
      new String(bytes, 4, 4, "US-ASCII") == "ftyp", "not an MP4 payload")
    val top = walk(0, bytes.length)
    val moov = top.find(_.typ == "moov")
      .getOrElse(throw new IllegalArgumentException("MP4 missing moov box"))
    val kids = walk(moov.start, moov.end)
    val mvhd = kids.find(_.typ == "mvhd")
      .getOrElse(throw new IllegalArgumentException("MP4 missing mvhd box"))
    val ver = bytes(mvhd.start) & 0xff
    val (timescale, duration) =
      if (ver == 0) (Bin.u32be(bytes, mvhd.start + 12, bytes.length, "mp4").toInt,
        (Bin.u32be(bytes, mvhd.start + 16, bytes.length, "mp4")))
      else if (ver == 1) (Bin.u32be(bytes, mvhd.start + 20, bytes.length,
        "mp4").toInt, {
        val hi = Bin.u32be(bytes, mvhd.start + 24, bytes.length, "mp4") << 32
        hi | (Bin.u32be(bytes, mvhd.start + 28, bytes.length, "mp4"))
      })
      else throw new IllegalArgumentException(s"unsupported mvhd version $ver")
    require(timescale > 0, "bad mvhd timescale")
    val trak = kids.find(_.typ == "trak")
      .getOrElse(throw new IllegalArgumentException("MP4 missing trak box"))
    val tkhd = walk(trak.start, trak.end).find(_.typ == "tkhd")
      .getOrElse(throw new IllegalArgumentException("MP4 missing tkhd box"))
    require((bytes(tkhd.start) & 0xff) == 0, "only tkhd version 0 supported")
    Mp4Meta(timescale, duration / timescale,
      (Bin.u32be(bytes, tkhd.start + 76, bytes.length, "mp4") >>> 16).toInt,
      (Bin.u32be(bytes, tkhd.start + 80, bytes.length, "mp4") >>> 16).toInt,
      Bin.u32be(bytes, tkhd.start + 12, bytes.length, "mp4").toInt, ver)
  }

  // --------------------------------------- ISO-BMFF sample tables (stbl)
  //
  // One level deeper than mvhd/tkhd metadata: the sample tables are
  // what a frame-sampling pipeline reads to know how many samples a
  // track has, how many bytes they cover, and where they sit — BEFORE
  // any codec runs. Real layouts: stts (time-to-sample runs), stsz
  // (uniform-or-per-sample sizes), stco (chunk offsets), nested
  // moov/trak/mdia/minf/stbl.

  final case class Mp4Samples(nSamples: Int, totalBytes: Long,
      maxSampleBytes: Int, durationTicks: Long, nChunks: Int)

  /** Structurally real moov with a full trak/mdia/minf/stbl subtree:
    * mdhd (v0), stts with `sttsRuns` (count, delta) entries, stsz
    * (per-sample sizes, or uniform when all equal and `forceUniform`),
    * stco with `chunkOffsets`, and — when `samplesPerChunk` is given —
    * an stsc (sample-to-chunk) table with RUN-compressed entries
    * (consecutive chunks sharing a samples-per-chunk value share one
    * entry, exactly the compression real muxers emit). */
  def encodeMp4SampleShell(timescale: Int, sttsRuns: Seq[(Int, Int)],
      sampleSizes: Seq[Int], chunkOffsets: Seq[Int],
      forceUniform: Boolean = false,
      samplesPerChunk: Seq[Int] = Nil,
      stsd: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    require(sttsRuns.map(_._1.toLong).sum == sampleSizes.length,
      "stts sample count must equal stsz entry count")
    if (samplesPerChunk.nonEmpty) {
      require(samplesPerChunk.map(_.toLong).sum == sampleSizes.length,
        "stsc samples-per-chunk must sum to the stsz entry count")
      require(samplesPerChunk.size == chunkOffsets.size,
        "one samples-per-chunk value per stco chunk")
    }
    val ftyp = mp4Box("ftyp", {
      val p = new Array[Byte](16)
      System.arraycopy("isom".getBytes("US-ASCII"), 0, p, 0, 4)
      Bin.put32be(p, 4, 0x200)
      System.arraycopy("isom".getBytes("US-ASCII"), 0, p, 8, 4)
      System.arraycopy("mp41".getBytes("US-ASCII"), 0, p, 12, 4)
      p
    })
    val durationTicks = sttsRuns.map { case (n, d) => n.toLong * d }.sum
    require(durationTicks <= 0xffffffffL, "v0 mdhd duration overflow")
    val mvhd = mp4Box("mvhd", {
      val p = new Array[Byte](100)
      Bin.put32be(p, 12, timescale); Bin.put32be(p, 16, durationTicks.toInt)
      Bin.put32be(p, 20, 0x00010000); p(24) = 1
      Bin.put32be(p, 36, 0x00010000); Bin.put32be(p, 52, 0x00010000)
      Bin.put32be(p, 68, 0x40000000); Bin.put32be(p, 96, 2)
      p
    })
    val tkhd = mp4Box("tkhd", {
      val p = new Array[Byte](84)
      p(3) = 7; Bin.put32be(p, 12, 1); Bin.put32be(p, 20, durationTicks.toInt)
      Bin.put32be(p, 40, 0x00010000); Bin.put32be(p, 56, 0x00010000)
      Bin.put32be(p, 72, 0x40000000)
      Bin.put32be(p, 76, 320 << 16); Bin.put32be(p, 80, 240 << 16)
      p
    })
    val mdhd = mp4Box("mdhd", {
      val p = new Array[Byte](24)
      Bin.put32be(p, 12, timescale); Bin.put32be(p, 16, durationTicks.toInt)
      p(20) = 0x55; p(21) = 0xc4.toByte // language 'und'
      p
    })
    val stts = mp4Box("stts", {
      val p = new Array[Byte](8 + 8 * sttsRuns.size)
      Bin.put32be(p, 4, sttsRuns.size)
      sttsRuns.zipWithIndex.foreach { case ((n, d), i) =>
        Bin.put32be(p, 8 + 8 * i, n); Bin.put32be(p, 12 + 8 * i, d)
      }
      p
    })
    val uniform = forceUniform && sampleSizes.distinct.size == 1
    val stsz = mp4Box("stsz", {
      if (uniform) {
        val p = new Array[Byte](12)
        Bin.put32be(p, 4, sampleSizes.head); Bin.put32be(p, 8, sampleSizes.size)
        p
      } else {
        val p = new Array[Byte](12 + 4 * sampleSizes.size)
        Bin.put32be(p, 4, 0); Bin.put32be(p, 8, sampleSizes.size)
        sampleSizes.zipWithIndex.foreach { case (sz, i) =>
          Bin.put32be(p, 12 + 4 * i, sz)
        }
        p
      }
    })
    val stco = mp4Box("stco", {
      val p = new Array[Byte](8 + 4 * chunkOffsets.size)
      Bin.put32be(p, 4, chunkOffsets.size)
      chunkOffsets.zipWithIndex.foreach { case (o, i) =>
        Bin.put32be(p, 8 + 4 * i, o)
      }
      p
    })
    // stsc run compression: an entry (first_chunk, samples_per_chunk,
    // sample_description_index=1) only where the per-chunk value CHANGES
    val stscEntries = samplesPerChunk.zipWithIndex.collect {
      case (spc, i) if i == 0 || samplesPerChunk(i - 1) != spc => (i + 1, spc)
    }
    val stsc =
      if (samplesPerChunk.isEmpty) Array.emptyByteArray
      else mp4Box("stsc", {
        val p = new Array[Byte](8 + 12 * stscEntries.size)
        Bin.put32be(p, 4, stscEntries.size)
        stscEntries.zipWithIndex.foreach { case ((fc, spc), i) =>
          Bin.put32be(p, 8 + 12 * i, fc)
          Bin.put32be(p, 12 + 12 * i, spc)
          Bin.put32be(p, 16 + 12 * i, 1)
        }
        p
      })
    val stbl = mp4Box("stbl", stsd ++ stts ++ stsc ++ stsz ++ stco)
    val minf = mp4Box("minf", stbl)
    val mdia = mp4Box("mdia", mdhd ++ minf)
    val trak = mp4Box("trak", tkhd ++ mdia)
    val moov = mp4Box("moov", mvhd ++ trak)
    ftyp ++ moov
  }

  /** Parse the sample tables: moov → trak → mdia → minf → stbl →
    * {stts, stsz, stco}. Handles uniform AND per-sample stsz, multiple
    * stts runs; cross-checks the stts total against the stsz count
    * (a malformed pairing fails loudly, as a frame sampler must). */
  private[operators] def oneBox(boxes: List[Mp4Box], typ: String): Mp4Box =
    boxes.find(_.typ == typ).getOrElse(throw new IllegalArgumentException(
      s"MP4 missing $typ box"))

  /** moov → trak → mdia → minf → stbl descent, returning the sample
    * tables (shared by mp4Samples and mp4SampleLocations). */
  private[operators] def stblKids(bytes: Array[Byte]): List[Mp4Box] = {
    require(bytes.length >= 8 &&
      new String(bytes, 4, 4, "US-ASCII") == "ftyp", "not an MP4 payload")
    val moov = oneBox(mp4Walk(bytes, 0, bytes.length), "moov")
    val trak = oneBox(mp4Walk(bytes, moov.start, moov.end), "trak")
    val mdia = oneBox(mp4Walk(bytes, trak.start, trak.end), "mdia")
    val minf = oneBox(mp4Walk(bytes, mdia.start, mdia.end), "minf")
    val stbl = oneBox(mp4Walk(bytes, minf.start, minf.end), "stbl")
    mp4Walk(bytes, stbl.start, stbl.end)
  }

  def mp4Samples(bytes: Array[Byte]): Mp4Samples = {
    def one(boxes: List[Mp4Box], typ: String): Mp4Box = oneBox(boxes, typ)
    val kids = stblKids(bytes)
    val stts = one(kids, "stts")
    // Each table's FIXED header must fit inside its box before any
    // count field is read — a truncated/tiny box would otherwise read
    // the next sibling box's bytes as its own (silently wrong values)
    // instead of failing loudly.
    require(stts.end - stts.start >= 8, "truncated stts header")
    val nRuns = Bin.u32be(bytes, stts.start + 4, bytes.length, "mp4").toInt
    require(nRuns >= 0, "truncated stts")
    Bin.checkRange(stts.start + 8, 8L * nRuns, stts.end, "truncated stts")
    var sttsCount = 0L; var durTicks = 0L
    (0 until nRuns).foreach { i =>
      val n = Bin.u32be(bytes, stts.start + 8 + 8 * i, bytes.length, "mp4").toInt
      val d = Bin.u32be(bytes, stts.start + 12 + 8 * i, bytes.length, "mp4").toInt
      require(n >= 0 && d >= 0, "bad stts run")
      sttsCount += n; durTicks += n.toLong * d
    }
    val stsz = one(kids, "stsz")
    require(stsz.end - stsz.start >= 12, "truncated stsz header")
    val uniformSize = Bin.u32be(bytes, stsz.start + 4, bytes.length, "mp4").toInt
    // u32 read as signed Int: a >2^31 sample_size would go negative and
    // poison totalBytes — out of any sane scope, reject it.
    require(uniformSize >= 0, "bad stsz uniform sample size")
    val nSamples = Bin.u32be(bytes, stsz.start + 8, bytes.length, "mp4").toInt
    require(nSamples >= 0, "bad stsz count")
    require(sttsCount == nSamples,
      s"stts total $sttsCount != stsz count $nSamples")
    var total = 0L; var maxSz = 0
    if (uniformSize != 0) {
      total = uniformSize.toLong * nSamples; maxSz = uniformSize
    } else {
      Bin.checkRange(stsz.start + 12, 4L * nSamples, stsz.end, "truncated stsz")
      var i = 0
      while (i < nSamples) {
        val sz = Bin.u32be(bytes, stsz.start + 12 + 4 * i, bytes.length, "mp4").toInt
        require(sz >= 0, "bad stsz entry")
        total += sz; if (sz > maxSz) maxSz = sz
        i += 1
      }
    }
    val stco = one(kids, "stco")
    require(stco.end - stco.start >= 8, "truncated stco header")
    val nChunks = Bin.u32be(bytes, stco.start + 4, bytes.length, "mp4").toInt
    require(nChunks >= 0, "truncated stco")
    Bin.checkRange(stco.start + 8, 4L * nChunks, stco.end, "truncated stco")
    Mp4Samples(nSamples, total, maxSz, durTicks, nChunks)
  }

  /** Structurally real MP4 WITH DATA: the stsc-bearing moov of
    * encodeMp4SampleShell plus an actual mdat whose payload carries the
    * samples contiguously at the offsets stco records — absolute file
    * offsets, the way real muxers write them. The moov is built twice
    * with identical entry counts (its size is layout-independent), so
    * the second pass records the true mdat-relative offsets. */
  def encodeMp4DataShell(timescale: Int, sttsRuns: Seq[(Int, Int)],
      sampleBytes: Seq[Array[Byte]], samplesPerChunk: Seq[Int],
      stsd: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    val sizes = sampleBytes.map(_.length)
    // chunk-contiguous layout: chunk c starts at the cumulative byte
    // offset of its first sample
    def offsetsFrom(dataStart: Int): Seq[Int] = {
      val firstSample = samplesPerChunk.scanLeft(0)(_ + _).dropRight(1)
      firstSample.map(fs => dataStart + sizes.take(fs).sum)
    }
    val probe = encodeMp4SampleShell(timescale, sttsRuns, sizes,
      offsetsFrom(0), forceUniform = false, samplesPerChunk, stsd)
    val dataStart = probe.length + 8 // moov shell + mdat header
    val shell = encodeMp4SampleShell(timescale, sttsRuns, sizes,
      offsetsFrom(dataStart), forceUniform = false, samplesPerChunk, stsd)
    require(shell.length == probe.length, "moov size must be layout-free")
    val mdat = mp4Box("mdat", sampleBytes.toArray.flatten)
    shell ++ mdat
  }

  final case class Mp4SampleData(sampleIdx: Int, chunkIdx: Int,
      dataOffset: Long, size: Int, byteSum: Long)

  /** Extract every sample's actual bytes: the stsc/stco/stsz location
    * walk (mp4SampleLocations) plus a containment check that each
    * sample's byte range lies INSIDE the mdat payload — a sampler must
    * never silently read moov bytes as media data. Returns per sample
    * the MDAT-RELATIVE offset (the layout-independent quantity) and
    * the unsigned byte sum of the actual slice. */
  def mp4ExtractSamples(bytes: Array[Byte]): Array[Mp4SampleData] = {
    val locs = mp4SampleLocations(bytes)
    val mdat = oneBox(mp4Walk(bytes, 0, bytes.length), "mdat")
    locs.map { l =>
      require(l.offset >= mdat.start,
        s"sample ${l.sampleIdx} [${l.offset}, ${l.offset + l.size}) " +
          s"outside the mdat payload [${mdat.start}, ${mdat.end})")
      Bin.checkRange(l.offset, l.size, mdat.end, "mp4 sample")
      var sum = 0L
      var j = 0
      while (j < l.size) { sum += bytes(l.offset.toInt + j) & 0xff; j += 1 }
      Mp4SampleData(l.sampleIdx, l.chunkIdx, l.offset - mdat.start, l.size, sum)
    }
  }

  /** Extract each sample's raw byte SLICE (same stsc/stco/stsz walk
    * and mdat containment check as mp4ExtractSamples) — the feed a
    * per-sample codec consumes. Slices are defensive copies: a codec
    * must never scribble on (or retain) the shared file buffer. */
  def mp4SampleSlices(bytes: Array[Byte]): Array[(Int, Array[Byte])] = {
    val locs = mp4SampleLocations(bytes)
    val mdat = oneBox(mp4Walk(bytes, 0, bytes.length), "mdat")
    locs.map { l =>
      require(l.offset >= mdat.start,
        s"sample ${l.sampleIdx} [${l.offset}, ${l.offset + l.size}) " +
          s"outside the mdat payload [${mdat.start}, ${mdat.end})")
      Bin.checkRange(l.offset, l.size, mdat.end, "mp4 sample")
      (l.sampleIdx, java.util.Arrays.copyOfRange(
        bytes, l.offset.toInt, l.offset.toInt + l.size))
    }
  }

  /** Decode every sample of an MJPEG-in-MP4 as a baseline/progressive
    * JPEG frame: the composition that closes "video frame pixels"
    * without an H.26x decoder — real MP4s with JPEG-coded tracks
    * (Motion JPEG) are exactly this shape. A sample whose bytes are
    * NOT a JPEG bitstream fails loudly with the sample index (a frame
    * sampler must never hand garbage onward as pixels). */
  def decodeMjpegFrames(bytes: Array[Byte]): Array[(Int, Bmp)] =
    mp4SampleSlices(bytes).map { case (idx, slice) =>
      require(slice.length >= 2 &&
        (slice(0) & 0xff) == 0xff && (slice(1) & 0xff) == 0xd8,
        s"sample $idx is not a JPEG bitstream (no SOI marker) — " +
          "this track is not MJPEG")
      (idx, decodeJpeg(slice))
    }

  /** Closed-form MJPEG-in-MP4: `3 + d%4` frames, frame f a REAL
    * baseline JPEG of the flat-block family with seed d + 1000·f (so
    * DuckDB recomputes every decoded pixel of every frame from
    * (doc_id, frame) alone — the llm_image_decode_jpeg oracle
    * parameterized by frame), packed chunk-contiguously behind a real
    * sample table (2 chunks, so the stsc walk is load-bearing). */
  def synthMjpegMp4(d: Long): Array[Byte] = {
    val n = (3 + d % 4).toInt
    val frames = (0 until n).map(f => synthBaselineJpeg(d + 1000L * f))
    encodeMp4DataShell((600 + 100 * (d % 9)).toInt,
      Seq((n, 512)), frames, Seq(2, n - 2))
  }

  /** Closed-form data-bearing MP4: same sample-count/size/chunk
    * construction as synthMp4Chunks, byte j of sample i =
    * (7·doc + 13·i + j) mod 251 — per-sample AND per-position varying,
    * so an extraction offset that is wrong by even one byte breaks the
    * checksum. */
  /** Alternating k1/k2 samples-per-chunk pattern with a ragged tail —
    * shared by the stsc fixtures; closed-form in (d, n). */
  private def synthChunkPattern(d: Long, n: Int): Seq[Int] = {
    val k1 = (3 + d % 4).toInt; val k2 = (1 + d % 3).toInt
    // J = max chunk count whose pattern total fits inside n samples
    // (scanLeft emits cum(0)=0 first, so J = |cums <= n| - 1)
    val spcFull = Iterator.continually(Seq(k1, k2)).flatten
      .scanLeft(0)(_ + _).takeWhile(_ <= n).size - 1
    val pattern = Iterator.continually(Seq(k1, k2)).flatten.take(spcFull).toSeq
    val covered = pattern.sum
    if (covered < n) pattern :+ (n - covered) else pattern
  }

  def synthMp4Data(d: Long): Array[Byte] = {
    val n = (24 + d % 40).toInt
    val delta = (512 + d % 100).toInt
    val sizes = (0 until n).map(i => (100 + (7 * d + 13 * i) % 900).toInt)
    val payloads = (0 until n).map(i =>
      Array.tabulate(sizes(i))(j => ((7 * d + 13 * i + j) % 251).toByte))
    encodeMp4DataShell((600 + 100 * (d % 9)).toInt,
      Seq((n, delta)), payloads, synthChunkPattern(d, n))
  }

  /** Closed-form sample-table shell: sample count, per-sample sizes,
    * stts run structure, and chunk count all derive from doc_id alone
    * so DuckDB recomputes every feature. Every 4th id exercises the
    * UNIFORM stsz branch (all sizes equal → one size field, no table);
    * ids alternate 1 vs 2 stts runs. */
  def synthMp4Samples(d: Long): Array[Byte] = {
    val n = (24 + d % 40).toInt
    val delta = (512 + d % 100).toInt
    val uniform = d % 4 == 0
    val sizes =
      if (uniform) Seq.fill(n)((200 + d % 300).toInt)
      else (0 until n).map(i => (100 + (7 * d + 13 * i) % 900).toInt)
    val runs =
      if (d % 2 == 0) Seq((n, delta))
      else Seq((n / 2, delta), (n - n / 2, delta + 7))
    encodeMp4SampleShell(
      timescale = (600 + 100 * (d % 9)).toInt,
      sttsRuns = runs, sampleSizes = sizes,
      chunkOffsets = (0 until (1 + d % 5).toInt).map(j => 4096 + 777 * j),
      forceUniform = uniform)
  }

  final case class Mp4SampleLoc(sampleIdx: Int, chunkIdx: Int,
      offset: Long, size: Int)

  /** Sample → chunk → file-offset map: the stsc walk (ISO 14496-12
    * §8.7.4) joined against stco and stsz — the table a frame sampler
    * actually reads to know WHERE each sample's bytes sit before any
    * codec runs. Real MP4s pack multiple samples per chunk, so the
    * per-chunk run table must be expanded: the entry governing chunk c
    * is the last one with first_chunk ≤ c; a sample's offset is its
    * chunk's stco offset plus the sizes of the samples before it in
    * that chunk.
    *
    * Fails loudly on every inconsistency a malformed mux can produce:
    * first_chunk not starting at 1 / not strictly increasing, a
    * non-positive samples-per-chunk, an entry past the stco chunk
    * count, or an stsc expansion whose implied sample total disagrees
    * with stsz (both directions). */
  def mp4SampleLocations(bytes: Array[Byte]): Array[Mp4SampleLoc] = {
    val kids = stblKids(bytes)
    val stsz = oneBox(kids, "stsz")
    require(stsz.end - stsz.start >= 12, "truncated stsz header")
    val uniformSize = Bin.u32be(bytes, stsz.start + 4, bytes.length, "mp4").toInt
    require(uniformSize >= 0, "bad stsz uniform sample size")
    val nSamples = Bin.u32be(bytes, stsz.start + 8, bytes.length, "mp4").toInt
    require(nSamples >= 0, "bad stsz count")
    if (uniformSize == 0)
      Bin.checkRange(stsz.start + 12, 4L * nSamples, stsz.end, "truncated stsz")
    def sizeOf(i: Int): Int =
      if (uniformSize != 0) uniformSize
      else {
        val sz = Bin.u32be(bytes, stsz.start + 12 + 4 * i, bytes.length, "mp4").toInt
        require(sz >= 0, "bad stsz entry"); sz
      }
    val stco = oneBox(kids, "stco")
    require(stco.end - stco.start >= 8, "truncated stco header")
    val nChunks = Bin.u32be(bytes, stco.start + 4, bytes.length, "mp4").toInt
    require(nChunks >= 0, "truncated stco")
    Bin.checkRange(stco.start + 8, 4L * nChunks, stco.end, "truncated stco")
    def chunkOffset(c: Int): Long = // c is 1-based
      Bin.u32be(bytes, stco.start + 8 + 4 * (c - 1), bytes.length,
        "mp4")
    val stsc = oneBox(kids, "stsc")
    require(stsc.end - stsc.start >= 8, "truncated stsc header")
    val nEntries = Bin.u32be(bytes, stsc.start + 4, bytes.length, "mp4").toInt
    require(nEntries >= 1, "truncated stsc")
    Bin.checkRange(stsc.start + 8, 12L * nEntries, stsc.end, "truncated stsc")
    val entries = Array.tabulate(nEntries) { i =>
      (Bin.u32be(bytes, stsc.start + 8 + 12 * i, bytes.length, "mp4").toInt,
        Bin.u32be(bytes, stsc.start + 12 + 12 * i, bytes.length, "mp4").toInt)
    }
    require(entries(0)._1 == 1, "stsc first entry must cover chunk 1")
    (1 until nEntries).foreach { i =>
      require(entries(i)._1 > entries(i - 1)._1,
        "stsc first_chunk values must be strictly increasing")
    }
    entries.foreach { case (fc, spc) =>
      require(spc > 0, "stsc samples-per-chunk must be positive")
      require(fc <= nChunks || nChunks == 0,
        s"stsc entry for chunk $fc exceeds the $nChunks-chunk stco")
    }
    val out = new Array[Mp4SampleLoc](nSamples)
    var e = 0; var s = 0; var c = 1
    while (c <= nChunks) {
      while (e + 1 < nEntries && entries(e + 1)._1 <= c) e += 1
      val spc = entries(e)._2
      var off = chunkOffset(c)
      var k = 0
      while (k < spc) {
        require(s < nSamples,
          s"stsc implies more than the $nSamples stsz samples")
        val sz = sizeOf(s)
        out(s) = Mp4SampleLoc(s, c, off, sz)
        off += sz; s += 1; k += 1
      }
      c += 1
    }
    require(s == nSamples,
      s"stsc expansion yields $s samples over $nChunks chunks, stsz has $nSamples")
    out
  }

  /** Closed-form stsc-bearing shell: per-sample sizes, alternating
    * samples-per-chunk patterned from doc_id (the last chunk ragged),
    * chunks CONTIGUOUS from a doc-varying base offset — so DuckDB
    * recomputes every sample's (chunk, offset, size) with integer
    * arithmetic + one prefix sum. k1 == k2 ids collapse the stsc to a
    * single run entry, so the run compression is load-bearing too. */
  def synthMp4Chunks(d: Long): Array[Byte] = {
    val n = (24 + d % 40).toInt
    val delta = (512 + d % 100).toInt
    val sizes = (0 until n).map(i => (100 + (7 * d + 13 * i) % 900).toInt)
    val spc = synthChunkPattern(d, n)
    val base = 4096L + d % 512
    val offsets = spc.scanLeft(0)(_ + _).dropRight(1)
      .map(firstSample => (base + sizes.take(firstSample).map(_.toLong).sum).toInt)
    encodeMp4SampleShell(
      timescale = (600 + 100 * (d % 9)).toInt,
      sttsRuns = Seq((n, delta)), sampleSizes = sizes,
      chunkOffsets = offsets, samplesPerChunk = spc)
  }

  // ------------------------------------------- deterministic generators

  /** Closed-form pixel: DuckDB recomputes these exact integers from
    * (doc_id, x, y) — the cross-engine contract for the decode path. */
  def synthPixel(d: Long, x: Int, y: Int): (Int, Int, Int) = (
    ((d + x + 11L * y) % 256).toInt,
    ((3L * d + 7L * x + y) % 256).toInt,
    ((5L * d + 2L * x + 3L * y) % 256).toInt)

  def synthBmp(d: Long, width: Int = 16, height: Int = 12): Bmp =
    Bmp(width, height, Array.tabulate(height, width)((y, x) => synthPixel(d, x, y)))

  /** Closed-form PCM sample in [-1000, 1000]. */
  def synthSample(d: Long, i: Int): Int =
    (((i.toLong * (37L + d % 13) + d) % 2001L) - 1000L).toInt

  def synthWav(d: Long, n: Int = 2000, sampleRate: Int = 8000): Wav =
    Wav(sampleRate, Array.tabulate(n)(i => synthSample(d, i)))

  /** Closed-form 8x8-BLOCK-CONSTANT image for the baseline-JPEG oracle:
    * flat blocks have only a DC coefficient, so with unit quant tables
    * the full decode is LOSSLESS (see the JPEG header comment) and
    * DuckDB can recompute every decoded pixel with integer arithmetic.
    * d%5==0 → grayscale (matches the synthJpeg metadata convention);
    * dimensions are deliberately non-multiples of 8 so edge-block
    * padding/cropping is load-bearing. */
  def synthJpegImage(d: Long): Bmp = {
    val w = (24 + d % 13).toInt; val h = (16 + d % 11).toInt
    Bmp(w, h, Array.tabulate(h, w) { (y, x) =>
      val bx = x / 8; val by = y / 8
      val r = ((d + 17 * bx + 29 * by) % 256).toInt
      val g = ((3 * d + 11 * bx + 7 * by) % 256).toInt
      val b = ((5 * d + 13 * bx + 19 * by) % 256).toInt
      if (d % 5 == 0) (r, r, r) else (r, g, b)
    })
  }

  /** Closed-form REAL baseline JPEG: gray/color per d%5, restart
    * interval cycling 0-3 MCUs so the RST path is exercised across the
    * fixture, unit quant tables for the lossless-decode contract. */
  def synthBaselineJpeg(d: Long): Array[Byte] =
    encodeJpeg(synthJpegImage(d), gray = d % 5 == 0,
      restartInterval = (d % 4).toInt)

  /** Per-doc constant GRAY-AXIS OFFSETS for the 4:2:0 fixtures, in
    * [-10, 10]. Pixels (v+a, v+g, v+b) have EXACTLY constant chroma
    * under the fixed-point forward transform — the v terms cancel
    * (−168736 − 331264 + 500000 = 0 for Cb, likewise Cr) and the floor
    * applies to a v-independent remainder — while Y = v + floor(K/1000)
    * tracks the per-block v. That is what makes full 4:2:0 decode
    * closed-form: flat Y blocks are DC-lossless under unit quant, and
    * the corpus-wide-constant chroma is invariant under BOTH the 2x2
    * box downsample and any upsampling filter. */
  def synth420Offsets(d: Long): (Int, Int, Int) =
    (((d % 21) - 10).toInt, (((3 * d) % 21) - 10).toInt,
      (((5 * d) % 21) - 10).toInt)

  /** Closed-form image for the 4:2:0 oracle: luma constant per 16x16
    * MCU (so all four Y blocks of an MCU are flat), chroma constant
    * over the whole image (see synth420Offsets). v ∈ [20, 219] keeps
    * every channel inside [10, 229] — no clamp ever fires. Dimensions
    * deliberately non-multiples of 16 so edge-MCU padding/cropping and
    * the chroma half-plane rounding are load-bearing. */
  def synthJpegImage420(d: Long): Bmp = {
    val w = (40 + d % 27).toInt; val h = (24 + d % 23).toInt
    val (a, g, b) = synth420Offsets(d)
    Bmp(w, h, Array.tabulate(h, w) { (y, x) =>
      val mx = x / 16; val my = y / 16
      val v = (20 + (d + 31 * mx + 47 * my) % 200).toInt
      (v + a, v + g, v + b)
    })
  }

  /** Closed-form REAL 4:2:0 baseline JPEG: 2x2-subsampled color, unit
    * quant tables, restart interval cycling 0-3 MCUs. */
  def synthBaselineJpeg420(d: Long): Array[Byte] =
    encodeJpeg(synthJpegImage420(d), subsample = true,
      restartInterval = (d % 4).toInt)

  /** Closed-form REAL 4:2:2 baseline JPEG: 2x1-subsampled color over
    * the same MCU-flat constant-chroma image family (16x8 MCUs are
    * flat because the luma is constant per 16x16), unit quant tables,
    * restart interval cycling 0-3 MCUs. */
  def synthBaselineJpeg422(d: Long): Array[Byte] =
    encodeJpeg(synthJpegImage420(d), subsample422 = true,
      restartInterval = (d % 4).toInt)

  /** Closed-form REAL 4:1:1 baseline JPEG (luma 4x1 — DV-lineage):
    * the same constant-chroma image works because 16x16-constant luma
    * is a fortiori constant per 8x8 block (every 32x8 MCU's four luma
    * blocks are flat), and the globally-constant chroma survives the
    * 4x1 box downsample and the replication upsample exactly — so the
    * IDENTICAL integer oracle covers a fourth sampling geometry. */
  def synthBaselineJpeg411(d: Long): Array[Byte] =
    encodeJpeg(synthJpegImage420(d), subsample411 = true,
      restartInterval = (d % 4).toInt)

  /** Closed-form REAL vertical-only (luma 1x2) baseline JPEG — the
    * transposed-4:2:2 layout some scanners/rotated pipelines emit.
    * Same fixture family, same oracle, 8x16 MCUs. */
  def synthBaselineJpegH1v2(d: Long): Array[Byte] =
    encodeJpeg(synthJpegImage420(d), subsampleH1v2 = true,
      restartInterval = (d % 4).toInt)

  /** Closed-form REAL PROGRESSIVE (SOF2) JPEG over the same flat-block
    * images as the baseline fixture — DC successive approximation +
    * EOB-run AC scans, losslessly decodable, so the SAME integer
    * oracle covers both frame types. */
  def synthProgressiveJpeg(d: Long): Array[Byte] =
    encodeJpegProgressive(synthJpegImage(d), gray = d % 5 == 0,
      restartInterval = (d % 4).toInt)

  /** Closed-form JPEG shell — every field the DuckDB oracle recomputes
    * from doc_id alone. Odd ids are progressive (SOF2), every 5th is
    * grayscale (1 component), and the COM length varies per doc so the
    * marker walk's segment skipping is load-bearing. */
  def synthJpeg(d: Long): Array[Byte] =
    encodeJpegShell(
      width = (64 + d % 193).toInt,
      height = (48 + (3 * d) % 157).toInt,
      nComponents = if (d % 5 == 0) 1 else 3,
      progressive = d % 2 == 1,
      commentLen = (10 + d % 40).toInt)

  /** Closed-form MP4 metadata shell: every 3rd id uses a v1 (64-bit)
    * mvhd, odd ids get an extra free box inside moov, and the top-level
    * free box length varies — the box walk cannot assume fixed offsets. */
  def synthMp4(d: Long): Array[Byte] =
    encodeMp4Meta(
      Mp4Meta(
        timescale = (600 + 100 * (d % 9)).toInt,
        durationS = 5 + d % 60,
        width = (320 + 16 * (d % 7)).toInt,
        height = (240 + 16 * (d % 5)).toInt,
        trackId = (1 + d % 3).toInt,
        mvhdVersion = if (d % 3 == 0) 1 else 0),
      freeLen = (d % 32).toInt,
      innerFree = d % 2 == 1)

  // ---------------------------------------------------- WARC (ISO 28500)
  // The web-archive container Common-Crawl-scale corpora actually ship
  // in: a 100 TB text-curation pipeline's FIRST operation is walking
  // WARC records out of (usually per-record-gzipped) archive files.
  // The parser is a real one — header fields in any order and case,
  // bounded header counts/line lengths, loud failures on truncation,
  // bad framing, or a missing mandatory field — and the gzip form
  // reads the concatenated per-record members WARC specifies through
  // Gzip's member walk, every trailer checked.

  final case class WarcRecord(recIdx: Int, recType: String,
      targetUri: String, contentLength: Int, payloadStart: Int)

  /** Parse a plain (uncompressed) WARC file into its records. */
  def warcRecords(bytes: Array[Byte]): Array[WarcRecord] = {
    val out = collection.mutable.ArrayBuffer.empty[WarcRecord]
    var pos = 0
    def line(): String = {
      var e = pos
      val cap = math.min(bytes.length - 1, pos + 4096)
      while (e < cap && !(bytes(e) == '\r' && bytes(e + 1) == '\n')) e += 1
      require(e < cap || (e < bytes.length - 1 &&
        bytes(e) == '\r' && bytes(e + 1) == '\n'),
        s"WARC header line at $pos unterminated (or > 4096 bytes)")
      val s = new String(bytes, pos, e - pos, "UTF-8")
      pos = e + 2
      s
    }
    var rec = 0
    while (pos < bytes.length) {
      val magic = line()
      require(magic == "WARC/1.0" || magic == "WARC/1.1",
        s"record $rec: bad WARC version line '$magic'")
      var typ: String = null; var uri = ""; var clen = -1
      var h = line()
      var nHeaders = 0
      while (h.nonEmpty) {
        require(nHeaders < 64, s"record $rec: too many WARC headers")
        val i = h.indexOf(':')
        require(i > 0, s"record $rec: malformed WARC header '$h'")
        val v = h.substring(i + 1).trim
        h.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT) match {
          case "warc-type" => typ = v
          case "warc-target-uri" => uri = v
          case "content-length" =>
            clen = v.toInt // NumberFormatException IS the loud contract
            require(clen >= 0, s"record $rec: negative Content-Length")
          case _ => ()
        }
        h = line(); nHeaders += 1
      }
      require(typ != null, s"record $rec: missing WARC-Type")
      require(clen >= 0, s"record $rec: missing Content-Length")
      require(pos + clen + 4 <= bytes.length,
        s"record $rec: truncated payload (need ${clen + 4} at $pos)")
      val start = pos
      pos += clen
      require(bytes(pos) == '\r' && bytes(pos + 1) == '\n' &&
        bytes(pos + 2) == '\r' && bytes(pos + 3) == '\n',
        s"record $rec: missing record separator after payload")
      pos += 4
      out += WarcRecord(rec, typ, uri, clen, start)
      rec += 1
    }
    out.toArray
  }

  /** Records of a per-record-gzipped WARC (concatenated members). */
  def warcRecordsGz(bytes: Array[Byte]): (Array[Byte], Array[WarcRecord]) = {
    val plain = Gzip.gunzip(bytes)
    (plain, warcRecords(plain))
  }

  /** Closed-form WARC: 4 + d%5 records — record 0 warcinfo, odd
    * records response (with a Target-URI), even records metadata.
    * Payload length 50 + (7d+13i)%200, byte j = (3d+5i+j)%251 — every
    * feature (type, uri, length, byte sum) integer-recomputable from
    * (doc_id, record) alone, and per-position-varying content makes a
    * one-byte framing error break the checksum. */
  def synthWarc(d: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val n = (4 + d % 5).toInt
    (0 until n).foreach { i =>
      val typ =
        if (i == 0) "warcinfo" else if (i % 2 == 1) "response" else "metadata"
      val clen = (50 + (7 * d + 13 * i) % 200).toInt
      val hdr = new StringBuilder()
        .append("WARC/1.0\r\n")
        .append(s"WARC-Type: $typ\r\n")
        .append(s"WARC-Record-ID: <urn:uuid:$d-$i>\r\n")
      if (typ == "response")
        hdr.append(s"WARC-Target-URI: http://site$d.example/page$i\r\n")
      hdr.append(s"Content-Length: $clen\r\n").append("\r\n")
      out.write(hdr.toString.getBytes("UTF-8"))
      (0 until clen).foreach(j => out.write(((3 * d + 5 * i + j) % 251).toInt))
      out.write("\r\n\r\n".getBytes("UTF-8"))
    }
    out.toByteArray
  }

  /** The same records as synthWarc, one gzip member per record — the
    * layout real WARC archives use so records are independently
    * seekable. */
  def synthWarcGz(d: Long): Array[Byte] = warcGz(synthWarc(d))

  /** One gzip member per record of a plain WARC file: the member is
    * the record's full byte span, headers through the separator. */
  private def warcGz(plain: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var from = 0
    warcRecords(plain).foreach { r =>
      val to = r.payloadStart + r.contentLength + 4
      out.write(Deflate.gzip(plain, from, to - from))
      from = to
    }
    out.toByteArray
  }

  // --------------------------------------------------- HTTP/1.1 (RFC 9112)
  // The payload of a WARC `response` record IS an HTTP message — the
  // second operation of a web-corpus pipeline is framing the entity
  // body out of it. This is a real message parser: status line,
  // any-order/any-case headers, Content-Length AND chunked
  // transfer-coding bodies, loud failures on truncation, bad chunk
  // framing, or a missing length. Bounds mirror the WARC parser's
  // (header count/line length) so fuzzed corruption terminates loudly.

  final case class HttpResponse(status: Int, reason: String,
      headers: Array[(String, String)], body: Array[Byte]) {
    def header(name: String): Option[String] = {
      val n = name.toLowerCase(java.util.Locale.ROOT)
      headers.collectFirst { case (k, v) if k == n => v }
    }
  }

  /** Parse one HTTP/1.x response message occupying `bytes` exactly. */
  def httpParse(bytes: Array[Byte]): HttpResponse = {
    var pos = 0
    def line(): String = {
      var e = pos
      val cap = math.min(bytes.length - 1, pos + 4096)
      while (e < cap && !(bytes(e) == '\r' && bytes(e + 1) == '\n')) e += 1
      require(e < cap || (e < bytes.length - 1 &&
        bytes(e) == '\r' && bytes(e + 1) == '\n'),
        s"HTTP line at $pos unterminated (or > 4096 bytes)")
      val s = new String(bytes, pos, e - pos, "ISO-8859-1")
      pos = e + 2
      s
    }
    val status = line()
    require(status.startsWith("HTTP/1.0 ") || status.startsWith("HTTP/1.1 "),
      s"bad HTTP status line '${status.take(40)}'")
    val sp2 = status.indexOf(' ', 9)
    require(sp2 > 9, s"bad HTTP status line '${status.take(40)}'")
    val code = status.substring(9, sp2).toInt // NFE IS the loud contract
    require(code >= 100 && code <= 599, s"HTTP status $code out of range")
    val reason = status.substring(sp2 + 1)
    val hdrs = collection.mutable.ArrayBuffer.empty[(String, String)]
    var h = line()
    while (h.nonEmpty) {
      require(hdrs.length < 64, "too many HTTP headers")
      val i = h.indexOf(':')
      require(i > 0, s"malformed HTTP header '${h.take(40)}'")
      hdrs += ((h.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT), h.substring(i + 1).trim))
      h = line()
    }
    val te = hdrs.collectFirst { case ("transfer-encoding", v) => v }
    val body: Array[Byte] =
      if (te.exists(_.equalsIgnoreCase("chunked"))) {
        // chunk = hex-size CRLF data CRLF, terminated by a 0 chunk
        val out = new java.io.ByteArrayOutputStream()
        var done = false
        while (!done) {
          val szLine = line()
          require(szLine.nonEmpty && szLine.forall(c =>
            Character.digit(c, 16) >= 0), s"bad chunk size '$szLine'")
          require(szLine.length <= 7, s"chunk size '$szLine' too large")
          val sz = Integer.parseInt(szLine, 16)
          if (sz == 0) done = true
          else {
            require(pos + sz + 2 <= bytes.length, "truncated chunk data")
            out.write(bytes, pos, sz)
            pos += sz
            require(bytes(pos) == '\r' && bytes(pos + 1) == '\n',
              "missing CRLF after chunk data")
            pos += 2
          }
        }
        // terminal CRLF after the last-chunk line (no trailers emitted)
        require(pos + 2 <= bytes.length &&
          bytes(pos) == '\r' && bytes(pos + 1) == '\n',
          "missing terminal CRLF after last chunk")
        pos += 2
        out.toByteArray
      } else {
        val cl = hdrs.collectFirst { case ("content-length", v) => v }
        require(cl.isDefined, "HTTP message has neither Content-Length " +
          "nor chunked Transfer-Encoding")
        val n = cl.get.toInt
        require(n >= 0, "negative Content-Length")
        Bin.checkRange(pos, n, bytes.length, "truncated HTTP body")
        val b = java.util.Arrays.copyOfRange(bytes, pos, pos + n)
        pos += n
        b
      }
    require(pos == bytes.length,
      s"${bytes.length - pos} trailing bytes after HTTP body")
    HttpResponse(code, reason, hdrs.toArray, body)
  }

  /** Closed-form HTML page for (doc d, record i) — every feature the
    * extractor emits (title, word count, link targets, visible text)
    * is integer-recomputable. The page exercises the extractor's
    * whole surface: head/title, script AND style (must be skipped),
    * a comment, entity references in text and in an attribute value,
    * and adjacent-tag text nodes (the tag-is-a-separator rule). */
  def synthHtml(d: Long, i: Int): String = {
    val np = (2 + (d + i) % 3).toInt
    val nl = ((3 * d + i) % 4).toInt
    val card = if ((d + i) % 2 == 0) "summary" else "summary_large_image"
    val ldType = Seq("Article", "NewsArticle", "BlogPosting")(
      ((d + i) % 3).toInt)
    val ldPos = (3 * d + i) % 7
    val sb = new StringBuilder()
      .append(s"<html><head><title>Doc $d page $i</title>")
      // structured data: og:/twitter: meta (entity ref in an
      // ATTRIBUTE value) + an application/ld+json block — the
      // crawl-curation metadata llm_html_metadata mines; invisible
      // to the text extractor, so every text oracle is unchanged
      .append(s"""<meta property="og:title" content="Doc $d &amp; page $i"/>""")
      .append(s"""<meta property="og:image" content="http://img$d.example/p$i.webp"/>""")
      .append(s"""<meta name="twitter:card" content="$card"/>""")
      .append(s"<script>var x = $d*$i;</script>")
      .append("<style>p { color: #123; }</style>")
      .append(s"""<script type="application/ld+json">{"@type":"$ldType","name":"Doc $d page $i","position":$ldPos}</script>""")
      .append("</head>")
      .append(s"<body><h1>Heading $d-$i</h1><!-- comment $d -->")
    (0 until np).foreach(p =>
      sb.append(s"<p>word${d}_${i}_$p text &amp; entity $p</p>"))
    (0 until nl).foreach(l =>
      sb.append(s"""<a href="http://ref$l.example/x?d=$d&amp;l=$l">""")
        .append(s"link $l</a>"))
    sb.append("</body></html>").toString
  }

  // ----------------------------------------------------------- GIF (LZW)
  // GIF87a/89a — the one common web-image format whose compression
  // (LZW with variable-width codes) is NOT in the JDK's zip machinery,
  // so both directions are implemented from the spec: the encoder is a
  // real LZW compressor (dictionary growth, width bumps, 4096-entry
  // reset) and the decoder handles the KwKwK case, deferred clears,
  // interlacing, and 89a extension blocks, failing loudly on bad
  // codes, truncation, or malformed sub-block framing.

  /** Paletted image: `idx(y)(x)` indexes `palette` (RGB triples). */
  final case class PalImage(width: Int, height: Int,
      palette: Array[(Int, Int, Int)], idx: Array[Array[Int]])

  private def gifBits(nColors: Int): Int = {
    var b = 1
    while ((1 << b) < nColors) b += 1
    b
  }

  /** LZW-compress pixel indices (GIF variant): variable code width
    * from codeSize+1 to 12 bits, CLEAR on dictionary overflow. */
  private def lzwCompress(indices: Array[Int], codeSize: Int): Array[Byte] = {
    val clear = 1 << codeSize
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var nBits = 0
    var width = codeSize + 1
    def emit(code: Int): Unit = {
      bitBuf |= code.toLong << nBits; nBits += width
      while (nBits >= 8) {
        out.write((bitBuf & 0xff).toInt); bitBuf >>>= 8; nBits -= 8
      }
    }
    var dict = collection.mutable.HashMap.empty[String, Int]
    var next = eoi + 1
    def reset(): Unit = { dict = collection.mutable.HashMap.empty
      next = eoi + 1; width = codeSize + 1 }
    emit(clear)
    var cur = ""
    indices.foreach { k =>
      val ch = k.toChar.toString
      val ext = cur + ch
      // single indices are implicit dictionary entries
      if (cur.isEmpty || dict.contains(ext)) cur = ext
      else {
        val code = if (cur.length == 1) cur.charAt(0).toInt else dict(cur)
        emit(code)
        dict(ext) = next; next += 1
        if (next == (1 << width) + 1 && width < 12) width += 1
        if (next == 4096) { emit(clear); reset() }
        cur = ch
      }
    }
    if (cur.nonEmpty)
      emit(if (cur.length == 1) cur.charAt(0).toInt else dict(cur))
    emit(eoi)
    if (nBits > 0) out.write((bitBuf & 0xff).toInt)
    out.toByteArray
  }

  /** Encode a paletted image as GIF89a; `interlaced` uses the 4-pass
    * row order. Palette size must be a power of two in [2, 256]. */
  def encodeGif(img: PalImage, interlaced: Boolean = false): Array[Byte] = {
    val nc = img.palette.length
    require(nc >= 2 && nc <= 256 && (nc & (nc - 1)) == 0,
      s"GIF palette size $nc not a power of two in [2,256]")
    val bits = gifBits(nc)
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = out.write(Bin.le16(v))
    out.write("GIF89a".getBytes("US-ASCII"))
    u16(img.width); u16(img.height)
    out.write(0x80 | ((bits - 1) << 4) | (bits - 1)) // GCT present
    out.write(0); out.write(0) // bg index, aspect
    img.palette.foreach { case (r, g, b) =>
      out.write(r); out.write(g); out.write(b) }
    // a Graphic Control Extension, so the decoder's 89a path is real
    out.write(0x21); out.write(0xf9); out.write(4)
    out.write(0); u16(0); out.write(0); out.write(0)
    out.write(0x2c) // image descriptor
    u16(0); u16(0); u16(img.width); u16(img.height)
    out.write(if (interlaced) 0x40 else 0x00) // no local table
    val codeSize = math.max(2, bits)
    out.write(codeSize)
    val rows =
      if (!interlaced) (0 until img.height).toArray
      else Array(0 until img.height by 8, 4 until img.height by 8,
        2 until img.height by 4, 1 until img.height by 2).flatten
    val indices = rows.flatMap(y => img.idx(y))
    val lzw = lzwCompress(indices, codeSize)
    var off = 0
    while (off < lzw.length) {
      val n = math.min(255, lzw.length - off)
      out.write(n); out.write(lzw, off, n); off += n
    }
    out.write(0) // block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** Encode an ANIMATED GIF89a: shared global palette, a NETSCAPE
    * loop extension (so the app-extension skip path is on the oracle
    * path), one GCE (delay, centiseconds) per full-canvas frame. */
  def encodeGifAnim(frames: Seq[PalImage], delaysCs: Seq[Int]): Array[Byte] = {
    require(frames.nonEmpty && frames.length == delaysCs.length,
      "encodeGifAnim: frames/delays mismatch")
    val f0 = frames.head
    require(frames.forall(f => f.width == f0.width && f.height == f0.height
      && (f.palette sameElements f0.palette)),
      "encodeGifAnim: frames must share canvas and palette")
    val nc = f0.palette.length
    val bits = gifBits(nc)
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = out.write(Bin.le16(v))
    out.write("GIF89a".getBytes("US-ASCII"))
    u16(f0.width); u16(f0.height)
    out.write(0x80 | ((bits - 1) << 4) | (bits - 1))
    out.write(0); out.write(0)
    f0.palette.foreach { case (r, g, b) =>
      out.write(r); out.write(g); out.write(b) }
    // NETSCAPE2.0 application extension (infinite loop)
    out.write(0x21); out.write(0xff); out.write(11)
    out.write("NETSCAPE2.0".getBytes("US-ASCII"))
    out.write(3); out.write(1); u16(0); out.write(0)
    frames.zip(delaysCs).foreach { case (f, delay) =>
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write(0); u16(delay); out.write(0); out.write(0)
      out.write(0x2c)
      u16(0); u16(0); u16(f.width); u16(f.height)
      out.write(0x00)
      val codeSize = math.max(2, bits)
      out.write(codeSize)
      val lzw = lzwCompress(f.idx.flatten, codeSize)
      var off = 0
      while (off < lzw.length) {
        val n = math.min(255, lzw.length - off)
        out.write(n); out.write(lzw, off, n); off += n
      }
      out.write(0)
    }
    out.write(0x3b)
    out.toByteArray
  }

  /** Closed-form animated fixture: 2 + d%3 frames over synthGif(d)'s
    * canvas/palette, frame f's pixel index shifted by 7f, delay
    * 4 + (d+f)%6 cs — every frame's RGB and every delay
    * integer-recomputable. */
  def synthGifAnim(d: Long): (Seq[PalImage], Seq[Int]) = {
    val base = synthGif(d)
    val nc = base.palette.length
    val nf = (2 + d % 3).toInt
    val frames = (0 until nf).map { f =>
      base.copy(idx = Array.tabulate(base.height, base.width)(
        (y, x) => ((d + 3 * x + 5 * y + 7 * f) % nc).toInt))
    }
    (frames, (0 until nf).map(f => (4 + (d + f) % 6).toInt))
  }

  /** Decode a GIF (first frame) to RGB pixels via its color table. */
  def decodeGif(bytes: Array[Byte]): Bmp = decodeGifFrames(bytes).head._2

  /** Decode ALL frames of a (possibly animated) GIF with their GCE
    * delays in centiseconds — the frame-sampling primitive for the
    * one animated format the web actually ships. Frames must be
    * full-canvas (this decoder declares no sub-rectangle composition
    * or disposal blending). */
  def decodeGifFrames(bytes: Array[Byte]): Array[(Int, Bmp)] = {
    val in = new Bin.Cursor(bytes, 0, bytes.length, "GIF truncated")
    require(bytes.length >= 6 && {
      val m = new String(bytes, 0, 6, "US-ASCII")
      m == "GIF87a" || m == "GIF89a"
    }, "not a GIF: bad magic")
    in.pos = 6
    val width = in.u16le(); val height = in.u16le()
    require(width > 0 && height > 0 && width <= (1 << 14) &&
      height <= (1 << 14), s"GIF dims ${width}x$height out of range")
    // bound total allocation BEFORE buffers exist: a crafted header
    // claiming 16384x16384 would otherwise allocate ~1 GB up front
    require(width.toLong * height <= (1L << 24),
      s"GIF pixel count ${width.toLong * height} exceeds decoder cap")
    val flags = in.u8(); in.u8(); in.u8() // bg, aspect
    val gct: Array[(Int, Int, Int)] =
      if ((flags & 0x80) != 0) {
        val n = 2 << (flags & 7)
        Array.fill(n)((in.u8(), in.u8(), in.u8()))
      } else Array.empty
    def decodeImage(): Bmp = {
      val ix = in.u16le(); val iy = in.u16le(); val iw = in.u16le()
      val ih = in.u16le()
      require(ix == 0 && iy == 0 && iw == width && ih == height,
        "GIF: sub-rectangle frames not supported by this decoder")
      val iflags = in.u8()
      val interlaced = (iflags & 0x40) != 0
      val table: Array[(Int, Int, Int)] =
        if ((iflags & 0x80) != 0) {
          val n = 2 << (iflags & 7)
          Array.fill(n)((in.u8(), in.u8(), in.u8()))
        } else gct
      require(table.nonEmpty, "GIF: no color table")
      val codeSize = in.u8()
      require(codeSize >= 2 && codeSize <= 11, s"GIF: bad LZW size $codeSize")
      // concatenate sub-blocks
      val data = new java.io.ByteArrayOutputStream()
      var len = in.u8()
      while (len != 0) {
        in.skip(len); data.write(bytes, in.pos - len, len); len = in.u8()
      }
      val lzw = data.toByteArray
      // LZW decode
      val clear = 1 << codeSize
      val eoi = clear + 1
      val nPix = width * height
      val outIdx = new Array[Int](nPix)
      var outN = 0
      var width2 = codeSize + 1
      val prefix = new Array[Int](4096)
      val suffix = new Array[Int](4096)
      var next = eoi + 1
      var bitPos = 0
      def readCode(): Int = {
        var v = 0; var got = 0
        while (got < width2) {
          require(bitPos / 8 < lzw.length, "GIF LZW stream truncated")
          val byte = lzw(bitPos / 8) & 0xff
          val avail = 8 - (bitPos % 8)
          val take = math.min(avail, width2 - got)
          v |= (((byte >> (bitPos % 8)) & ((1 << take) - 1)) << got)
          got += take; bitPos += take
        }
        v
      }
      def expand(code: Int, extra: Int): Unit = {
        // walk the prefix chain; emit in forward order via a scratch
        val chain = collection.mutable.ArrayBuffer.empty[Int]
        var c = code
        var guard = 0
        while (c >= clear + 2) {
          chain += suffix(c); c = prefix(c)
          guard += 1
          require(guard <= 4096, "GIF LZW prefix cycle")
        }
        chain += c // root literal
        require(c < clear, s"GIF LZW root $c out of palette range")
        val start = outN
        require(outN + chain.length + (if (extra >= 0) 1 else 0) <= nPix,
          "GIF LZW emits more pixels than the frame holds")
        var i = chain.length - 1
        while (i >= 0) { outIdx(outN) = chain(i); outN += 1; i -= 1 }
        if (extra >= 0) { outIdx(outN) = outIdx(start); outN += 1 }
      }
      var prev = -1
      var done = false
      while (!done && outN < nPix) {
        val code = readCode()
        if (code == clear) { next = eoi + 1; width2 = codeSize + 1; prev = -1 }
        else if (code == eoi) done = true
        else {
          require(code <= next, s"GIF LZW code $code beyond dictionary")
          if (prev < 0) {
            require(code < clear, s"GIF LZW first code $code not a literal")
            outIdx(outN) = code; outN += 1
          } else {
            val kwkwk = code == next
            if (kwkwk) {
              // entry being defined: prev + first(prev)
              expand(prev, extra = 0)
            } else expand(code, extra = -1)
            if (next < 4096) {
              prefix(next) = prev
              // new entry = string(prev) + first(string(code)); in the
              // KwKwK case code == next, whose first equals first(prev)
              suffix(next) =
                firstOf(if (kwkwk) prev else code, prefix, clear)
              next += 1
              if (next == (1 << width2) && width2 < 12) width2 += 1
            }
          }
          prev = code
        }
      }
      require(outN == nPix,
        s"GIF: decoded $outN of $nPix pixels before stream end")
      val rows =
        if (!interlaced) (0 until height).toArray
        else Array(0 until height by 8, 4 until height by 8,
          2 until height by 4, 1 until height by 2).flatten
      val px = Array.ofDim[(Int, Int, Int)](height, width)
      rows.zipWithIndex.foreach { case (y, r) =>
        (0 until width).foreach { x =>
          val i = outIdx(r * width + x)
          require(i < table.length, s"GIF pixel index $i beyond palette")
          px(y)(x) = table(i)
        }
      }
      Bmp(width, height, px)
    }
    val frames = collection.mutable.ArrayBuffer.empty[(Int, Bmp)]
    var delayCs = 0
    var b = in.u8()
    while (b != 0x3b) {
      if (b == 0x21) {
        val label = in.u8()
        var len = in.u8()
        var firstBlock = true
        while (len != 0) { // sub-blocks
          in.skip(len)
          // Graphic Control Extension: capture the frame delay
          if (label == 0xf9 && firstBlock && len >= 3)
            delayCs = Bin.u16le(bytes, in.pos - len + 1, bytes.length)
          firstBlock = false
          len = in.u8()
        }
      } else {
        require(b == 0x2c, f"GIF: expected image descriptor, got 0x$b%02x")
        frames += ((delayCs, decodeImage()))
        delayCs = 0
      }
      b = in.u8()
    }
    require(frames.nonEmpty, "GIF: no image data before trailer")
    frames.toArray
  }

  private def firstOf(code: Int, prefix: Array[Int], clear: Int): Int = {
    var c = code
    while (c >= clear + 2) c = prefix(c)
    c
  }

  /** Closed-form paletted fixture: palette entry i of doc d is
    * ((7i+d)%256, (11i+2d)%256, (13i+3d)%256); pixel (x,y) uses index
    * (d + 3x + 5y) % nColors with nColors = 2^(2 + d%4); dimensions
    * 20+d%13 × 14+d%9 (odd sizes so interlace pass boundaries are
    * load-bearing). Every decoded RGB is integer-recomputable. */
  def synthGif(d: Long): PalImage = {
    val w = (20 + d % 13).toInt
    val h = (14 + d % 9).toInt
    val nc = 1 << (2 + d % 4).toInt
    PalImage(w, h,
      Array.tabulate(nc)(i =>
        (((7 * i + d) % 256).toInt, ((11 * i + 2 * d) % 256).toInt,
          ((13 * i + 3 * d) % 256).toInt)),
      Array.tabulate(h, w)((y, x) => ((d + 3 * x + 5 * y) % nc).toInt))
  }

  // ------------------------------------------------------ text charsets
  // Crawl bytes arrive in whatever encoding the server declared, and
  // UTF-8 payloads arrive CORRUPTED — a real ingest decodes by the
  // declared charset and validates UTF-8 strictly, counting
  // replacements so quality gates can drop mojibake documents.

  /** Strict UTF-8 decode with U+FFFD replacement: validates
    * continuation bytes, rejects overlong encodings, surrogates, and
    * values beyond U+10FFFF. On an invalid sequence: emit one U+FFFD,
    * advance one byte (declared rule — simple, deterministic, and
    * what the oracle recomputes). Returns (decoded, nReplacements). */
  def decodeUtf8Strict(bytes: Array[Byte]): (String, Int) = {
    val sb = new StringBuilder(bytes.length)
    var repl = 0
    var i = 0
    val n = bytes.length
    def cont(j: Int): Boolean = j < n && (bytes(j) & 0xc0) == 0x80
    while (i < n) {
      val b = bytes(i) & 0xff
      if (b < 0x80) { sb.append(b.toChar); i += 1 }
      else if (b >= 0xc2 && b <= 0xdf && cont(i + 1)) {
        sb.append((((b & 0x1f) << 6) | (bytes(i + 1) & 0x3f)).toChar)
        i += 2
      } else if (b >= 0xe0 && b <= 0xef && cont(i + 1) && cont(i + 2)) {
        val cp = ((b & 0x0f) << 12) | ((bytes(i + 1) & 0x3f) << 6) |
          (bytes(i + 2) & 0x3f)
        if (cp >= 0x800 && !(cp >= 0xd800 && cp <= 0xdfff)) {
          sb.append(cp.toChar); i += 3
        } else { sb.append('�'); repl += 1; i += 1 } // overlong/surrogate
      } else if (b >= 0xf0 && b <= 0xf4 && cont(i + 1) && cont(i + 2) &&
          cont(i + 3)) {
        val cp = ((b & 0x07) << 18) | ((bytes(i + 1) & 0x3f) << 12) |
          ((bytes(i + 2) & 0x3f) << 6) | (bytes(i + 3) & 0x3f)
        if (cp >= 0x10000 && cp <= 0x10ffff) {
          sb.appendAll(Character.toChars(cp)); i += 4
        } else { sb.append('�'); repl += 1; i += 1 }
      } else { sb.append('�'); repl += 1; i += 1 }
    }
    (sb.toString, repl)
  }

  /** Strict UTF-16 decode (LE or BE): 16-bit code units walked
    * pairwise, surrogates must pair correctly — a lone high or low
    * surrogate becomes U+FFFD (counted, single unit consumed), and an
    * odd trailing byte is one more replacement. */
  def decodeUtf16(bytes: Array[Byte], littleEndian: Boolean): (String, Int) = {
    val sb = new StringBuilder(bytes.length / 2)
    var repl = 0
    var i = 0
    val n = bytes.length
    def unit(o: Int): Int =
      if (littleEndian) Bin.u16le(bytes, o, bytes.length)
      else Bin.u16be(bytes, o, bytes.length)
    while (i + 1 < n) {
      val u = unit(i)
      if (u >= 0xd800 && u <= 0xdbff) { // high surrogate: needs a low
        if (i + 3 < n && { val lo = unit(i + 2); lo >= 0xdc00 && lo <= 0xdfff }) {
          val lo = unit(i + 2)
          sb.appendAll(Character.toChars(
            0x10000 + ((u - 0xd800) << 10) + (lo - 0xdc00)))
          i += 4
        } else { sb.append('�'); repl += 1; i += 2 }
      } else if (u >= 0xdc00 && u <= 0xdfff) { // lone low surrogate
        sb.append('�'); repl += 1; i += 2
      } else { sb.append(u.toChar); i += 2 }
    }
    if (i < n) { sb.append('�'); repl += 1 } // odd trailing byte
    (sb.toString, repl)
  }

  /** BOM sniff: Some((charset, bomLength)) for the three BOMs the web
    * ships (UTF-8 EF BB BF, UTF-16LE FF FE, UTF-16BE FE FF), None for
    * BOM-less bytes. */
  def sniffBom(bytes: Array[Byte]): Option[(String, Int)] =
    if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xef &&
      (bytes(1) & 0xff) == 0xbb && (bytes(2) & 0xff) == 0xbf)
      Some(("UTF-8", 3))
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff &&
      (bytes(1) & 0xff) == 0xfe) Some(("UTF-16LE", 2))
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xfe &&
      (bytes(1) & 0xff) == 0xff) Some(("UTF-16BE", 2))
    else None

  /** BOM-first dispatch (the WHATWG encoding-sniffing rule): a BOM
    * OVERRIDES the transport-declared charset; BOM-less bytes decode
    * under the declaration. Returns (charset actually used, text,
    * replacement count). */
  def decodeWithBom(bytes: Array[Byte],
      declared: String): (String, String, Int) =
    sniffBom(bytes) match {
      case Some((cs, skip)) =>
        val body = java.util.Arrays.copyOfRange(bytes, skip, bytes.length)
        val (t, r) = decodeCharset(body, cs)
        (cs, t, r)
      case None =>
        val (t, r) = decodeCharset(bytes, declared)
        (declared, t, r)
    }

  /** Decode by declared charset: ISO-8859-1 maps bytes to codepoints
    * 1:1 (never invalid); UTF-8 goes through the strict validator;
    * UTF-16 needs an explicit endianness (BOM-less "UTF-16" is the
    * transport's ambiguity to resolve, not this decoder's). */
  def decodeCharset(bytes: Array[Byte], charset: String): (String, Int) =
    charset.toUpperCase(java.util.Locale.ROOT) match {
      case "ISO-8859-1" | "LATIN1" | "LATIN-1" =>
        (new String(bytes, "ISO-8859-1"), 0)
      case "UTF-8" | "UTF8" => decodeUtf8Strict(bytes)
      case "UTF-16LE" => decodeUtf16(bytes, littleEndian = true)
      case "UTF-16BE" => decodeUtf16(bytes, littleEndian = false)
      case other =>
        throw new IllegalArgumentException(s"unsupported charset '$other'")
    }

  /** Closed-form encoded-text fixture: d%3=0 → ISO-8859-1 with
    * high-byte chars; else UTF-8 with 2-byte chars, corrupted for
    * d%5=0 (interior lone continuation byte when d%10=0, else a
    * truncated trailing lead byte) — exactly one U+FFFD either way. */
  def synthEncodedText(d: Long): (String, Array[Byte]) = {
    val k = (1 + d % 3).toInt
    if (d % 3 == 0) {
      val ch = (192 + d % 32).toInt // À..ß block, codepoint == byte
      val s = s"w$d " + ch.toChar.toString * k
      ("ISO-8859-1", s.getBytes("ISO-8859-1"))
    } else {
      val cp = (0x100 + d % 64).toInt // Ā.. block, 2-byte UTF-8
      val seq = new String(Character.toChars(cp)) * k
      val prefix = s"w$d ".getBytes("UTF-8")
      val body = seq.getBytes("UTF-8")
      val out = new java.io.ByteArrayOutputStream()
      out.write(prefix)
      if (d % 10 == 0) out.write(0x80) // lone continuation, interior
      out.write(body)
      if (d % 5 == 0 && d % 10 != 0) out.write(0xc3) // truncated lead
      ("UTF-8", out.toByteArray)
    }
  }

  /** Closed-form BOM fixture: d%4 picks UTF-8+BOM / UTF-16LE+BOM /
    * UTF-16BE+BOM / BOM-less UTF-8; text = "w{d} " + k 2-byte chars +
    * a non-BMP emoji on d%7==1 (surrogate pairs / 4-byte UTF-8 both
    * sit on the oracle path) + one corruption on d%5==0 (a lone high
    * surrogate unit for UTF-16, a truncated lead byte for UTF-8) —
    * exactly one U+FFFD either way. The transport always DECLARES
    * UTF-8, so the UTF-16 modes prove the BOM override is live. */
  def synthBomText(d: Long): Array[Byte] = {
    val k = (1 + d % 3).toInt
    val text = s"w$d " +
      (new String(Character.toChars((0x100 + d % 64).toInt)) * k) +
      (if (d % 7 == 1)
        new String(Character.toChars((0x1f600 + d % 16).toInt)) else "")
    val mode = (d % 4).toInt
    val out = new java.io.ByteArrayOutputStream()
    mode match {
      case 0 | 3 =>
        if (mode == 0) { out.write(0xef); out.write(0xbb); out.write(0xbf) }
        out.write(text.getBytes("UTF-8"))
        if (d % 5 == 0) out.write(0xc3) // truncated lead → one U+FFFD
      case m =>
        val le = m == 1
        if (le) { out.write(0xff); out.write(0xfe) }
        else { out.write(0xfe); out.write(0xff) }
        def unit(u: Int): Unit =
          out.write(if (le) Bin.le16(u) else Bin.be16(u))
        // a JVM string IS UTF-16 code units — surrogate pairs included
        text.toCharArray.foreach(c => unit(c))
        if (d % 5 == 0) unit(0xd800 + (d % 0x400).toInt) // lone high
    }
    out.toByteArray
  }

  /** Closed-form page with the block anatomy boilerplate removal
    * feeds on: a link-only nav, a real headline, np prose paragraphs,
    * a link-dominated "read more" stub, and a short footer. Expected
    * content blocks under the jusText rule (≥3 words, link-word ratio
    * ≤ 1/2): the headline + the np paragraphs, nothing else. */
  def synthWebPage(d: Long): String = {
    val nn = (2 + d % 3).toInt
    val np = (3 + d % 4).toInt
    val sb = new StringBuilder()
      .append(s"<html><head><title>Site $d</title>")
      .append("<style>nav { x: 1 }</style></head><body>")
      .append("<div>")
    (0 until nn).foreach(k =>
      sb.append(s"""<a href="/n$k">nav $k</a>"""))
    sb.append("</div>")
      .append(s"<h1>Big story number $d</h1>")
    (0 until np).foreach(p =>
      sb.append(s"<p>para${d}_$p has some real content words $p</p>"))
    sb.append(s"""<p>See <a href="/more$d">more $d</a></p>""")
      .append(s"<footer>c $d</footer>")
      .append("</body></html>")
    sb.toString
  }

  /** Closed-form HTTP response for (d, i): status 404 when (d+i)%7=0
    * else 200; chunked transfer-coding when (d+i)%3=0 else
    * Content-Length; body = synthHtml. ASCII throughout, so DuckDB
    * length() equals byte length. */
  def synthHttpResponse(d: Long, i: Int): Array[Byte] = {
    val body = synthHtml(d, i).getBytes("UTF-8")
    val notFound = (d + i) % 7 == 0
    val chunked = (d + i) % 3 == 0
    val sb = new StringBuilder()
      .append(if (notFound) "HTTP/1.1 404 Not Found\r\n"
              else "HTTP/1.1 200 OK\r\n")
      .append("Content-Type: text/html; charset=UTF-8\r\n")
      .append(s"X-Seq: ${(31 * d + 17 * i) % 997}\r\n")
    val out = new java.io.ByteArrayOutputStream()
    if (chunked) {
      sb.append("Transfer-Encoding: chunked\r\n\r\n")
      out.write(sb.toString.getBytes("UTF-8"))
      var off = 0
      var k = 0
      while (off < body.length) {
        val sz = math.min(body.length - off, (5 + (d + i + k) % 9).toInt)
        out.write(s"${sz.toHexString}\r\n".getBytes("UTF-8"))
        out.write(body, off, sz)
        out.write("\r\n".getBytes("UTF-8"))
        off += sz; k += 1
      }
      out.write("0\r\n\r\n".getBytes("UTF-8"))
    } else {
      sb.append(s"Content-Length: ${body.length}\r\n\r\n")
      out.write(sb.toString.getBytes("UTF-8"))
      out.write(body)
    }
    out.toByteArray
  }

  /** WARC file whose `response` records carry REAL HTTP messages with
    * HTML bodies (the Common Crawl layout); warcinfo/metadata records
    * keep synthWarc's modular payloads. Record count and type layout
    * match synthWarc: 4 + d%5 records, record 0 warcinfo, odd
    * response, even metadata. */
  def synthWarcWeb(d: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val n = (4 + d % 5).toInt
    (0 until n).foreach { i =>
      val typ =
        if (i == 0) "warcinfo" else if (i % 2 == 1) "response" else "metadata"
      val payload: Array[Byte] =
        if (typ == "response") synthHttpResponse(d, i)
        else {
          val clen = (50 + (7 * d + 13 * i) % 200).toInt
          Array.tabulate(clen)(j => ((3 * d + 5 * i + j) % 251).toByte)
        }
      val hdr = new StringBuilder()
        .append("WARC/1.0\r\n")
        .append(s"WARC-Type: $typ\r\n")
        .append(s"WARC-Record-ID: <urn:uuid:$d-$i>\r\n")
      if (typ == "response")
        hdr.append(s"WARC-Target-URI: http://site$d.example/page$i\r\n")
          .append("Content-Type: application/http;msgtype=response\r\n")
      hdr.append(s"Content-Length: ${payload.length}\r\n").append("\r\n")
      out.write(hdr.toString.getBytes("UTF-8"))
      out.write(payload)
      out.write("\r\n\r\n".getBytes("UTF-8"))
    }
    out.toByteArray
  }

  /** Per-record-gzipped form of synthWarcWeb (the shipped CC layout). */
  def synthWarcWebGz(d: Long): Array[Byte] = warcGz(synthWarcWeb(d))

  // ===================== H.264/AVC NAL + SPS walk =====================
  // The "filter before decode" pass for real video: NAL unit framing
  // (both wire forms — AVCC length prefixes and Annex-B start codes),
  // emulation-prevention unescaping, and the SPS parse that yields
  // profile/level/dimensions through bounded Exp-Golomb integer reads.
  // NO entropy decode, NO slice parsing — exactly the metadata a
  // 100 TB video corpus reads to drop/route content before paying for
  // a decoder. Payload bitstreams beyond the SPS stay out of scope
  // (the documented inter-frame stub boundary).

  final case class AvcMeta(framing: String, nNals: Int, nSlices: Int,
      profileIdc: Int, levelIdc: Int, width: Int, height: Int,
      ppsRbspLen: Int)

  /** Strip emulation-prevention bytes: 00 00 03 → 00 00 (the 03 is
    * the escape, legal only before 00/01/02/03). */
  def rbspUnescape(nal: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(nal.length)
    var i = 0
    while (i < nal.length) {
      if (i + 2 < nal.length && nal(i) == 0 && nal(i + 1) == 0 &&
          nal(i + 2) == 3) {
        out.write(0); out.write(0); i += 3
      } else { out.write(nal(i)); i += 1 }
    }
    out.toByteArray
  }

  /** Inverse of rbspUnescape for the synths: escape 00 00 0x
    * (x ≤ 3) runs with an emulation-prevention 03. */
  def rbspEscape(rbsp: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(rbsp.length + 8)
    var i = 0
    var zeros = 0
    while (i < rbsp.length) {
      val b = rbsp(i) & 0xff
      if (zeros >= 2 && b <= 3) { out.write(3); zeros = 0 }
      out.write(b)
      zeros = if (b == 0) zeros + 1 else 0
      i += 1
    }
    out.toByteArray
  }

  /** Split a stream into NAL units. AVCC: 4-byte big-endian length
    * prefixes, each length required in [1, remaining]. Annex-B:
    * 3- or 4-byte start codes, stream must BEGIN with one. Returns
    * (framing, escaped NAL bytes incl. the header byte). */
  def nalUnits(bytes: Array[Byte]): (String, Array[Array[Byte]]) = {
    require(bytes.length >= 5, "AVC stream shorter than one NAL")
    val annexB = bytes(0) == 0 && bytes(1) == 0 &&
      (bytes(2) == 1 || (bytes(2) == 0 && bytes(3) == 1))
    if (annexB) {
      val starts = collection.mutable.ArrayBuffer.empty[Int]
      var i = 0
      while (i + 2 < bytes.length) {
        if (bytes(i) == 0 && bytes(i + 1) == 0 && bytes(i + 2) == 1) {
          starts += i + 3; i += 3
        } else i += 1
      }
      require(starts.nonEmpty, "Annex-B stream without a start code")
      val nals = starts.zipWithIndex.map { case (from, k) =>
        // a start code's own leading zeros belong to the PREVIOUS
        // nal's trailing boundary, not its payload
        val rawTo =
          if (k + 1 < starts.length) starts(k + 1) - 3 else bytes.length
        var to = rawTo
        while (to > from && bytes(to - 1) == 0) to -= 1
        require(to > from, "empty NAL unit")
        bytes.slice(from, to)
      }
      ("annexb", nals.toArray)
    } else {
      val nals = collection.mutable.ArrayBuffer.empty[Array[Byte]]
      var i = 0
      while (i < bytes.length) {
        require(i + 4 <= bytes.length, "truncated AVCC length prefix")
        val len = Bin.u32be(bytes, i, bytes.length).toInt
        require(len >= 1, s"AVCC NAL length $len out of bounds at offset $i")
        Bin.checkRange(i + 4, len, bytes.length, "AVCC NAL length")
        nals += bytes.slice(i + 4, i + 4 + len)
        i += 4 + len
      }
      ("avcc", nals.toArray)
    }
  }

  /** SPS parse (ITU-T H.264 §7.3.2.1.1) up to the cropping window —
    * profile/level/dims via bounded u(n)/ue(v) reads only. `rbsp`
    * EXCLUDES the NAL header byte. */
  def parseSps(rbsp: Array[Byte]): (Int, Int, Int, Int) = {
    val r = new Bin.MsbReader(rbsp, "SPS")
    val profile = r.u(8)
    r.u(8) // constraint_set flags + reserved
    val level = r.u(8)
    r.ue() // seq_parameter_set_id
    var chromaFormatIdc = 1
    if (Set(100, 110, 122, 244, 44, 83, 86, 118, 128).contains(profile)) {
      chromaFormatIdc = r.ue()
      require(chromaFormatIdc <= 3, s"bad chroma_format_idc $chromaFormatIdc")
      if (chromaFormatIdc == 3) r.u(1) // separate_colour_plane
      r.ue(); r.ue() // bit depths
      r.u(1) // qpprime_y_zero_transform_bypass
      require(r.u(1) == 0, "seq_scaling_matrix unsupported in meta walk")
    }
    r.ue() // log2_max_frame_num_minus4
    val pocType = r.ue()
    require(pocType == 2,
      s"fixture SPS carries pic_order_cnt_type 2, read $pocType")
    r.ue() // max_num_ref_frames
    r.u(1) // gaps_in_frame_num_value_allowed
    val widthMbs = r.ue() + 1
    val heightMaps = r.ue() + 1
    val frameMbsOnly = r.u(1)
    if (frameMbsOnly == 0) r.u(1) // mb_adaptive_frame_field
    r.u(1) // direct_8x8_inference
    val cropping = r.u(1)
    var (cl, cr, ct, cb) = (0, 0, 0, 0)
    if (cropping == 1) { cl = r.ue(); cr = r.ue(); ct = r.ue(); cb = r.ue() }
    // CropUnitX/Y for chroma_format_idc 1 (4:2:0): 2 and 2·(2−mbsOnly)
    val cropX = if (chromaFormatIdc == 0 || chromaFormatIdc == 3) 1 else 2
    val cropY = (if (chromaFormatIdc == 1) 2 else 1) * (2 - frameMbsOnly)
    val width = widthMbs * 16 - cropX * (cl + cr)
    val height = (2 - frameMbsOnly) * heightMaps * 16 - cropY * (ct + cb)
    (profile, level, width, height)
  }

  /** Full stream walk: framing detect → NAL split → per-NAL header
    * check → SPS parse → PPS RBSP length (proves unescaping: the wire
    * form carries an emulation-prevention byte the RBSP must not). */
  def avcNalMeta(bytes: Array[Byte]): AvcMeta = {
    val (framing, nals) = nalUnits(bytes)
    var sps: Option[(Int, Int, Int, Int)] = None
    var ppsLen = -1
    var slices = 0
    nals.foreach { nal =>
      require(nal.length >= 1, "empty NAL")
      val hdr = nal(0) & 0xff
      require((hdr & 0x80) == 0, "forbidden_zero_bit set")
      val rbsp = rbspUnescape(nal.drop(1))
      (hdr & 0x1f) match {
        case 7 =>
          require(sps.isEmpty, "duplicate SPS in metadata shell")
          sps = Some(parseSps(rbsp))
        case 8 => ppsLen = rbsp.length
        case 1 | 5 => slices += 1
        case t =>
          throw new IllegalArgumentException(
            s"unexpected NAL type $t in metadata shell")
      }
    }
    val (p, l, w,
      h) = sps.getOrElse(throw new IllegalArgumentException("stream carries no SPS"))
    require(ppsLen >= 0, "stream carries no PPS")
    AvcMeta(framing, nals.length, slices, p, l, w, h, ppsLen)
  }

  /** RBSP trailing bits: a stop bit, then zeros to a byte boundary. */
  private[operators] def rbspTrailing(w: Bin.MsbWriter): Array[Byte] = {
    w.u(1, 1); w.toBytes
  }

  /** Closed-form AVC metadata shell for doc d: SPS + PPS + 1+d%3
    * slice NALs, AVCC framing for even d, Annex-B for odd (mixed 4-
    * and 3-byte start codes). The PPS RBSP embeds a 00 00 01 triple,
    * so the wire form REQUIRES an emulation-prevention byte on both
    * framings — parsers that skip unescaping report the wrong
    * pps_rbsp_len. Oracle columns (id < 300):
    *   framing  = d%2=0 → 'avcc' else 'annexb'
    *   n_nals   = 3 + d%3, n_slices = 1 + d%3
    *   profile  = [66,77,100][d%3], level = [30,31,40,41,50][d%5]
    *   width    = 16·(2+d%5) − (d%4=0 ? 2·(1+(d/4)%2) : 0)
    *   height   = 16·(2+d%3) − (d%4=0 ? 2·((d/4)%2) : 0)
    *   pps_rbsp_len = 8 + d%4 */
  /** The fixture SPS NAL (escaped, header byte included) for doc d —
    * shared by the raw-stream synth and the avcC-in-MP4 synth. */
  def synthSpsNal(d: Long): Array[Byte] = {
    val profile = Array(66, 77, 100)((d % 3).toInt)
    val level = Array(30, 31, 40, 41, 50)((d % 5).toInt)
    val w = new Bin.MsbWriter
    w.u(profile, 8); w.u(0, 8); w.u(level, 8)
    w.ue(0) // seq_parameter_set_id
    if (profile == 100) {
      w.ue(1) // chroma_format_idc 4:2:0
      w.ue(0); w.ue(0) // bit depths
      w.u(0, 1); w.u(0, 1) // qpprime, scaling matrix
    }
    w.ue((d % 5).toInt) // log2_max_frame_num_minus4
    w.ue(2) // pic_order_cnt_type
    w.ue(1 + (d % 4).toInt) // max_num_ref_frames
    w.u(0, 1) // gaps_in_frame_num
    w.ue(1 + (d % 5).toInt) // pic_width_in_mbs_minus1
    w.ue(1 + (d % 3).toInt) // pic_height_in_map_units_minus1
    w.u(1, 1) // frame_mbs_only
    w.u(1, 1) // direct_8x8_inference
    if (d % 4 == 0) {
      w.u(1, 1) // frame_cropping
      w.ue(0); w.ue(1 + ((d / 4) % 2).toInt) // left, right
      w.ue(0); w.ue(((d / 4) % 2).toInt) // top, bottom
    } else w.u(0, 1)
    w.u(0, 1) // vui_parameters_present
    (0x67.toByte) +: rbspEscape(rbspTrailing(w))
  }

  /** The fixture PPS NAL: 8 + d%4 RBSP bytes with an embedded
    * 00 00 01 triple, so the wire form ALWAYS carries an
    * emulation-prevention byte. */
  def synthPpsNal(d: Long): Array[Byte] = {
    val ppsRbsp = new Array[Byte](8 + (d % 4).toInt)
    // never 0x00: a zero-valued trailing byte would be eaten by the
    // Annex-B boundary recovery (trailing zeros belong to the next
    // start code), shifting pps_rbsp_len
    ppsRbsp.indices.foreach(i => ppsRbsp(i) = ((d + 31 * i) % 250 + 1).toByte)
    // the forced emulation case: a start-code triple inside the RBSP
    ppsRbsp(2) = 0; ppsRbsp(3) = 0; ppsRbsp(4) = 1
    (0x68.toByte) +: rbspEscape(ppsRbsp)
  }

  def synthAvcStream(d: Long): Array[Byte] = {
    val spsNal = synthSpsNal(d)
    val ppsNal = synthPpsNal(d)
    val slices = (0 to (d % 3).toInt).map { s =>
      val payload = new Array[Byte](6 + s)
      payload.indices.foreach(i => payload(i) = ((d + 7 * s + i) % 97 + 1).toByte)
      ((if (s == 0) 0x65 else 0x41).toByte) +: payload
    }
    val nals = Seq(spsNal, ppsNal) ++ slices
    val out = new java.io.ByteArrayOutputStream()
    if (d % 2 == 0) nals.foreach { n =>
      val len = new Array[Byte](4); Bin.put32be(len, 0, n.length)
      out.write(len); out.write(n)
    } else nals.zipWithIndex.foreach { case (n, i) =>
      // first start code 4-byte; later ones alternate 4/3 per doc
      if (i == 0 || d % 3 != 0) out.write(0)
      out.write(0); out.write(0); out.write(1); out.write(n)
    }
    out.toByteArray
  }

  final case class AvccMeta(nSps: Int, nPps: Int, nalLenSize: Int,
      profileIdc: Int, levelIdc: Int, width: Int, height: Int)

  /** How real MP4s carry H.264 configuration: the
    * AVCDecoderConfigurationRecord inside stsd/avc1/avcC — the walk a
    * video pipeline runs to learn codec/profile/dims from the moov
    * WITHOUT touching mdat. Parses the record (version, profile/level
    * bytes, lengthSizeMinusOne, SPS/PPS sets), then parses the FIRST
    * SPS through the same Exp-Golomb path as the raw-stream walk and
    * CROSS-CHECKS: the record's profile/level bytes must equal the
    * SPS's own, and the avc1 visual-sample-entry width/height must
    * equal the SPS-derived (cropped) dims — a muxer that disagrees
    * with its own bitstream is rejected loudly. */
  def avccMeta(bytes: Array[Byte]): AvccMeta = {
    val kids = stblKids(bytes)
    val stsd = oneBox(kids, "stsd")
    require(stsd.end - stsd.start >= 8, "truncated stsd header")
    val nEntries = Bin.u32be(bytes, stsd.start + 4, bytes.length, "mp4").toInt
    require(nEntries == 1, s"stsd carries $nEntries entries, expected 1")
    val entries = mp4Walk(bytes, stsd.start + 8, stsd.end)
    val avc1 = oneBox(entries, "avc1")
    // VisualSampleEntry: 6 reserved + u16 data_ref_index + 16 bytes
    // pre_defined/reserved + u16 width + u16 height + ... = 78 bytes
    // before the child boxes
    require(avc1.end - avc1.start >= 78, "truncated avc1 sample entry")
    val entryW = Bin.u16be(bytes, avc1.start + 24, bytes.length, "mp4")
    val entryH = Bin.u16be(bytes, avc1.start + 26, bytes.length, "mp4")
    val avcc = oneBox(mp4Walk(bytes, avc1.start + 78, avc1.end), "avcC")
    val a = java.util.Arrays.copyOfRange(bytes, avcc.start, avcc.end)
    require(a.length >= 7, "truncated AVCDecoderConfigurationRecord")
    require((a(0) & 0xff) == 1,
      s"avcC configurationVersion ${a(0) & 0xff} != 1")
    val recProfile = a(1) & 0xff
    val recLevel = a(3) & 0xff
    val nalLenSize = (a(4) & 0x3) + 1
    val nSps = a(5) & 0x1f
    require(nSps >= 1, "avcC carries no SPS")
    var pos = 6
    var sps: Option[(Int, Int, Int, Int)] = None
    (0 until nSps).foreach { i =>
      require(pos + 2 <= a.length, "truncated SPS length")
      val len = Bin.u16be(a, pos, a.length, "mp4"); pos += 2
      require(len >= 1, s"SPS length $len out of bounds")
      Bin.checkRange(pos, len, a.length, "SPS length")
      if (i == 0) {
        require((a(pos) & 0x1f) == 7, "first parameter set is not an SPS")
        sps = Some(parseSps(rbspUnescape(
          java.util.Arrays.copyOfRange(a, pos + 1, pos + len))))
      }
      pos += len
    }
    require(pos < a.length, "truncated PPS count")
    val nPps = a(pos) & 0xff; pos += 1
    require(nPps >= 1, "avcC carries no PPS")
    (0 until nPps).foreach { _ =>
      require(pos + 2 <= a.length, "truncated PPS length")
      val len = Bin.u16be(a, pos, a.length, "mp4"); pos += 2
      require(len >= 1, s"PPS length $len out of bounds")
      Bin.checkRange(pos, len, a.length, "PPS length")
      require((a(pos) & 0x1f) == 8, "parameter set is not a PPS")
      pos += len
    }
    val (p, l, w, h) = sps.get
    require(p == recProfile,
      s"avcC profile $recProfile disagrees with SPS $p")
    require(l == recLevel, s"avcC level $recLevel disagrees with SPS $l")
    require(w == entryW && h == entryH,
      s"avc1 dims ${entryW}x$entryH disagree with SPS ${w}x$h")
    AvccMeta(nSps, nPps, nalLenSize, p, l, w, h)
  }

  /** stsd box carrying a real avc1/avcC sample entry for the given
    * SPS/PPS NALs (nalLenSize 4) — shared by synthAvcMp4 (the metadata
    * walk fixture) and Avc.synthIdrMp4 (the keyframe decode fixture).
    * The avc1 entry's declared width/height are the SPS-derived
    * cropped dims, as a correct muxer writes them. */
  def avcStsdBox(spsNal: Array[Byte], ppsNal: Array[Byte]): Array[Byte] = {
    val (profile, level, w, h) = parseSps(rbspUnescape(spsNal.drop(1)))
    val rec = new java.io.ByteArrayOutputStream()
    rec.write(1); rec.write(profile); rec.write(0); rec.write(level)
    rec.write(0xff) // reserved | lengthSizeMinusOne = 3
    rec.write(0xe1) // reserved | numOfSPS = 1
    rec.write(spsNal.length >> 8); rec.write(spsNal.length & 0xff)
    rec.write(spsNal)
    rec.write(1) // numOfPPS
    rec.write(ppsNal.length >> 8); rec.write(ppsNal.length & 0xff)
    rec.write(ppsNal)
    val avcc = mp4Box("avcC", rec.toByteArray)
    val entry = new Array[Byte](78)
    entry(7) = 1 // data_reference_index
    Bin.put16be(entry, 24, w)
    Bin.put16be(entry, 26, h)
    Bin.put32be(entry, 28, 0x00480000); Bin.put32be(entry, 32, 0x00480000) // 72 dpi
    entry(40) = 1 // frame_count
    entry(74) = 0x18 // depth 24
    entry(76) = 0xff.toByte; entry(77) = 0xff.toByte // pre_defined -1
    val avc1 = mp4Box("avc1", entry ++ avcc)
    mp4Box("stsd", Array[Byte](0, 0, 0, 0, 0, 0, 0, 1) ++ avc1)
  }

  /** The raw SPS/PPS NALs and NAL length-field size from the avcC
    * record — exactly what a demuxer hands an H.264 decoder before the
    * first sample. Loud on every malformation, like avccMeta. */
  def avccParameterSets(bytes: Array[Byte]): (Array[Byte], Array[Byte], Int) = {
    val kids = stblKids(bytes)
    val stsd = oneBox(kids, "stsd")
    require(stsd.end - stsd.start >= 8, "truncated stsd header")
    val avc1 = oneBox(mp4Walk(bytes, stsd.start + 8, stsd.end), "avc1")
    require(avc1.end - avc1.start >= 78, "truncated avc1 sample entry")
    val avcc = oneBox(mp4Walk(bytes, avc1.start + 78, avc1.end), "avcC")
    val a = java.util.Arrays.copyOfRange(bytes, avcc.start, avcc.end)
    require(a.length >= 7 && (a(0) & 0xff) == 1,
      "bad AVCDecoderConfigurationRecord")
    val nalLenSize = (a(4) & 0x3) + 1
    val nSps = a(5) & 0x1f
    require(nSps >= 1, "avcC carries no SPS")
    var pos = 6
    var sps: Array[Byte] = null
    (0 until nSps).foreach { i =>
      require(pos + 2 <= a.length, "truncated SPS length")
      val len = Bin.u16be(a, pos, a.length, "mp4"); pos += 2
      require(len >= 1, s"SPS length $len out of bounds")
      Bin.checkRange(pos, len, a.length, "SPS length")
      if (i == 0) {
        require((a(pos) & 0x1f) == 7, "first parameter set is not an SPS")
        sps = java.util.Arrays.copyOfRange(a, pos, pos + len)
      }
      pos += len
    }
    require(pos < a.length, "truncated PPS count")
    val nPps = a(pos) & 0xff; pos += 1
    require(nPps >= 1, "avcC carries no PPS")
    require(pos + 2 <= a.length, "truncated PPS length")
    val ppsLen = Bin.u16be(a, pos, a.length, "mp4"); pos += 2
    require(ppsLen >= 1, s"PPS length $ppsLen out of bounds")
    Bin.checkRange(pos, ppsLen, a.length, "PPS length")
    require((a(pos) & 0x1f) == 8, "parameter set is not a PPS")
    (sps, java.util.Arrays.copyOfRange(a, pos, pos + ppsLen), nalLenSize)
  }

  /** Closed-form MP4 shell whose trak carries a REAL stsd/avc1/avcC
    * configuration (the synthSpsNal/synthPpsNal fixture sets) — same
    * oracle columns as the raw-stream walk minus framing/slices. */
  def synthAvcMp4(d: Long): Array[Byte] = {
    val stsd = avcStsdBox(synthSpsNal(d), synthPpsNal(d))
    val stbl = mp4Box("stbl", stsd)
    val minf = mp4Box("minf", stbl)
    val mdia = mp4Box("mdia", minf)
    val trak = mp4Box("trak", mdia)
    val moov = mp4Box("moov", trak)
    val ftyp = mp4Box("ftyp",
      "isom".getBytes("US-ASCII") ++ Array[Byte](0, 0, 2, 0) ++
        "isomavc1".getBytes("US-ASCII"))
    ftyp ++ moov
  }

  // ---------------------------------------------------------------------
  // MP3 (MPEG-1 Audio Layer III) frame-header walk — the audio twin of
  // the H.264 NAL walk: duration / bitrate / channel layout from the
  // 4-byte frame headers alone, no subband/huffman decode. ISO/IEC
  // 11172-3 §2.4.1.3 header layout; ID3v2.3 tag skip via the syncsafe
  // 28-bit size (ID3v2 spec §3.1); ID3v1 is the fixed 128-byte "TAG"
  // trailer. The entropy-coded granule payload stays the documented
  // stub boundary (as H.26x slice data does for video).

  final case class Mp3Meta(id3v2Len: Int, nFrames: Int, sampleRate: Int,
      mode: String, avgKbps: Int, frameBytes: Long, durationMs: Long,
      hasId3v1: Boolean)

  /** MPEG-1 Layer III bitrate table (kbps), index 1..14; 0 is "free
    * format" and 15 is forbidden — both rejected loudly. */
  private val mp3BitrateKbps =
    Array(-1, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  /** MPEG-1 sample-rate table, index 0..2; 3 is reserved. */
  private val mp3SampleRates = Array(44100, 48000, 32000)
  private val mp3Modes = Array("stereo", "joint", "dual", "mono")

  /** Walk an MP3 byte stream: optional ID3v2 prefix (skipped by its
    * declared syncsafe size), then consecutive MPEG-1 Layer III frames
    * advanced by the computed frame length
    * (144·bitrate/sampleRate + padding), then either EOF or a 128-byte
    * ID3v1 trailer. Per-frame bitrates may vary (VBR); sample rate and
    * channel mode must not (a real single-stream property — drift
    * means the walk desynced). Anything unrecognized is loud. */
  def mp3Meta(bytes: Array[Byte]): Mp3Meta = {
    var pos = 0
    var id3v2Len = 0
    if (bytes.length >= 3 && bytes(0) == 'I' && bytes(1) == 'D' &&
        bytes(2) == '3') {
      require(bytes.length >= 10, "ID3v2 header truncated")
      require((bytes(5) & 0x10) == 0, "ID3v2 footer unsupported in meta walk")
      var size = 0
      (6 until 10).foreach { i =>
        require((bytes(i) & 0x80) == 0,
          s"ID3v2 size byte $i not syncsafe (high bit set)")
        size = (size << 7) | (bytes(i) & 0x7f)
      }
      id3v2Len = 10 + size
      require(id3v2Len <= bytes.length, s"ID3v2 tag ($id3v2Len B) " +
        s"overruns the stream (${bytes.length} B)")
      pos = id3v2Len
    }
    var nFrames = 0
    var sampleRate = 0
    var mode: String = null
    var kbpsSum = 0L
    var frameBytes = 0L
    var done = false
    while (!done) {
      if (pos == bytes.length) done = true
      else if (bytes.length - pos == 128 && bytes(pos) == 'T' &&
          bytes(pos + 1) == 'A' && bytes(pos + 2) == 'G') done = true
      else {
        require(pos + 4 <= bytes.length,
          s"truncated MP3 frame header at offset $pos")
        val b1 = bytes(pos) & 0xff; val b2 = bytes(pos + 1) & 0xff
        val b3 = bytes(pos + 2) & 0xff; val b4 = bytes(pos + 3) & 0xff
        require(b1 == 0xff && (b2 & 0xe0) == 0xe0,
          s"lost MP3 frame sync at offset $pos")
        require(((b2 >> 3) & 3) == 3,
          s"not MPEG-1 (version bits ${(b2 >> 3) & 3}) at offset $pos")
        require(((b2 >> 1) & 3) == 1,
          s"not Layer III (layer bits ${(b2 >> 1) & 3}) at offset $pos")
        val bitIdx = (b3 >> 4) & 0xf
        require(bitIdx >= 1 && bitIdx <= 14,
          s"MP3 bitrate index $bitIdx (free/forbidden) at offset $pos")
        val srIdx = (b3 >> 2) & 3
        require(srIdx != 3, s"reserved MP3 sample-rate index at offset $pos")
        val kbps = mp3BitrateKbps(bitIdx)
        val sr = mp3SampleRates(srIdx)
        val pad = (b3 >> 1) & 1
        val m = mp3Modes((b4 >> 6) & 3)
        if (nFrames == 0) { sampleRate = sr; mode = m }
        else {
          require(sr == sampleRate, s"sample rate changed $sampleRate→$sr " +
            s"mid-stream at offset $pos — frame walk desynced")
          require(m == mode, s"channel mode changed $mode→$m mid-stream " +
            s"at offset $pos — frame walk desynced")
        }
        val frameLen = 144000 * kbps / sr + pad
        Bin.checkRange(pos, frameLen, bytes.length, "MP3 frame")
        nFrames += 1; kbpsSum += kbps; frameBytes += frameLen
        pos += frameLen
      }
    }
    require(nFrames > 0, "MP3 stream carries no frames")
    val hasId3v1 = pos < bytes.length
    Mp3Meta(id3v2Len, nFrames, sampleRate, mode,
      (kbpsSum / nFrames).toInt, frameBytes,
      nFrames.toLong * 1152L * 1000L / sampleRate, hasId3v1)
  }

  /** Declared ID3v2 prefix length (0 when absent) — the shared skip
    * both MP3 walks apply before the first frame. */
  private[operators] def mp3Id3v2Len(bytes: Array[Byte]): Int =
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' &&
        bytes(2) == '3') {
      var size = 0
      (6 until 10).foreach { i =>
        require((bytes(i) & 0x80) == 0, "ID3v2 size byte not syncsafe")
        size = (size << 7) | (bytes(i) & 0x7f)
      }
      10 + size
    } else 0

  /** One frame header at `pos` -> (frameLength, channelCount); the
    * same decode mp3Meta runs, exposed for second-pass walks that
    * read INSIDE located frames (side info). */
  private[operators] def mp3FrameHeader(bytes: Array[Byte],
      pos: Int): (Int, Int) = {
    require(pos + 4 <= bytes.length, s"truncated MP3 header at $pos")
    val b2 = bytes(pos + 1) & 0xff
    val b3 = bytes(pos + 2) & 0xff
    val b4 = bytes(pos + 3) & 0xff
    require((bytes(pos) & 0xff) == 0xff && (b2 & 0xe0) == 0xe0,
      s"lost MP3 frame sync at $pos")
    require(((b2 >> 3) & 3) == 3 && ((b2 >> 1) & 3) == 1,
      s"not an MPEG-1 Layer III frame at $pos")
    val bitIdx = (b3 >> 4) & 0xf
    require(bitIdx >= 1 && bitIdx <= 14, s"bad bitrate index at $pos")
    val srIdx = (b3 >> 2) & 3
    require(srIdx != 3, s"reserved sample-rate index at $pos")
    val frameLen = 144000 * mp3BitrateKbps(bitIdx) /
      mp3SampleRates(srIdx) + ((b3 >> 1) & 1)
    Bin.checkRange(pos, frameLen, bytes.length, "frame overruns")
    (frameLen, if (((b4 >> 6) & 3) == 3) 1 else 2)
  }

  /** Closed-form structurally real MP3: even ids carry an ID3v2 tag of
    * 10+(d%50) payload bytes; frame f's bitrate index is
    * 1+((d+3f)%14) (a VBR stream — every table row exercised), padding
    * set when (d+f)%3==0; ids ≡1 (mod 4) end with an ID3v1 trailer.
    * Filler bytes are taken mod 251, so no 0xFF can alias a sync word
    * and no 'TAG' can appear inside a frame. Every reported field is
    * an integer the DuckDB oracle recomputes from d. */
  def synthMp3(d: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    if (d % 2 == 0) {
      val payload = (10 + d % 50).toInt
      out.write('I'); out.write('D'); out.write('3')
      out.write(3); out.write(0); out.write(0) // v2.3.0, no flags
      out.write(0); out.write(0); out.write(0); out.write(payload)
      (0 until payload).foreach(i => out.write(((d + i) % 251).toInt))
    }
    val srIdx = (d % 3).toInt
    val sr = mp3SampleRates(srIdx)
    val modeBits = (d % 4).toInt
    val n = (5 + d % 7).toInt
    (0 until n).foreach { f =>
      val bitIdx = (1 + (d + 3 * f) % 14).toInt
      val pad = if ((d + f) % 3 == 0) 1 else 0
      val frameLen = 144000 * mp3BitrateKbps(bitIdx) / sr + pad
      out.write(0xff); out.write(0xfb) // sync, MPEG-1, Layer III, no CRC
      out.write((bitIdx << 4) | (srIdx << 2) | (pad << 1))
      out.write(modeBits << 6)
      // REAL Layer III side information right after the header (17 B
      // mono / 32 B two-channel) — the Mp3Side walk's oracle path;
      // main-data filler follows
      val side = Mp3Side.encode(d, f, if (modeBits == 3) 1 else 2)
      out.write(side, 0, side.length)
      (4 + side.length until frameLen).foreach(i =>
        out.write(((d * 7 + f * 13 + i) % 251).toInt))
    }
    if (d % 4 == 1) {
      out.write('T'); out.write('A'); out.write('G')
      (3 until 128).foreach(i => out.write(((d + 5 * i) % 251).toInt))
    }
    out.toByteArray
  }

  // ---------------------------------------------------------------------
  // MP4 audio configuration (stsd/mp4a/esds) — the audio twin of the
  // avcC walk: how real MP4s carry AAC configuration. The esds box
  // holds an MPEG-4 ES_Descriptor chain (ISO/IEC 14496-1 §7.2.6) with
  // the variable-length 0x80-continuation size encoding, ending in the
  // DecoderSpecificInfo's AudioSpecificConfig (ISO/IEC 14496-3 §1.6.2.1:
  // 5-bit audioObjectType, 4-bit samplingFrequencyIndex, 4-bit
  // channelConfiguration). The parser cross-checks the mp4a sample
  // entry's declared channelcount/samplerate against the ASC — a muxer
  // that disagrees with its own bitstream fails loudly, exactly as the
  // avcC walk treats avc1-vs-SPS dims.

  final case class Mp4aMeta(objectType: Int, srIndex: Int, sampleRate: Int,
      channels: Int, avgBitrate: Int, maxBitrate: Int)

  /** AAC sampling-frequency table (14496-3 Table 1.18), index 0..12. */
  private val aacSampleRates = Array(96000, 88200, 64000, 48000, 44100,
    32000, 24000, 22050, 16000, 12000, 11025, 8000, 7350)

  /** Read one MPEG-4 descriptor size: 1–4 bytes, each contributing 7
    * bits, high bit = continuation. Returns (size, bytesRead). */
  private def readDescLen(b: Array[Byte], o: Int): (Int, Int) = {
    var size = 0; var n = 0; var more = true
    while (more) {
      require(o + n < b.length, "truncated descriptor length")
      require(n < 4, "descriptor length exceeds 4 bytes")
      val x = b(o + n) & 0xff
      size = (size << 7) | (x & 0x7f)
      more = (x & 0x80) != 0
      n += 1
    }
    (size, n)
  }

  /** Walk stsd → mp4a → esds → ES/DecoderConfig/DecoderSpecificInfo
    * descriptors → AudioSpecificConfig, cross-checking the sample
    * entry against the ASC. */
  def mp4aMeta(bytes: Array[Byte]): Mp4aMeta = {
    val stsd = oneBox(stblKids(bytes), "stsd")
    require(stsd.end - stsd.start >= 8, "truncated stsd header")
    val nEntries = Bin.u32be(bytes, stsd.start + 4, bytes.length, "mp4").toInt
    require(nEntries == 1, s"stsd carries $nEntries entries, expected 1")
    val mp4a = oneBox(mp4Walk(bytes, stsd.start + 8, stsd.end), "mp4a")
    // AudioSampleEntry: 6 reserved + u16 data_ref_index + 8 reserved +
    // u16 channelcount + u16 samplesize + 4 pre_defined/reserved +
    // u32 samplerate (16.16) = 28 bytes before the child boxes
    require(mp4a.end - mp4a.start >= 28, "truncated mp4a sample entry")
    val entryChannels = Bin.u16be(bytes, mp4a.start + 16, bytes.length, "mp4")
    val entryRate = Bin.u16be(bytes, mp4a.start + 24, bytes.length,
      "mp4") // 16.16 integer part
    val esds = oneBox(mp4Walk(bytes, mp4a.start + 28, mp4a.end), "esds")
    val a = java.util.Arrays.copyOfRange(bytes, esds.start, esds.end)
    require(a.length >= 4, "truncated esds version/flags")
    var pos = 4
    def tag(expect: Int, name: String): Int = {
      require(pos < a.length, s"truncated $name descriptor tag")
      val t = a(pos) & 0xff
      require(t == expect, s"$name descriptor tag 0x${t.toHexString}, " +
        s"expected 0x${expect.toHexString}")
      pos += 1
      val (len, n) = readDescLen(a, pos)
      pos += n
      Bin.checkRange(pos, len, a.length, "esds descriptor")
      len
    }
    tag(0x03, "ES") // ES_Descriptor
    require(pos + 3 <= a.length, "truncated ES_ID")
    pos += 2 // ES_ID
    require((a(pos) & 0xff) == 0,
      "ES_Descriptor optional-field flags unsupported in meta walk")
    pos += 1
    tag(0x04, "DecoderConfig")
    require(pos + 13 <= a.length, "truncated DecoderConfigDescriptor")
    val oti = a(pos) & 0xff
    require(oti == 0x40, s"objectTypeIndication 0x${oti.toHexString}, " +
      "expected 0x40 (MPEG-4 Audio)")
    val maxBitrate = Bin.u32be(a, pos + 5, a.length, "mp4").toInt
    val avgBitrate = Bin.u32be(a, pos + 9, a.length, "mp4").toInt
    pos += 13
    val ascLen = tag(0x05, "DecoderSpecificInfo")
    require(ascLen >= 2, s"AudioSpecificConfig of $ascLen bytes")
    val b0 = a(pos) & 0xff; val b1 = a(pos + 1) & 0xff
    val aot = b0 >> 3
    require(aot >= 1 && aot <= 30,
      s"audioObjectType $aot (reserved/escape) unsupported in meta walk")
    val srIdx = ((b0 & 0x7) << 1) | (b1 >> 7)
    require(srIdx <= 12,
      s"samplingFrequencyIndex $srIdx (reserved/escape) unsupported")
    val chan = (b1 >> 3) & 0xf
    require(chan >= 1 && chan <= 7, s"channelConfiguration $chan " +
      "outside the predefined layouts")
    require(entryChannels == chan, s"mp4a channelcount $entryChannels " +
      s"disagrees with ASC channelConfiguration $chan")
    require(entryRate == aacSampleRates(srIdx), s"mp4a samplerate " +
      s"$entryRate disagrees with ASC index $srIdx " +
      s"(${aacSampleRates(srIdx)})")
    Mp4aMeta(aot, srIdx, aacSampleRates(srIdx), chan, avgBitrate, maxBitrate)
  }

  /** Closed-form MP4 shell whose trak carries a REAL stsd/mp4a/esds
    * configuration. The ES_Descriptor's size is deliberately written
    * in the two-byte 0x80-continuation form so a parser that assumes
    * single-byte descriptor lengths desyncs and fails loudly; the
    * inner descriptors use the one-byte form — both paths exercised on
    * every payload. */
  def synthMp4aMp4(d: Long): Array[Byte] = {
    val aot = (1 + d % 4).toInt
    val srIdx = (3 + d % 9).toInt // 48000..11025: fits the u16 entry field
    val chan = (1 + d % 6).toInt
    val avg = (32000 + 1000 * (d % 100)).toInt
    val mx = avg + 16000
    val asc = Array[Byte](
      ((aot << 3) | (srIdx >> 1)).toByte,
      (((srIdx & 1) << 7) | (chan << 3)).toByte)
    val dsi = Array[Byte](0x05, asc.length.toByte) ++ asc
    val dcd = {
      val p = new Array[Byte](13)
      p(0) = 0x40 // objectTypeIndication: MPEG-4 Audio
      p(1) = ((0x05 << 2) | 1).toByte // streamType AudioStream, reserved
      p(2) = 0; p(3) = 0x20; p(4) = 0 // bufferSizeDB
      Bin.put32be(p, 5, mx); Bin.put32be(p, 9, avg)
      Array[Byte](0x04, (13 + dsi.length).toByte) ++ p ++ dsi
    }
    val slc = Array[Byte](0x06, 1, 0x02)
    val esBody = {
      val p = new Array[Byte](3)
      p(0) = ((d % 100) >> 8).toByte; p(1) = (d % 100).toByte // ES_ID
      p(2) = 0 // no optional fields
      p ++ dcd ++ slc
    }
    val esd = Array[Byte](0x03,
      (0x80 | (esBody.length >> 7)).toByte, (esBody.length & 0x7f).toByte) ++
      esBody
    val esds = mp4Box("esds", Array[Byte](0, 0, 0, 0) ++ esd)
    val entry = new Array[Byte](28)
    entry(7) = 1 // data_reference_index
    entry(16) = 0; entry(17) = chan.toByte
    entry(18) = 0; entry(19) = 16 // samplesize
    val sr = aacSampleRates(srIdx)
    Bin.put16be(entry, 24, sr)
    val mp4a = mp4Box("mp4a", entry ++ esds)
    val stsd = mp4Box("stsd", Array[Byte](0, 0, 0, 0, 0, 0, 0, 1) ++ mp4a)
    val stbl = mp4Box("stbl", stsd)
    val minf = mp4Box("minf", stbl)
    val mdia = mp4Box("mdia", minf)
    val trak = mp4Box("trak", mdia)
    val moov = mp4Box("moov", trak)
    val ftyp = mp4Box("ftyp",
      "isom".getBytes("US-ASCII") ++ Array[Byte](0, 0, 2, 0) ++
        "isomiso2".getBytes("US-ASCII"))
    ftyp ++ moov
  }

  // ---------------------------------------------------------------------
  // Archive walks — training corpora arrive as archives; listing an
  // archive's members (names, sizes, kinds) WITHOUT extracting them is
  // the ingest pre-pass that decides what to read at all. TAR: POSIX
  // ustar 512-byte headers (IEEE 1003.1) with octal fields and the
  // space-substituted header checksum. ZIP: PKWARE APPNOTE layout —
  // EOCD backward scan, central-directory walk, and per-entry local
  // header cross-validation including a REAL integrity check (stored:
  // CRC32 over the payload; deflated: raw-inflate and CRC the result).

  final case class TarEntry(idx: Int, name: String, typeflag: String,
      size: Long, mtime: Long, payloadSum: Long)

  /** Parse a 0-to-11-digit octal field, NUL/space terminated, leading
    * spaces allowed — the ustar numeric encoding. */
  private def tarOctal(b: Array[Byte], off: Int, len: Int): Long = {
    var i = off
    val end = off + len
    while (i < end && b(i) == ' ') i += 1
    require(i < end && b(i) >= '0' && b(i) <= '7',
      s"tar octal field at $off has no digits")
    var v = 0L
    while (i < end && b(i) >= '0' && b(i) <= '7') {
      v = (v << 3) | (b(i) - '0'); i += 1
    }
    while (i < end) {
      require(b(i) == 0 || b(i) == ' ',
        s"tar octal field at $off has trailing junk")
      i += 1
    }
    v
  }

  /** Walk ustar headers: magic + checksum verified per header, octal
    * size/mtime parsed, payload skipped in 512-byte blocks, the
    * end-of-archive marked by two zero blocks (anything after must be
    * zero padding). Regular files and directories only — other
    * typeflags are loud, not skipped blind. */
  def tarEntries(bytes: Array[Byte]): Array[TarEntry] =
    tarWalk(bytes).map(_._1)

  /** tarEntries plus the extracted payload of every regular file —
    * the listing walk and the extraction share one header parse, so
    * everything the listing verifies (checksums, bounds, typeflags)
    * guards the extraction too. */
  def tarExtract(bytes: Array[Byte]): Array[(TarEntry, Array[Byte])] =
    tarWalk(bytes)

  private def tarWalk(
      bytes: Array[Byte]): Array[(TarEntry, Array[Byte])] = {
    val out = collection.mutable.ArrayBuffer.empty[(TarEntry, Array[Byte])]
    var pos = 0
    var ended = false
    while (!ended) {
      require(pos + 512 <= bytes.length,
        s"truncated tar header at offset $pos")
      val zero = (pos until pos + 512).forall(bytes(_) == 0)
      if (zero) {
        require(pos + 1024 <= bytes.length,
          "tar end-of-archive marker is one zero block, not two")
        (pos + 512 until bytes.length).foreach { i =>
          require(bytes(i) == 0, s"non-zero byte at $i after tar end marker")
        }
        ended = true
      } else {
        require(new String(bytes, pos + 257, 5, "US-ASCII") == "ustar",
          s"tar header at $pos lacks the ustar magic")
        val declared = tarOctal(bytes, pos + 148, 8)
        var sum = 0L
        (0 until 512).foreach { i =>
          sum += (if (i >= 148 && i < 156) 0x20 else bytes(pos + i) & 0xff)
        }
        require(sum == declared,
          s"tar header checksum $sum != declared $declared at offset $pos")
        var nameEnd = pos
        while (nameEnd < pos + 100 && bytes(nameEnd) != 0) nameEnd += 1
        require(nameEnd > pos, s"tar header at $pos has an empty name")
        val name = new String(bytes, pos, nameEnd - pos, "US-ASCII")
        val size = tarOctal(bytes, pos + 124, 12)
        val mtime = tarOctal(bytes, pos + 136, 12)
        val tf = bytes(pos + 156)
        val kind = tf match {
          case '0' | 0 => "file"
          case '5' => "dir"
          case other => throw new IllegalArgumentException(
            s"tar typeflag '${other.toChar}' unsupported in the walk")
        }
        if (kind == "dir") require(size == 0, s"tar dir $name with size $size")
        // a corrupted 12-digit octal size can reach 8 GiB — bound it by
        // the archive BEFORE the block arithmetic so the walk cannot
        // Int-overflow into a backwards (infinite) scan
        require(size <= bytes.length.toLong - pos - 512,
          s"tar member $name size $size overruns the archive")
        // payload digest proves the walk's data offsets, not just its
        // header arithmetic — a one-block misalignment changes the sum
        var psum = 0L
        var i = pos + 512
        val dataEnd = pos + 512 + size.toInt
        while (i < dataEnd) { psum += bytes(i) & 0xff; i += 1 }
        out += ((TarEntry(out.length, name, kind, size, mtime, psum),
          java.util.Arrays.copyOfRange(bytes, pos + 512, dataEnd)))
        val dataBlocks = ((size + 511) / 512) * 512
        pos += 512 + dataBlocks.toInt
      }
    }
    require(out.nonEmpty, "tar archive with no entries")
    out.toArray
  }

  /** Closed-form ustar archive: 3+d%5 members, every 4th a directory
    * (trailing-slash name, size 0), file sizes and mtimes doc-derived,
    * payload bytes mod 251, correct space-substituted checksums, two
    * zero end blocks. */
  def synthTar(d: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val n = (3 + d % 5).toInt
    (0 until n).foreach { j =>
      val isDir = j % 4 == 3
      val name = s"doc_${d}_$j" + (if (isDir) "/" else ".txt")
      val size = if (isDir) 0L else 10 + (d * 7 + 13 * j) % 900
      val mtime = 1700000000L + 100 * d + j
      val h = new Array[Byte](512)
      val nb = name.getBytes("US-ASCII")
      System.arraycopy(nb, 0, h, 0, nb.length)
      def octal(off: Int, len: Int, v: Long): Unit = {
        val s = java.lang.Long.toOctalString(v)
        val padded = ("0" * (len - 1 - s.length)) + s
        System.arraycopy(padded.getBytes("US-ASCII"), 0, h, off, len - 1)
        h(off + len - 1) = 0
      }
      octal(100, 8, 420) // mode 0644
      octal(108, 8, 0); octal(116, 8, 0) // uid/gid
      octal(124, 12, size)
      octal(136, 12, mtime)
      h(156) = if (isDir) '5' else '0'
      System.arraycopy("ustar".getBytes("US-ASCII"), 0, h, 257, 5)
      h(263) = '0'; h(264) = '0' // POSIX version
      java.util.Arrays.fill(h, 148, 156, 0x20.toByte)
      var sum = 0L
      (0 until 512).foreach(i => sum += h(i) & 0xff)
      val cs = java.lang.Long.toOctalString(sum)
      val csp = ("0" * (6 - cs.length)) + cs
      System.arraycopy(csp.getBytes("US-ASCII"), 0, h, 148, 6)
      h(154) = 0; h(155) = ' '
      out.write(h)
      if (!isDir) {
        (0L until size).foreach(i =>
          out.write(((d * 11 + 17 * j + i) % 251).toInt))
        val pad = ((size + 511) / 512 * 512 - size).toInt
        out.write(new Array[Byte](pad))
      }
    }
    out.write(new Array[Byte](1024))
    out.toByteArray
  }

  /** Closed-form ustar TEXT corpus: 2+d%4 .txt members, member j
    * holding 5+(d+j)%10 space-separated words from a 13-word
    * vocabulary (word i = "w"+((d*3+5j+i²)%13) — the quadratic term
    * makes repeats, so distinct-type counts are non-trivial) — the
    * fixture for the archives-feed-the-text-pipeline composition. */
  def synthTarDocs(d: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val n = (2 + d % 4).toInt
    (0 until n).foreach { j =>
      val nWords = (5 + (d + j) % 10).toInt
      val text = (0 until nWords)
        .map(i => "w" + ((d * 3 + 5 * j + i.toLong * i) % 13)).mkString(" ")
      val body = text.getBytes("US-ASCII")
      val name = s"doc_${d}_$j.txt"
      val mtime = 1700000000L + 100 * d + j
      val h = new Array[Byte](512)
      val nb = name.getBytes("US-ASCII")
      System.arraycopy(nb, 0, h, 0, nb.length)
      def octal(off: Int, len: Int, v: Long): Unit = {
        val s = java.lang.Long.toOctalString(v)
        val padded = ("0" * (len - 1 - s.length)) + s
        System.arraycopy(padded.getBytes("US-ASCII"), 0, h, off, len - 1)
        h(off + len - 1) = 0
      }
      octal(100, 8, 420)
      octal(108, 8, 0); octal(116, 8, 0)
      octal(124, 12, body.length)
      octal(136, 12, mtime)
      h(156) = '0'
      System.arraycopy("ustar".getBytes("US-ASCII"), 0, h, 257, 5)
      h(263) = '0'; h(264) = '0'
      java.util.Arrays.fill(h, 148, 156, 0x20.toByte)
      var sum = 0L
      (0 until 512).foreach(i => sum += h(i) & 0xff)
      val cs = java.lang.Long.toOctalString(sum)
      val csp = ("0" * (6 - cs.length)) + cs
      System.arraycopy(csp.getBytes("US-ASCII"), 0, h, 148, 6)
      h(154) = 0; h(155) = ' '
      out.write(h)
      out.write(body)
      out.write(new Array[Byte](
        ((body.length + 511) / 512 * 512 - body.length)))
    }
    out.write(new Array[Byte](1024))
    out.toByteArray
  }

  final case class ZipMember(idx: Int, name: String, method: String,
      usize: Long)

  private def u64le(b: Array[Byte], o: Int): Long = {
    val v = Bin.u64le(b, o, b.length, "zip")
    require(v >= 0, s"zip64 u64 field at $o exceeds 2^63")
    v
  }

  /** ZIP walk: find the EOCD by backward scan (its own comment makes
    * the record variable-length), walk the central directory, and for
    * EVERY member cross-validate the local header AND the payload
    * integrity — stored members are CRC32-checked as-is, deflated
    * members are raw-inflated and both the inflated length and CRC
    * must match the directory's claims. A directory that lies about
    * its members fails loudly. ZIP64 handled in full: a classic field
    * at its u16/u32 ceiling routes through the Zip64 EOCD locator +
    * record, and per-member ceilings resolve through the 0x0001
    * extended-information extra (usize, csize, localOff in APPNOTE
    * order) — the format >4 GB corpus dumps actually arrive in. */
  def zipEntries(bytes: Array[Byte]): Array[ZipMember] =
    zipExtract(bytes).map(_._1)

  /** The zipEntries walk, returning each member's DECODED payload
    * beside its metadata — the extraction form composed formats
    * (EPUB) build on. Same validation: every payload is inflated (or
    * taken stored) and CRC-checked against the central directory. */
  def zipExtract(bytes: Array[Byte]): Array[(ZipMember, Array[Byte])] = {
    require(bytes.length >= 22, "shorter than an empty ZIP")
    var eocd = -1
    var p = bytes.length - 22
    val floor = math.max(0, bytes.length - 22 - 0xffff)
    while (eocd < 0 && p >= floor) {
      if (bytes(p) == 0x50 && bytes(p + 1) == 0x4b && bytes(p + 2) == 5 &&
          bytes(p + 3) == 6 &&
          p + 22 + Bin.u16le(bytes, p + 20, bytes.length,
            "zip") == bytes.length) eocd = p
      else p -= 1
    }
    require(eocd >= 0, "no end-of-central-directory record")
    var nEntries: Long = Bin.u16le(bytes, eocd + 10, bytes.length, "zip")
    require(nEntries == Bin.u16le(bytes, eocd + 8, bytes.length, "zip"),
      "multi-disk ZIP unsupported in the walk")
    var cdSize = Bin.u32le(bytes, eocd + 12, bytes.length, "zip")
    var cdOff = Bin.u32le(bytes, eocd + 16, bytes.length, "zip")
    // ZIP64 (APPNOTE 4.4.1.4): any classic field at its ceiling means
    // the true values live in the Zip64 EOCD record, located by the
    // 20-byte locator that must sit immediately before the classic EOCD
    var cdEnd = eocd
    if (nEntries == 0xffff || cdSize == 0xffffffffL || cdOff == 0xffffffffL) {
      val loc = eocd - 20
      require(loc >= 0 && Bin.u32le(bytes, loc, bytes.length, "zip") == 0x07064b50L,
        "classic EOCD at its ceiling but no zip64 locator before it")
      require(Bin.u32le(bytes, loc + 4, bytes.length, "zip") == 0 &&
        Bin.u32le(bytes, loc + 16, bytes.length, "zip") == 1,
        "multi-disk zip64 unsupported in the walk")
      val e64 = u64le(bytes, loc + 8)
      require(e64 + 56 <= loc,
        s"zip64 EOCD record at $e64 overruns its locator at $loc")
      val e = e64.toInt
      require(Bin.u32le(bytes, e, bytes.length, "zip") == 0x06064b50L,
        s"bad zip64 EOCD signature at $e")
      nEntries = u64le(bytes, e + 32)
      require(nEntries == u64le(bytes, e + 24),
        "multi-disk zip64 unsupported in the walk")
      require(nEntries < Int.MaxValue, s"zip64 entry count $nEntries absurd")
      cdSize = u64le(bytes, e + 40)
      cdOff = u64le(bytes, e + 48)
      cdEnd = e
      require(cdOff + cdSize == e64,
        s"central directory [$cdOff, ${cdOff + cdSize}) does not abut " +
          "the zip64 EOCD record")
    } else {
      require(cdOff + cdSize == eocd,
        s"central directory [$cdOff, ${cdOff + cdSize}) does not abut EOCD")
    }
    val out =
      collection.mutable.ArrayBuffer.empty[(ZipMember, Array[Byte])]
    var pos = cdOff.toInt
    (0L until nEntries).foreach { _ =>
      require(pos + 46 <= cdEnd, s"truncated central-dir entry at $pos")
      require(Bin.u32le(bytes, pos, bytes.length, "zip") == 0x02014b50L,
        s"bad central-dir signature at $pos")
      val method = Bin.u16le(bytes, pos + 10, bytes.length, "zip") match {
        case 0 => "stored"
        case 8 => "deflated"
        case m =>
          throw new IllegalArgumentException(s"ZIP compression method $m unsupported")
      }
      val crc = Bin.u32le(bytes, pos + 16, bytes.length, "zip")
      var csize = Bin.u32le(bytes, pos + 20, bytes.length, "zip")
      var usize = Bin.u32le(bytes, pos + 24, bytes.length, "zip")
      val nameLen = Bin.u16le(bytes, pos + 28, bytes.length, "zip")
      val extraLen = Bin.u16le(bytes, pos + 30, bytes.length, "zip")
      val cmtLen = Bin.u16le(bytes, pos + 32, bytes.length, "zip")
      var localOff = Bin.u32le(bytes, pos + 42, bytes.length, "zip")
      require(pos + 46 + nameLen + extraLen <= cdEnd,
        s"central-dir name/extra overruns at $pos")
      val name = new String(bytes, pos + 46, nameLen, "US-ASCII")
      // ZIP64 extended-information extra (id 0x0001): 8-byte values for
      // exactly the fields the fixed record left at their ceiling, in
      // APPNOTE order usize, csize, localOff
      if (usize == 0xffffffffL || csize == 0xffffffffL ||
          localOff == 0xffffffffL) {
        var off = pos + 46 + nameLen
        val extraEnd = off + extraLen
        var found = false
        while (!found && off + 4 <= extraEnd) {
          val id = Bin.u16le(bytes, off, bytes.length, "zip")
          val sz = Bin.u16le(bytes, off + 2, bytes.length, "zip")
          require(off + 4 + sz <= extraEnd,
            s"extra field $id overruns its block for $name")
          if (id == 1) {
            found = true
            var vo = off + 4
            def take64(label: String): Long = {
              require(vo + 8 <= off + 4 + sz,
                s"zip64 extra too short for $label of $name")
              val v = u64le(bytes, vo); vo += 8; v
            }
            if (usize == 0xffffffffL) usize = take64("usize")
            if (csize == 0xffffffffL) csize = take64("csize")
            if (localOff == 0xffffffffL) localOff = take64("localOff")
          } else off += 4 + sz
        }
        require(found,
          s"member $name at a u32 ceiling without a zip64 extra field")
      }
      // local header cross-validation — bound the u32 offset BEFORE
      // narrowing so a corrupted 3 GiB offset cannot index negative
      require(localOff + 30 <= bytes.length,
        s"local header offset $localOff for $name overruns the archive")
      val lo = localOff.toInt
      require(Bin.u32le(bytes, lo, bytes.length, "zip") == 0x04034b50L,
        s"bad local header for $name at $lo")
      Bin.checkRange(lo + 30, nameLen, bytes.length, "local header name")
      require(Bin.u16le(bytes, lo + 26, bytes.length, "zip") == nameLen &&
        new String(bytes, lo + 30, nameLen, "US-ASCII") == name,
        s"local header name disagrees with central dir for $name")
      val lExtra = Bin.u16le(bytes, lo + 28, bytes.length, "zip")
      val dataOff = lo + 30 + nameLen + lExtra
      Bin.checkRange(dataOff, csize, bytes.length, "zip member payload")
      val plain =
        if (method == "stored") {
          require(csize == usize,
            s"stored member $name csize $csize != usize $usize")
          java.util.Arrays.copyOfRange(bytes, dataOff, dataOff + csize.toInt)
        } else {
          // the directory's usize caps the output; a lying u32 never
          // sizes a buffer past Deflate's 1032:1 bound
          val got = Deflate.inflate(bytes, dataOff, csize.toInt, raw = true,
            s"member $name", cap = usize)
          require(got.length == usize,
            s"member $name inflates to ${got.length} bytes, directory says $usize")
          got
        }
      val c = new java.util.zip.CRC32()
      c.update(plain)
      require(c.getValue == crc,
        s"member $name CRC ${c.getValue} != directory ${crc}")
      out += ((ZipMember(out.length, name, method, usize), plain))
      pos += 46 + nameLen + extraLen + cmtLen
    }
    require(pos == cdEnd, "central directory does not end at its EOCD")
    require(out.nonEmpty, "ZIP archive with no members")
    out.toArray
  }

  /** Closed-form ZIP: 2+d%4 members, every (d+j)%3==0 member deflated
    * (raw DEFLATE) and the rest stored, content bytes mod 251 of
    * doc-derived length — local headers, central directory, EOCD with
    * a doc-varying comment so the backward scan is exercised. */
  /** General classic-ZIP writer (local headers, central directory,
    * EOCD with a comment so the backward scan is exercised): members
    * are (name, plain bytes, deflate?). The reusable write side of
    * zipExtract — synthZip and the EPUB fixture both build on it. */
  def zipBuild(members: Seq[(String, Array[Byte], Boolean)],
      comment: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val central = new java.io.ByteArrayOutputStream()
    members.foreach { case (name, plain, deflate) =>
      val crcC = new java.util.zip.CRC32(); crcC.update(plain)
      val crc = crcC.getValue
      val payload = if (!deflate) plain else Deflate.deflate(plain, raw = true)
      val method = if (deflate) 8 else 0
      val nb = name.getBytes("US-ASCII")
      val localOff = out.size()
      val lh = new Array[Byte](30)
      Bin.put32le(lh, 0, 0x04034b50L); Bin.put16le(lh, 4, 20); Bin.put16le(lh, 8, method)
      Bin.put32le(lh, 14, crc); Bin.put32le(lh, 18, payload.length); Bin.put32le(lh, 22, plain.length)
      Bin.put16le(lh, 26, nb.length)
      out.write(lh); out.write(nb); out.write(payload)
      val ce = new Array[Byte](46)
      Bin.put32le(ce, 0, 0x02014b50L); Bin.put16le(ce, 4, 20); Bin.put16le(ce, 6, 20)
      Bin.put16le(ce, 10, method)
      Bin.put32le(ce, 16, crc); Bin.put32le(ce, 20, payload.length); Bin.put32le(ce, 24, plain.length)
      Bin.put16le(ce, 28, nb.length); Bin.put32le(ce, 42, localOff)
      central.write(ce); central.write(nb)
    }
    val cdOff = out.size()
    val cd = central.toByteArray
    out.write(cd)
    val cb = comment.getBytes("US-ASCII")
    val n = members.size
    val eocd = new Array[Byte](22)
    eocd(0) = 0x50; eocd(1) = 0x4b; eocd(2) = 5; eocd(3) = 6
    eocd(8) = (n & 0xff).toByte; eocd(9) = ((n >> 8) & 0xff).toByte
    eocd(10) = eocd(8); eocd(11) = eocd(9)
    eocd(12) = (cd.length & 0xff).toByte
    eocd(13) = ((cd.length >> 8) & 0xff).toByte
    eocd(14) = ((cd.length >> 16) & 0xff).toByte
    eocd(15) = ((cd.length >> 24) & 0xff).toByte
    eocd(16) = (cdOff & 0xff).toByte
    eocd(17) = ((cdOff >> 8) & 0xff).toByte
    eocd(18) = ((cdOff >> 16) & 0xff).toByte
    eocd(19) = ((cdOff >> 24) & 0xff).toByte
    eocd(20) = (cb.length & 0xff).toByte
    eocd(21) = ((cb.length >> 8) & 0xff).toByte
    out.write(eocd); out.write(cb)
    out.toByteArray
  }

  def synthZip(d: Long): Array[Byte] =
    zipBuild((0 until (2 + d % 4).toInt).map { j =>
      val usize = (20 + (d * 5 + 11 * j) % 200).toInt
      (s"f${d}_$j.bin",
        Array.tabulate[Byte](usize)(i => ((d * 11 + 17 * j + i) % 251).toByte),
        (d + j) % 3 == 0)
    }, s"graft-$d")

  /** Closed-form ZIP64: the "zip64-always" writer shape (every size,
    * offset, and count at its u32/u16 ceiling with the true values in
    * 0x0001 extra fields and the Zip64 EOCD record + locator) — legal
    * per APPNOTE 4.4.1.4 and what >4 GB crawl dumps actually look
    * like, exercisable at fixture scale because the MARKERS force the
    * zip64 paths regardless of the actual sizes. 2+d%3 members, every
    * (d+j)%3==0 deflated, content bytes (d*13+19j+i) mod 251. */
  def synthZip64(d: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val central = new java.io.ByteArrayOutputStream()
    val n = (2 + d % 3).toInt
    (0 until n).foreach { j =>
      val name = s"big${d}_$j.dat"
      val usize = (30 + (d * 7 + 13 * j) % 150).toInt
      val plain = Array.tabulate[Byte](usize)(i =>
        ((d * 13 + 19 * j + i) % 251).toByte)
      val crcC = new java.util.zip.CRC32(); crcC.update(plain)
      val crc = crcC.getValue
      val deflate = (d + j) % 3 == 0
      val payload = if (!deflate) plain else Deflate.deflate(plain, raw = true)
      val method = if (deflate) 8 else 0
      val nb = name.getBytes("US-ASCII")
      val localOff = out.size()
      val lh = new Array[Byte](30)
      Bin.put32le(lh, 0, 0x04034b50L); Bin.put16le(lh, 4, 45); Bin.put16le(lh, 8, method)
      Bin.put32le(lh, 14, crc)
      Bin.put32le(lh, 18, 0xffffffffL); Bin.put32le(lh, 22, 0xffffffffL)
      Bin.put16le(lh, 26, nb.length); Bin.put16le(lh, 28, 20)
      val lx = new Array[Byte](20)
      Bin.put16le(lx, 0, 1); Bin.put16le(lx, 2, 16)
      Bin.put64le(lx, 4, usize); Bin.put64le(lx, 12, payload.length)
      out.write(lh); out.write(nb); out.write(lx); out.write(payload)
      val ce = new Array[Byte](46)
      Bin.put32le(ce, 0, 0x02014b50L); Bin.put16le(ce, 4, 45); Bin.put16le(ce, 6, 45)
      Bin.put16le(ce, 10, method)
      Bin.put32le(ce, 16, crc)
      Bin.put32le(ce, 20, 0xffffffffL); Bin.put32le(ce, 24, 0xffffffffL)
      Bin.put16le(ce, 28, nb.length); Bin.put16le(ce, 30, 28)
      Bin.put32le(ce, 42, 0xffffffffL)
      val cx = new Array[Byte](28)
      Bin.put16le(cx, 0, 1); Bin.put16le(cx, 2, 24)
      Bin.put64le(cx, 4, usize); Bin.put64le(cx, 12, payload.length); Bin.put64le(cx, 20, localOff)
      central.write(ce); central.write(nb); central.write(cx)
    }
    val cdOff = out.size()
    val cd = central.toByteArray
    out.write(cd)
    val e64Off = out.size()
    val e64 = new Array[Byte](56)
    Bin.put32le(e64, 0, 0x06064b50L); Bin.put64le(e64, 4, 44)
    Bin.put16le(e64, 12, 45); Bin.put16le(e64, 14, 45)
    Bin.put32le(e64, 16, 0); Bin.put32le(e64, 20, 0)
    Bin.put64le(e64, 24, n); Bin.put64le(e64, 32, n)
    Bin.put64le(e64, 40, cd.length); Bin.put64le(e64, 48, cdOff)
    out.write(e64)
    val loc = new Array[Byte](20)
    Bin.put32le(loc, 0, 0x07064b50L); Bin.put32le(loc, 4, 0)
    Bin.put64le(loc, 8, e64Off); Bin.put32le(loc, 16, 1)
    out.write(loc)
    val comment = s"graft64-$d".getBytes("US-ASCII")
    val eocd = new Array[Byte](22)
    Bin.put32le(eocd, 0, 0x06054b50L)
    Bin.put16le(eocd, 8, 0xffff); Bin.put16le(eocd, 10, 0xffff)
    Bin.put32le(eocd, 12, 0xffffffffL); Bin.put32le(eocd, 16, 0xffffffffL)
    Bin.put16le(eocd, 20, comment.length)
    out.write(eocd); out.write(comment)
    out.toByteArray
  }
}
