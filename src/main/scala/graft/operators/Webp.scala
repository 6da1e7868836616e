package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** WebP — the RIFF/VP8X container walk plus a REAL VP8L (lossless)
  * decoder, closing the one major web-image gap in the multimodal
  * family (JPEG/PNG/GIF/BMP already decode for real). Everything here
  * is implemented from the public WebP container spec and the "WebP
  * Lossless Bitstream Specification" (plus RFC 6386 for the three
  * lossy-VP8 keyframe-header fields the metadata walk reads).
  *
  * Decode subset, same discipline as the GIF-LZW and FLAC rows —
  * implemented for real, boundaries rejected loudly by name:
  *   - VP8L: simple (1/2-symbol) AND normal (code-length-coded)
  *     Huffman codes, LZ77 backward references with the full 120-entry
  *     2D distance-plane mapping, color cache, meta-Huffman entropy
  *     image (multiple code groups), and ALL FOUR transforms:
  *     subtract-green, predictor (all 14 modes), the cross-channel
  *     color transform (signed (t*c)>>5 deltas, red reconstructed
  *     before the red_to_blue term reads it), and color-indexing
  *     (including sub-byte pixel bundling for palettes <= 16).
  *     Combining color-indexing with other transforms is rejected
  *     loudly (never emitted by real encoders).
  *   - VP8 (lossy): the uncompressed header (keyframe flag, version,
  *     show_frame, partition size, start code, dimensions) PLUS the
  *     bool-coded key-frame header through the quantizer indices (the
  *     RFC 6386 section-7 arithmetic decoder below) — macroblock and
  *     residual decode is the documented codec boundary.
  *   - Animated files: the VP8X/ANIM/ANMF walk with every frame's
  *     nested VP8L payload fully decoded.
  *
  * There is no WebP codec in the JDK, so conformance is pinned
  * without a bundled reference: bit-exact round-trips through our own
  * from-spec encoder across six rotating bitstream layouts, a
  * HAND-derived byte-literal stream decoded in WebpSpec, structural
  * invariants on the distance-plane table, an any-probability
  * round-trip property test on the boolean coder, and 300-trial
  * corruption fuzz (decode must fail loudly, never hang or escape the
  * IllegalArgument/RuntimeException contract).
  *
  * Huffman codes use the DEFLATE conventions: uniform bit fields are
  * read LSB-first within bytes; canonical prefix codes are read one
  * bit at a time with the FIRST bit on the wire being the code's most
  * significant bit; code lengths are capped at 15. A code whose
  * alphabet has exactly one used symbol costs ZERO bits per emission
  * (both sides implement that rule, matching libwebp's table builder).
  */
object Webp {

  /** Decoded image: row-major ARGB (alpha in bits 31-24). */
  final case class Argb(width: Int, height: Int, px: Array[Int])

  private def ceilDiv(a: Int, b: Int): Int = (a + b - 1) / b

  // ------------------------------------------------------------ bit I/O

  /** A canonical Huffman code goes on the LSB-first wire MSB-first
    * (the first bit on the wire is the code's MSB). */
  private def writeCode(bw: Bin.LsbWriter, code: Int, len: Int): Unit = {
    var i = len - 1
    while (i >= 0) { bw.u((code >> i) & 1, 1); i -= 1 }
  }

  // ------------------------------------------------- canonical Huffman

  /** Canonical Huffman decoder from a code-length array. Exactly one
    * used symbol -> 0-bit code. A simple 2-symbol code decodes in
    * LISTED order (bit b -> symbols(b)), which equals canonical order
    * because our encoder always lists the symbols ascending. */
  private final class HuffDec(
      single: Int, listed: Array[Int],
      counts: Array[Int], firsts: Array[Int],
      offs: Array[Int], syms: Array[Int]) {
    def next(br: Bin.LsbReader): Int =
      if (single >= 0) single
      else if (listed != null) listed(br.u(1))
      else {
        var code = 0
        var len = 0
        while (true) {
          len += 1
          require(len <= 15, "corrupt Huffman code in VP8L stream")
          code = (code << 1) | br.u(1)
          val d = code - firsts(len)
          if (d >= 0 && d < counts(len)) return syms(offs(len) + d)
        }
        -1 // unreachable
      }
  }

  private object HuffDec {
    def singleSym(s: Int): HuffDec = new HuffDec(s, null, null, null, null, null)
    def pair(s0: Int, s1: Int): HuffDec =
      new HuffDec(-1, Array(s0, s1), null, null, null, null)
    def fromLengths(lengths: Array[Int]): HuffDec = {
      val used = lengths.indices.filter(lengths(_) > 0)
      require(used.nonEmpty, "empty Huffman code in VP8L stream")
      if (used.size == 1) singleSym(used.head)
      else {
        require(used.forall(i => lengths(i) <= 15), "Huffman length > 15")
        val counts = new Array[Int](16)
        used.foreach(i => counts(lengths(i)) += 1)
        // completeness (Kraft sum == 1): anything else is corrupt
        var kraft = 0L
        (1 to 15).foreach(l => kraft += counts(l).toLong << (15 - l))
        require(kraft == (1L << 15),
          "incomplete or oversubscribed Huffman code in VP8L stream")
        val firsts = new Array[Int](16)
        (1 to 15).foreach(l => firsts(l) = (firsts(l - 1) + counts(l - 1)) << 1)
        val offs = new Array[Int](16)
        (1 to 15).foreach(l => offs(l) = offs(l - 1) + counts(l - 1))
        val syms = new Array[Int](used.size)
        val next = firsts.clone()
        val fill = offs.clone()
        used.sorted.foreach { s =>
          val l = lengths(s)
          syms(fill(l)) = s; fill(l) += 1; next(l) += 1
        }
        new HuffDec(-1, null, counts, firsts, offs, syms)
      }
    }
  }

  /** Canonical code values for an encoder-side length array (same
    * assignment rule the decoder walks, so round-trips are exact). */
  private def canonCodes(lengths: Array[Int]): Array[Int] = {
    val counts = new Array[Int](16)
    lengths.foreach(l => if (l > 0) counts(l) += 1)
    val next = new Array[Int](16)
    (1 to 15).foreach(l => next(l) = (next(l - 1) + counts(l - 1)) << 1)
    val codes = new Array[Int](lengths.length)
    lengths.indices.foreach { s =>
      val l = lengths(s)
      if (l > 0) { codes(s) = next(l); next(l) += 1 }
    }
    codes
  }

  /** Encoder half of a code: zero bits for single-symbol codes. */
  private final class HuffEnc(val lengths: Array[Int]) {
    private val single = {
      val used = lengths.indices.filter(lengths(_) > 0)
      if (used.size == 1) used.head else -1
    }
    private val codes = canonCodes(lengths)
    def write(bw: Bin.LsbWriter, sym: Int): Unit =
      if (single < 0) writeCode(bw, codes(sym), lengths(sym))
  }

  /** Complete length-limited code lengths from frequencies: plain
    * pairwise-merge Huffman; if the depth exceeds the cap, halve the
    * frequency dynamic range and rebuild (converges to a balanced
    * tree, so depth <= ceil(log2 m) <= cap for every VP8L alphabet).
    * The result is always a COMPLETE code — the decoder's Kraft check
    * is load-bearing, so near-optimal-but-complete beats optimal. */
  private def limitedLengths(freqIn: Array[Long], cap: Int): Array[Int] = {
    val lens = new Array[Int](freqIn.length)
    val used = freqIn.indices.filter(freqIn(_) > 0).toArray
    require(used.nonEmpty, "limitedLengths on an empty alphabet")
    if (used.length == 1) { lens(used(0)) = 1; return lens }
    var f = used.map(freqIn)
    var depths: Array[Int] = null
    var ok = false
    while (!ok) {
      val w = f.clone()
      val codesize = new Array[Int](w.length)
      val others = Array.fill(w.length)(-1)
      var done = false
      while (!done) {
        var v1 = -1; var v2 = -1
        var i = 0
        while (i < w.length) {
          if (w(i) > 0) {
            if (v1 < 0 || w(i) < w(v1) || (w(i) == w(v1) && i > v1)) v1 = i
          }
          i += 1
        }
        i = 0
        while (i < w.length) {
          if (w(i) > 0 && i != v1) {
            if (v2 < 0 || w(i) < w(v2) || (w(i) == w(v2) && i > v2)) v2 = i
          }
          i += 1
        }
        if (v2 < 0) done = true
        else {
          w(v1) += w(v2); w(v2) = 0
          codesize(v1) += 1
          var p = v1
          while (others(p) >= 0) { p = others(p); codesize(p) += 1 }
          others(p) = v2
          codesize(v2) += 1
          p = v2
          while (others(p) >= 0) { p = others(p); codesize(p) += 1 }
        }
      }
      if (codesize.max <= cap) { depths = codesize; ok = true }
      else f = f.map(x => (x + 1) >> 1)
    }
    used.indices.foreach(i => lens(used(i)) = depths(i))
    lens
  }

  // --------------------------------------- code (de)serialization

  /** kCodeLengthCodeOrder from the VP8L spec. */
  private val ClOrder =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  private def readHuffmanCode(br: Bin.LsbReader, alphabetSize: Int): HuffDec = {
    if (br.u(1) == 1) {
      // simple code: 1 or 2 symbols, zero or one bit per emission
      val nSyms = br.u(1) + 1
      val s0 = if (br.u(1) == 1) br.u(8) else br.u(1)
      require(s0 < alphabetSize, s"simple-code symbol $s0 out of alphabet")
      if (nSyms == 1) HuffDec.singleSym(s0)
      else {
        val s1 = br.u(8)
        require(s1 < alphabetSize && s1 != s0,
          s"bad simple-code symbol pair ($s0, $s1)")
        HuffDec.pair(s0, s1)
      }
    } else {
      val nCl = 4 + br.u(4)
      val clLens = new Array[Int](19)
      var i = 0
      while (i < nCl) { clLens(ClOrder(i)) = br.u(3); i += 1 }
      val clDec = HuffDec.fromLengths(clLens)
      // optional max_symbol: bounds how many CL symbols are read
      var budget =
        if (br.u(1) == 1) {
          val nb = 2 + 2 * br.u(3)
          2 + br.u(nb)
        } else Int.MaxValue
      val lengths = new Array[Int](alphabetSize)
      var prev = 8
      var sym = 0
      while (sym < alphabetSize && budget > 0) {
        budget -= 1
        val cl = clDec.next(br)
        if (cl < 16) {
          lengths(sym) = cl; sym += 1
          if (cl != 0) prev = cl
        } else {
          val (v, n) = cl match {
            case 16 => (prev, 3 + br.u(2))
            case 17 => (0, 3 + br.u(3))
            case _  => (0, 11 + br.u(7))
          }
          require(sym + n <= alphabetSize,
            "code-length repeat overruns the alphabet")
          var k = 0
          while (k < n) { lengths(sym) = v; sym += 1; k += 1 }
        }
      }
      HuffDec.fromLengths(lengths)
    }
  }

  private def writeHuffmanCode(bw: Bin.LsbWriter, lengths: Array[Int]): Unit = {
    val used = lengths.indices.filter(lengths(_) > 0)
    if (used.size <= 2 && used.nonEmpty && used.max <= 255) {
      // simple representation (our encoder lists symbols ascending,
      // which coincides with canonical assignment)
      bw.u(1, 1)
      bw.u(used.size - 1, 1)
      val s0 = used.head
      if (s0 <= 1) { bw.u(0, 1); bw.u(s0, 1) }
      else { bw.u(1, 1); bw.u(s0, 8) }
      if (used.size == 2) bw.u(used(1), 8)
    } else {
      bw.u(0, 1)
      // RLE the length array into code-length-code tokens
      val toks = collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
      var i = 0
      while (i < lengths.length) {
        val v = lengths(i)
        var run = 1
        while (i + run < lengths.length && lengths(i + run) == v) run += 1
        if (v == 0) {
          var r = run
          while (r > 0) {
            if (r < 3) { toks += ((0, 0, 0)); r -= 1 }
            else if (r <= 10) { toks += ((17, r - 3, 3)); r = 0 }
            else { val n = math.min(r, 138); toks += ((18, n - 11, 7)); r -= n }
          }
        } else {
          toks += ((v, 0, 0))
          var r = run - 1
          while (r >= 3) { val n = math.min(r, 6); toks += ((16, n - 3, 2)); r -= n }
          while (r > 0) { toks += ((v, 0, 0)); r -= 1 }
        }
        i += run
      }
      val clFreq = new Array[Long](19)
      toks.foreach(t => clFreq(t._1) += 1)
      val clLens = limitedLengths(clFreq, 7)
      var lastPos = 0
      ClOrder.indices.foreach(p => if (clLens(ClOrder(p)) > 0) lastPos = p)
      val nCl = math.max(4, lastPos + 1)
      bw.u(nCl - 4, 4)
      (0 until nCl).foreach(p => bw.u(clLens(ClOrder(p)), 3))
      bw.u(0, 1) // no max_symbol
      val clEnc = new HuffEnc(clLens)
      toks.foreach { case (s, ev, eb) =>
        clEnc.write(bw, s)
        if (eb > 0) bw.u(ev, eb)
      }
    }
  }

  // --------------------------------------- LZ77 prefix + plane codes

  /** value -> (prefixCode, extraBits, extraVal), inverse of
    * decodePrefix; v >= 1. Spec: code p >= 4 covers the range
    * [(2+(p&1))<<eb + 1, (3+(p&1))<<eb] with eb = (p-2)>>1. */
  private def prefixEncode(v: Int): (Int, Int, Int) = {
    require(v >= 1, s"prefix value $v")
    if (v <= 4) (v - 1, 0, 0)
    else {
      val x = v - 1
      val k = 31 - Integer.numberOfLeadingZeros(x)
      val b = (x >> (k - 1)) & 1
      val code = 2 * k + b
      val offset = (2 + b) << (k - 1)
      (code, k - 1, x - offset)
    }
  }

  private def decodePrefix(br: Bin.LsbReader, code: Int): Int =
    if (code < 4) code + 1
    else {
      val eb = (code - 2) >> 1
      val offset = (2 + (code & 1)) << eb
      offset + br.u(eb) + 1
    }

  /** The 120-entry 2D distance-code window, GENERATED from the rule
    * the spec's table obeys (and which reproduces libwebp's
    * kCodeToPlane constants on every entry we spot-checked by hand):
    * all offsets (x, y) with y in [0,7], x in [-7,8], x >= 1 when
    * y == 0, ordered by (x*x + y*y ascending, y descending,
    * x descending); the packed byte is (y << 4) | (8 - x). WebpSpec
    * pins the structural invariants (120 distinct in-window entries,
    * non-decreasing distance, the exact first 12 bytes). */
  private[graft] val codeToPlane: Array[Int] = {
    val all = for {
      y <- 0 to 7
      x <- -7 to 8
      if y > 0 || x >= 1
    } yield (x, y)
    val sorted = all.sortBy { case (x, y) => (x * x + y * y, -y, -x) }
    require(sorted.length == 120, "plane-code window must have 120 entries")
    sorted.map { case (x, y) => (y << 4) | (8 - x) }.toArray
  }

  private[graft] def planeToDistance(xsize: Int, code: Int): Int = {
    require(code >= 1, "distance code must be positive")
    if (code > 120) code - 120
    else {
      val b = codeToPlane(code - 1)
      val y = b >> 4
      val x = 8 - (b & 0xf)
      math.max(1, y * xsize + x)
    }
  }

  /** Inverse mapping for the encoder: the smallest plane code whose
    * mapped distance equals `dist` (verified through planeToDistance,
    * so narrow-image collisions can never desync the two sides). */
  private[graft] def tryPlaneCode(xsize: Int, dist: Int): Int = {
    var c = 1
    while (c <= 120) {
      if (planeToDistance(xsize, c) == dist) return c
      c += 1
    }
    dist + 120
  }

  // ------------------------------------------------- pixel arithmetic

  /** Per-byte-lane average without cross-lane carry. */
  private def avg2(a: Int, b: Int): Int =
    (a & b) + (((a ^ b) & 0xfefefefe) >>> 1)

  private def addPx(a: Int, b: Int): Int = {
    val ag = (((a >>> 24) + (b >>> 24)) & 0xff) << 24
    val rg = (((a >>> 16) + (b >>> 16)) & 0xff) << 16
    val gg = (((a >>> 8) + (b >>> 8)) & 0xff) << 8
    val bg = ((a & 0xff) + (b & 0xff)) & 0xff
    ag | (rg & 0xff0000) | (gg & 0xff00) | bg
  }

  private def subPx(a: Int, b: Int): Int = {
    val ag = (((a >>> 24) - (b >>> 24)) & 0xff) << 24
    val rg = ((((a >>> 16) & 0xff) - ((b >>> 16) & 0xff)) & 0xff) << 16
    val gg = ((((a >>> 8) & 0xff) - ((b >>> 8) & 0xff)) & 0xff) << 8
    val bg = (((a & 0xff) - (b & 0xff)) & 0xff)
    ag | rg | gg | bg
  }

  private def clip255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  private def clampAddSubFull(l: Int, t: Int, tl: Int): Int = {
    var out = 0
    var sh = 0
    while (sh < 32) {
      val v = clip255(((l >>> sh) & 0xff) + ((t >>> sh) & 0xff) -
        ((tl >>> sh) & 0xff))
      out |= v << sh
      sh += 8
    }
    out
  }

  private def clampAddSubHalf(l: Int, t: Int, tl: Int): Int = {
    val ave = avg2(l, t)
    var out = 0
    var sh = 0
    while (sh < 32) {
      val a = (ave >>> sh) & 0xff
      val v = clip255(a + (a - ((tl >>> sh) & 0xff)) / 2)
      out |= v << sh
      sh += 8
    }
    out
  }

  private def select(l: Int, t: Int, tl: Int): Int = {
    var pl = 0
    var pt = 0
    var sh = 0
    while (sh < 32) {
      val lc = (l >>> sh) & 0xff
      val tc = (t >>> sh) & 0xff
      val tlc = (tl >>> sh) & 0xff
      val p = lc + tc - tlc
      pl += math.abs(p - lc)
      pt += math.abs(p - tc)
      sh += 8
    }
    if (pl <= pt) l else t
  }

  /** The 14 spec predictor modes. */
  private def predict(mode: Int, l: Int, t: Int, tr: Int, tl: Int): Int =
    mode match {
      case 0  => 0xff000000
      case 1  => l
      case 2  => t
      case 3  => tr
      case 4  => tl
      case 5  => avg2(avg2(l, tr), t)
      case 6  => avg2(l, tl)
      case 7  => avg2(l, t)
      case 8  => avg2(tl, t)
      case 9  => avg2(t, tr)
      case 10 => avg2(avg2(l, tl), avg2(t, tr))
      case 11 => select(l, t, tl)
      case 12 => clampAddSubFull(l, t, tl)
      case 13 => clampAddSubHalf(l, t, tl)
      case m  => throw new IllegalArgumentException(s"predictor mode $m > 13")
    }

  /** Prediction for pixel `pos` given the reconstructed plane so far.
    * Edge rules per spec: (0,0) predicts black, the rest of the top
    * row predicts LEFT, the left column predicts TOP. Top-right at
    * the last column reads the contiguous-buffer neighbor — the first
    * pixel of the CURRENT row (libwebp's exact behavior, already
    * reconstructed by the time x == w-1). */
  private def predAt(px: Array[Int], w: Int, pos: Int, mode: Int): Int = {
    val x = pos % w
    val y = pos / w
    if (x == 0 && y == 0) 0xff000000
    else if (y == 0) px(pos - 1)
    else if (x == 0) px(pos - w)
    else {
      val l = px(pos - 1)
      val t = px(pos - w)
      val tl = px(pos - w - 1)
      val tr = px(pos - w + 1) // x == w-1 wraps to px(y*w): see Scaladoc
      predict(mode, l, t, tr, tl)
    }
  }

  private def forwardSubtractGreen(p: Int): Int = {
    val g = (p >>> 8) & 0xff
    val r = (((p >>> 16) & 0xff) - g) & 0xff
    val b = ((p & 0xff) - g) & 0xff
    (p & 0xff00ff00) | (r << 16) | b
  }

  private def inverseSubtractGreen(p: Int): Int = {
    val g = (p >>> 8) & 0xff
    val r = (((p >>> 16) & 0xff) + g) & 0xff
    val b = ((p & 0xff) + g) & 0xff
    (p & 0xff00ff00) | (r << 16) | b
  }

  /** (t * c) >> 5 with BOTH operands as signed 8-bit values — the
    * spec's ColorTransformDelta. */
  private def ctDelta(t: Int, c: Int): Int = (t.toByte * c.toByte) >> 5

  /** Inverse cross-channel color transform: the tile element packs
    * green_to_red in the blue byte, green_to_blue in the green byte,
    * red_to_blue in the red byte; red reconstructs first and the
    * red_to_blue delta reads the RECONSTRUCTED red (spec order). */
  private def inverseColorTransform(p: Int, cte: Int): Int = {
    val g = (p >>> 8) & 0xff
    var r = (p >>> 16) & 0xff
    var b = p & 0xff
    r = (r + ctDelta(cte & 0xff, g)) & 0xff
    b = (b + ctDelta((cte >>> 8) & 0xff, g)) & 0xff
    b = (b + ctDelta((cte >>> 16) & 0xff, r)) & 0xff
    (p & 0xff00ff00) | (r << 16) | b
  }

  /** Forward twin (fixture encoder): subtract the same deltas; the
    * red_to_blue delta reads the ORIGINAL red, which is what the
    * inverse reconstructs before applying it. */
  private def forwardColorTransform(p: Int, cte: Int): Int = {
    val g = (p >>> 8) & 0xff
    val r0 = (p >>> 16) & 0xff
    val r = (r0 - ctDelta(cte & 0xff, g)) & 0xff
    var b = p & 0xff
    b = (b - ctDelta((cte >>> 8) & 0xff, g)) & 0xff
    b = (b - ctDelta((cte >>> 16) & 0xff, r0)) & 0xff
    (p & 0xff00ff00) | (r << 16) | b
  }

  private def paletteWidthBits(n: Int): Int =
    if (n <= 2) 3 else if (n <= 4) 2 else if (n <= 16) 1 else 0

  // ------------------------------------------------------ VP8L decode

  private final class CodeGroup(
      val green: HuffDec, val red: HuffDec, val blue: HuffDec,
      val alpha: HuffDec, val dist: HuffDec)

  private def readGroup(br: Bin.LsbReader, cacheSize: Int): CodeGroup =
    new CodeGroup(
      readHuffmanCode(br, 256 + 24 + cacheSize),
      readHuffmanCode(br, 256),
      readHuffmanCode(br, 256),
      readHuffmanCode(br, 256),
      readHuffmanCode(br, 40))

  /** Decode one entropy- or spatially-coded image. Top-level images
    * may carry a meta-Huffman entropy image; subimages never do. */
  private def decodeInner(br: Bin.LsbReader, w: Int, h: Int,
      top: Boolean): Array[Int] = {
    val cacheBits =
      if (br.u(1) == 1) {
        val b = br.u(4)
        require(b >= 1 && b <= 11, s"bad color-cache size $b")
        b
      } else 0
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    var groupMap: Array[Int] = null
    var ebits = 0
    var ew = 0
    var nGroups = 1
    if (top && br.u(1) == 1) {
      ebits = br.u(3) + 2
      ew = ceilDiv(w, 1 << ebits)
      val eh = ceilDiv(h, 1 << ebits)
      val eimg = decodeInner(br, ew, eh, top = false)
      groupMap = eimg.map(p => ((p >> 8) & 0xffff))
      nGroups = groupMap.max + 1
      require(nGroups <= 256, s"implausible meta-Huffman group count $nGroups")
    }
    val groups = Array.fill(nGroups)(readGroup(br, cacheSize))
    val n = w * h
    val px = new Array[Int](n)
    val cache = if (cacheBits > 0) new Array[Int](cacheSize) else null
    def insert(p: Int): Unit =
      if (cache != null) cache((0x1e35a7bd * p) >>> (32 - cacheBits)) = p
    var pos = 0
    var x = 0
    var y = 0
    while (pos < n) {
      val g =
        if (groupMap == null) groups(0)
        else groups(groupMap((y >> ebits) * ew + (x >> ebits)))
      val s = g.green.next(br)
      if (s < 256) {
        val r = g.red.next(br)
        val b = g.blue.next(br)
        val a = g.alpha.next(br)
        val p = (a << 24) | (r << 16) | (s << 8) | b
        px(pos) = p; insert(p)
        pos += 1; x += 1; if (x == w) { x = 0; y += 1 }
      } else if (s < 280) {
        val len = decodePrefix(br, s - 256)
        val dist = planeToDistance(w, decodePrefix(br, g.dist.next(br)))
        require(dist <= pos, "LZ77 back-reference before image start")
        require(len <= n - pos, "LZ77 copy overruns the image")
        var k = 0
        while (k < len) {
          val p = px(pos - dist)
          px(pos) = p; insert(p)
          pos += 1; x += 1; if (x == w) { x = 0; y += 1 }
          k += 1
        }
      } else {
        val idx = s - 280
        require(cache != null && idx < cacheSize,
          "color-cache reference without a matching cache")
        px(pos) = cache(idx)
        pos += 1; x += 1; if (x == w) { x = 0; y += 1 }
      }
    }
    px
  }

  /** Decode a raw VP8L bitstream (the payload of a VP8L chunk). */
  def decodeVp8l(bytes: Array[Byte]): Argb = {
    require(bytes.length >= 5 && (bytes(0) & 0xff) == 0x2f,
      "not a VP8L stream (bad signature)")
    val br = new Bin.LsbReader(bytes, 1, bytes.length, "VP8L stream")
    val w = br.u(14) + 1
    val h = br.u(14) + 1
    br.u(1) // alpha-is-used hint (informational)
    require(br.u(3) == 0, "unsupported VP8L version")
    require(w.toLong * h <= (1L << 24),
      s"VP8L dimensions $w x $h beyond the decode bound")
    // transforms, read in stream order; inverses applied in reverse
    var codedW = w
    var palette: Array[Int] = null
    var palBits = 0
    var predBits = 0
    var predTiles: Array[Int] = null
    var ctBits = 0
    var ctTiles: Array[Int] = null
    var order = List.empty[Int]
    val seen = collection.mutable.Set.empty[Int]
    while (br.u(1) == 1) {
      val t = br.u(2)
      require(!seen(t), s"transform $t appears twice")
      seen += t
      order = t :: order // reverse (= inverse application) order
      t match {
        case 0 =>
          predBits = br.u(3) + 2
          predTiles = decodeInner(br,
            ceilDiv(w, 1 << predBits), ceilDiv(h, 1 << predBits), top = false)
        case 1 =>
          ctBits = br.u(3) + 2
          ctTiles = decodeInner(br,
            ceilDiv(w, 1 << ctBits), ceilDiv(h, 1 << ctBits), top = false)
        case 2 => ()
        case 3 =>
          val nc = br.u(8) + 1
          val raw = decodeInner(br, nc, 1, top = false)
          palette = new Array[Int](nc)
          var acc = 0
          var i = 0
          while (i < nc) { acc = addPx(acc, raw(i)); palette(i) = acc; i += 1 }
          palBits = paletteWidthBits(nc)
          codedW = ceilDiv(w, 1 << palBits)
      }
    }
    require(palette == null || order == List(3),
      "color-indexing combined with other transforms is outside the subset")
    var px = decodeInner(br, codedW, h, top = true)
    order.foreach {
      case 3 =>
        // un-bundle indices and look up the (delta-decoded) palette
        val out = new Array[Int](w * h)
        val bitsPer = 8 >> palBits
        val mask = (1 << bitsPer) - 1
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val cp = px(y * codedW + (x >> palBits))
            val shift = (x & ((1 << palBits) - 1)) * bitsPer
            val idx = (((cp >> 8) & 0xff) >> shift) & mask
            require(idx < palette.length,
              s"palette index $idx beyond table of ${palette.length}")
            out(y * w + x) = palette(idx)
            x += 1
          }
          y += 1
        }
        px = out
      case 2 =>
        var i = 0
        while (i < px.length) { px(i) = inverseSubtractGreen(px(i)); i += 1 }
      case 1 =>
        val tw = ceilDiv(w, 1 << ctBits)
        var pos = 0
        while (pos < px.length) {
          val x = pos % w
          val y = pos / w
          val cte = ctTiles((y >> ctBits) * tw + (x >> ctBits))
          px(pos) = inverseColorTransform(px(pos), cte)
          pos += 1
        }
      case 0 =>
        val tw = ceilDiv(w, 1 << predBits)
        var pos = 0
        while (pos < px.length) {
          val x = pos % w
          val y = pos / w
          val mode = (predTiles((y >> predBits) * tw + (x >> predBits)) >> 8) & 0xff
          require(mode < 14, s"predictor mode $mode > 13")
          px(pos) = addPx(px(pos), predAt(px, w, pos, mode))
          pos += 1
        }
      case _ => ()
    }
    Argb(w, h, px)
  }

  // ------------------------------------------------------ VP8L encode

  private sealed trait Tok
  private final case class Lit(argb: Int) extends Tok
  private final case class CacheRef(idx: Int) extends Tok
  private final case class Copy(len: Int, dist: Int) extends Tok

  /** Greedy tokenizer mirroring the decoder's cache semantics exactly
    * (every produced pixel is inserted, including copied ones). */
  private def tokenize(px: Array[Int], cacheBits: Int,
      lz77: Boolean): Vector[Tok] = {
    val toks = Vector.newBuilder[Tok]
    val cache = if (cacheBits > 0) new Array[Int](1 << cacheBits) else null
    def insert(p: Int): Unit =
      if (cache != null) cache((0x1e35a7bd * p) >>> (32 - cacheBits)) = p
    val heads = collection.mutable.HashMap.empty[(Int, Int, Int), Int]
    var i = 0
    val n = px.length
    while (i < n) {
      var bestLen = 0
      var bestDist = 0
      if (lz77 && i + 2 < n) {
        val key = (px(i), px(i + 1), px(i + 2))
        heads.get(key).foreach { j =>
          var l = 0
          val cap = math.min(4096, n - i)
          while (l < cap && px(j + l) == px(i + l)) l += 1
          if (l >= 3) { bestLen = l; bestDist = i - j }
        }
        heads(key) = i
      }
      if (bestLen >= 3) {
        toks += Copy(bestLen, bestDist)
        var k = 0
        while (k < bestLen) { insert(px(i + k)); k += 1 }
        i += bestLen
      } else if (cache != null &&
          cache((0x1e35a7bd * px(i)) >>> (32 - cacheBits)) == px(i)) {
        toks += CacheRef((0x1e35a7bd * px(i)) >>> (32 - cacheBits))
        i += 1
      } else {
        toks += Lit(px(i))
        insert(px(i))
        i += 1
      }
    }
    toks.result()
  }

  /** Emit one entropy- or spatially-coded image. `groupAt` (pixel
    * coords -> group id) is non-null only for the top-level image of
    * the meta-Huffman layout. */
  private def encodeImageData(bw: Bin.LsbWriter, w: Int, h: Int,
      px: Array[Int], cacheBits: Int, lz77: Boolean, top: Boolean,
      groupAt: (Int, Int) => Int, nGroups: Int, ebits: Int): Unit = {
    if (cacheBits > 0) { bw.u(1, 1); bw.u(cacheBits, 4) }
    else bw.u(0, 1)
    if (top) {
      if (nGroups > 1) {
        bw.u(1, 1)
        bw.u(ebits - 2, 3)
        val ew = ceilDiv(w, 1 << ebits)
        val eh = ceilDiv(h, 1 << ebits)
        val epx = Array.tabulate(ew * eh) { i =>
          0xff000000 | (groupAt((i % ew) << ebits, (i / ew) << ebits) << 8)
        }
        encodeImageData(bw, ew, eh, epx, 0, lz77 = false, top = false,
          null, 1, 0)
      } else bw.u(0, 1)
    }
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val toks = tokenize(px, cacheBits, lz77)
    // per-group symbol frequencies; group = tile of the token's START
    val gFreq = Array.fill(nGroups)(new Array[Long](256 + 24 + cacheSize))
    val rFreq = Array.fill(nGroups)(new Array[Long](256))
    val bFreq = Array.fill(nGroups)(new Array[Long](256))
    val aFreq = Array.fill(nGroups)(new Array[Long](256))
    val dFreq = Array.fill(nGroups)(new Array[Long](40))
    def walk(on: (Tok, Int) => Unit): Unit = {
      var pos = 0
      toks.foreach { t =>
        val grp = if (groupAt == null) 0 else groupAt(pos % w, pos / w)
        on(t, grp)
        pos += (t match {
          case Copy(l, _) => l
          case _          => 1
        })
      }
    }
    walk { (t, grp) =>
      t match {
        case Lit(p) =>
          gFreq(grp)((p >>> 8) & 0xff) += 1
          rFreq(grp)((p >>> 16) & 0xff) += 1
          bFreq(grp)(p & 0xff) += 1
          aFreq(grp)(p >>> 24) += 1
        case CacheRef(idx) => gFreq(grp)(280 + idx) += 1
        case Copy(len, dist) =>
          gFreq(grp)(256 + prefixEncode(len)._1) += 1
          dFreq(grp)(prefixEncode(tryPlaneCode(w, dist))._1) += 1
      }
    }
    // one set of 5 codes per group, in group order (decoder's order)
    def mkLens(f: Array[Long]): Array[Int] =
      if (f.forall(_ == 0)) { val l = new Array[Int](f.length); l(0) = 1; l }
      else limitedLengths(f, 15)
    val encs = (0 until nGroups).map { g =>
      val lens = Seq(mkLens(gFreq(g)), mkLens(rFreq(g)), mkLens(bFreq(g)),
        mkLens(aFreq(g)), mkLens(dFreq(g)))
      lens.foreach(writeHuffmanCode(bw, _))
      lens.map(new HuffEnc(_))
    }
    walk { (t, grp) =>
      val Seq(ge, re, be, ae, de) = encs(grp)
      t match {
        case Lit(p) =>
          ge.write(bw, (p >>> 8) & 0xff)
          re.write(bw, (p >>> 16) & 0xff)
          be.write(bw, p & 0xff)
          ae.write(bw, p >>> 24)
        case CacheRef(idx) => ge.write(bw, 280 + idx)
        case Copy(len, dist) =>
          val (lc, lb, lv) = prefixEncode(len)
          ge.write(bw, 256 + lc)
          if (lb > 0) bw.u(lv, lb)
          val (dc, db, dv) = prefixEncode(tryPlaneCode(w, dist))
          de.write(bw, dc)
          if (db > 0) bw.u(dv, db)
      }
    }
  }

  /** Encode an ARGB image as a VP8L bitstream. `layout` rotates the
    * bitstream strategy INDEPENDENTLY of the pixels (the FLAC trick:
    * the oracle never changes as the subset grows):
    *   0 = plain literals, normal Huffman codes, no transform;
    *   1 = subtract-green + LZ77 + color cache (size 4..1024 by seed);
    *   2 = color-indexing palette (sub-byte bundling when <= 16);
    *   3 = predictor transform (rotating all 14 modes per tile) then
    *       subtract-green — exercises reverse-order inverses;
    *   4 = meta-Huffman entropy image with two checkerboard groups;
    *   5 = cross-channel color transform (rotating tile elements).
    */
  def encodeVp8l(img: Argb, layout: Int, seed: Long): Array[Byte] = {
    val bw = new Bin.LsbWriter
    bw.u(0x2f, 8)
    bw.u(img.width - 1, 14)
    bw.u(img.height - 1, 14)
    val hasAlpha = img.px.exists(p => (p >>> 24) != 255)
    bw.u(if (hasAlpha) 1 else 0, 1)
    bw.u(0, 3) // version
    val w = img.width
    val h = img.height
    layout match {
      case 0 =>
        bw.u(0, 1)
        encodeImageData(bw, w, h, img.px, 0, lz77 = false, top = true,
          null, 1, 0)
      case 1 =>
        bw.u(1, 1); bw.u(2, 2) // SUBTRACT_GREEN
        bw.u(0, 1)
        val px2 = img.px.map(forwardSubtractGreen)
        encodeImageData(bw, w, h, px2, 2 + (seed % 7).toInt, lz77 = true,
          top = true, null, 1, 0)
      case 2 =>
        val pal = collection.mutable.LinkedHashMap.empty[Int, Int]
        img.px.foreach(p => if (!pal.contains(p)) pal(p) = pal.size)
        require(pal.size <= 256, s"palette layout needs <= 256 colors")
        val palArr = pal.keys.toArray
        bw.u(1, 1); bw.u(3, 2) // COLOR_INDEXING
        bw.u(palArr.length - 1, 8)
        val deltas = Array.tabulate(palArr.length)(i =>
          if (i == 0) palArr(0) else subPx(palArr(i), palArr(i - 1)))
        encodeImageData(bw, palArr.length, 1, deltas, 0, lz77 = false,
          top = false, null, 1, 0)
        bw.u(0, 1) // end of transforms
        val pb = paletteWidthBits(palArr.length)
        val bitsPer = 8 >> pb
        val codedW = ceilDiv(w, 1 << pb)
        val packed = new Array[Int](codedW * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val idx = pal(img.px(y * w + x))
            val cp = y * codedW + (x >> pb)
            val shift = (x & ((1 << pb) - 1)) * bitsPer
            packed(cp) |= idx << shift
            x += 1
          }
          y += 1
        }
        var i = 0
        while (i < packed.length) {
          packed(i) = 0xff000000 | ((packed(i) & 0xff) << 8)
          i += 1
        }
        encodeImageData(bw, codedW, h, packed, 0, lz77 = false, top = true,
          null, 1, 0)
      case 3 =>
        val tb = 2 + (seed % 3).toInt
        val tw = ceilDiv(w, 1 << tb)
        val th = ceilDiv(h, 1 << tb)
        val modes = Array.tabulate(tw * th)(i => ((i * 7 + seed) % 14).toInt)
        bw.u(1, 1); bw.u(0, 2) // PREDICTOR
        bw.u(tb - 2, 3)
        val tiles = modes.map(m => 0xff000000 | (m << 8))
        encodeImageData(bw, tw, th, tiles, 0, lz77 = false, top = false,
          null, 1, 0)
        bw.u(1, 1); bw.u(2, 2) // then SUBTRACT_GREEN
        bw.u(0, 1)
        val res = new Array[Int](w * h)
        var pos = 0
        while (pos < res.length) {
          val mode = modes(((pos / w) >> tb) * tw + ((pos % w) >> tb))
          res(pos) = subPx(img.px(pos), predAt(img.px, w, pos, mode))
          pos += 1
        }
        val res2 = res.map(forwardSubtractGreen)
        encodeImageData(bw, w, h, res2, 0, lz77 = false, top = true,
          null, 1, 0)
      case 4 =>
        bw.u(0, 1)
        val ebits = 2 + (seed % 2).toInt
        val groupAt = (x: Int, y: Int) => ((x >> ebits) + (y >> ebits)) % 2
        encodeImageData(bw, w, h, img.px, 0, lz77 = false, top = true,
          groupAt, 2, ebits)
      case 5 =>
        val tb = 2 + (seed % 3).toInt
        val tw = ceilDiv(w, 1 << tb)
        val th = ceilDiv(h, 1 << tb)
        val ctes = Array.tabulate(tw * th) { i =>
          0xff000000 |
            ((((5 * seed + 13 * i) % 256).toInt & 0xff) << 16) |
            ((((3 * seed + 11 * i) % 256).toInt & 0xff) << 8) |
            (((7 * seed + 5 * i) % 256).toInt & 0xff)
        }
        bw.u(1, 1); bw.u(1, 2) // COLOR transform
        bw.u(tb - 2, 3)
        encodeImageData(bw, tw, th, ctes, 0, lz77 = false, top = false,
          null, 1, 0)
        bw.u(0, 1)
        val res = Array.tabulate(w * h) { pos =>
          val cte = ctes(((pos / w) >> tb) * tw + ((pos % w) >> tb))
          forwardColorTransform(img.px(pos), cte)
        }
        encodeImageData(bw, w, h, res, 0, lz77 = false, top = true,
          null, 1, 0)
      case other =>
        throw new IllegalArgumentException(s"unknown encode layout $other")
    }
    bw.toBytes
  }

  // -------------------------------------------------- RIFF container

  /** Wrap chunks in a RIFF/WEBP container (odd payloads padded). */
  def riff(chunks: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val total = 4L + chunks.map(c => 8L + c._2.length + (c._2.length & 1)).sum
    out.write("RIFF".getBytes("US-ASCII"))
    out.write(Bin.le32(total))
    out.write("WEBP".getBytes("US-ASCII"))
    chunks.foreach { case (fourcc, payload) =>
      require(fourcc.length == 4, s"bad fourcc '$fourcc'")
      out.write(fourcc.getBytes("US-ASCII"))
      out.write(Bin.le32(payload.length))
      out.write(payload)
      if ((payload.length & 1) == 1) out.write(0)
    }
    out.toByteArray
  }

  /** Container-level metadata: format kind, canvas, feature flags,
    * chunk count — everything a curation pass gates on WITHOUT
    * decoding pixels. exifLen / vp8Version / vp8Part0Len are -1 when
    * not applicable (surfaced as NULL by the feature row). */
  final case class WebpMeta(kind: String, canvasW: Int, canvasH: Int,
      hasIcc: Boolean, hasAlpha: Boolean, hasExif: Boolean,
      hasXmp: Boolean, hasAnim: Boolean, nChunks: Int,
      exifLen: Int, vp8Version: Int, vp8Part0Len: Int)

  /** Walk the RIFF container; loud on bad magic, truncated chunks, a
    * wrong declared size, or a malformed image header. */
  private def riffChunks(bytes: Array[Byte]): Seq[(String, Int, Int)] = {
    require(bytes.length >= 20, "WebP file too short")
    require(new String(bytes, 0, 4, "US-ASCII") == "RIFF", "missing RIFF magic")
    require(Bin.u32le(bytes, 4, bytes.length, "webp") == bytes.length - 8L,
      "RIFF size does not match the file length")
    require(new String(bytes, 8, 4, "US-ASCII") == "WEBP", "missing WEBP form")
    var off = 12
    val chunks = collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
    while (off < bytes.length) {
      Bin.checkRange(off, 8, bytes.length, "truncated chunk header")
      val fourcc = new String(bytes, off, 4, "US-ASCII")
      val size = Bin.u32le(bytes, off + 4, bytes.length)
      Bin.checkRange(off + 8, size, bytes.length, "webp chunk")
      chunks += ((fourcc, off + 8, size.toInt))
      off += 8 + size.toInt + (size.toInt & 1)
    }
    require(chunks.nonEmpty, "empty WebP container")
    chunks.toSeq
  }

  /** The VP8L chunk payload (plain-lossless or VP8X-wrapped files),
    * None for lossy files — the decode gate a streaming image ingest
    * applies after the container walk. */
  def vp8lPayload(bytes: Array[Byte]): Option[Array[Byte]] =
    riffChunks(bytes).find(_._1 == "VP8L").map { case (_, o, sz) =>
      java.util.Arrays.copyOfRange(bytes, o, o + sz)
    }

  def meta(bytes: Array[Byte]): WebpMeta = {
    val chunks = riffChunks(bytes)
    val exifLen = chunks.find(_._1 == "EXIF").map(_._3).getOrElse(-1)
    chunks.head match {
      case ("VP8L", o, sz) =>
        require(sz >= 5 && (bytes(o) & 0xff) == 0x2f, "bad VP8L header")
        val v = Bin.u32le(bytes, o + 1, bytes.length, "webp")
        require(((v >> 29) & 7) == 0, "unsupported VP8L version")
        WebpMeta("vp8l", (v & 0x3fff).toInt + 1, ((v >> 14) & 0x3fff).toInt + 1,
          hasIcc = false, hasAlpha = ((v >> 28) & 1) == 1, hasExif = exifLen >= 0,
          hasXmp = chunks.exists(_._1 == "XMP "), hasAnim = false,
          chunks.length, exifLen, -1, -1)
      case ("VP8X", o, sz) =>
        require(sz == 10, s"VP8X payload must be 10 bytes, got $sz")
        val flags = bytes(o) & 0xff
        WebpMeta("vp8x",
          Bin.u24le(bytes, o + 4, bytes.length, "webp") + 1,
          Bin.u24le(bytes, o + 7, bytes.length, "webp") + 1,
          hasIcc = (flags & 0x20) != 0, hasAlpha = (flags & 0x10) != 0,
          hasExif = (flags & 0x08) != 0, hasXmp = (flags & 0x04) != 0,
          hasAnim = (flags & 0x02) != 0, chunks.length, exifLen, -1, -1)
      case ("VP8 ", o, sz) =>
        require(sz >= 10, "VP8 payload too short for a keyframe header")
        val tag = Bin.u24le(bytes, o, bytes.length, "VP8 frame tag")
        require((tag & 1) == 0, "VP8 first frame is not a keyframe")
        require((bytes(o + 3) & 0xff) == 0x9d && (bytes(o + 4) & 0xff) == 0x01 &&
          (bytes(o + 5) & 0xff) == 0x2a, "missing VP8 keyframe start code")
        WebpMeta("vp8",
          Bin.u16le(bytes, o + 6, bytes.length, "webp") & 0x3fff,
          Bin.u16le(bytes, o + 8, bytes.length, "webp") & 0x3fff,
          hasIcc = false, hasAlpha = false, hasExif = exifLen >= 0,
          hasXmp = false, hasAnim = false, chunks.length, exifLen,
          (tag >> 1) & 7, (tag >> 5) & 0x7ffff)
      case (other, _, _) =>
        throw new IllegalArgumentException(
          s"first chunk '$other' is not an image header")
    }
  }

  // ---------------------------------------------------------- fixtures

  /** Closed-form ARGB fixture, SHARED by all five encode layouts so
    * one oracle pins every bitstream path (the FLAC discipline):
    * dims (16+d%13) x (12+d%9); index (d + 3x + 5y) % nc with
    * nc = 2^(2+d%4); channels r=(7i+d)%256, g=(11i+2d)%256,
    * b=(13i+3d)%256, a=255-((i+d)%4)*3. All integer-recomputable. */
  def synthImage(d: Long): Argb = {
    val w = (16 + d % 13).toInt
    val h = (12 + d % 9).toInt
    val nc = 1 << (2 + d % 4).toInt
    val px = Array.tabulate(w * h) { pos =>
      val x = pos % w
      val y = pos / w
      val i = ((d + 3 * x + 5 * y) % nc).toInt
      val r = ((7 * i + d) % 256).toInt
      val g = ((11 * i + 2 * d) % 256).toInt
      val b = ((13 * i + 3 * d) % 256).toInt
      val a = 255 - ((i + d) % 4).toInt * 3
      (a << 24) | (r << 16) | (g << 8) | b
    }
    Argb(w, h, px)
  }

  /** Plain lossless file: a single VP8L chunk, layout d%5. */
  def synthLossless(d: Long): Array[Byte] =
    riff(Seq("VP8L" -> encodeVp8l(synthImage(d), (d % 6).toInt, d)))

  /** Extended file: VP8X + optional ICCP (a real ICC profile) +
    * VP8L + EXIF (a real 87-byte TIFF block — odd, so the RIFF
    * pad-byte path is load-bearing) + optional XMP. */
  def synthExtended(d: Long): Array[Byte] = {
    val img = synthImage(d)
    val icc = d % 2 == 0
    val xmp = d % 4 < 2
    val alpha = d % 5 == 0
    val flags = (if (icc) 0x20 else 0) | (if (alpha) 0x10 else 0) |
      0x08 | (if (xmp) 0x04 else 0)
    val vp8x = new java.io.ByteArrayOutputStream()
    vp8x.write(flags); vp8x.write(0); vp8x.write(0); vp8x.write(0)
    vp8x.write(Bin.le24(img.width - 1)); vp8x.write(Bin.le24(img.height - 1))
    val chunks = collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    chunks += ("VP8X" -> vp8x.toByteArray)
    if (icc) chunks += ("ICCP" -> Icc.synth(d)) // a REAL profile
    chunks += ("VP8L" -> encodeVp8l(img, (d % 6).toInt, d))
    // a REAL TIFF-structured EXIF payload (Exif.synthTiff), so the
    // provenance walk composes through this container too
    chunks += ("EXIF" -> Exif.synthTiff(d))
    if (xmp) chunks += ("XMP " ->
      Array.tabulate(6)(i => (((5 * d + i) % 256) & 0xff).toByte))
    riff(chunks.toSeq)
  }

  /** A raw RFC 6386 VP8 KEY frame: uncompressed header (tag, start
    * code, 14-bit dims keyed on `dimSeed`) + a REAL bool-coded
    * key-frame header keyed on `hdrSeed`, padded to the declared
    * first-partition length (legal — the decoder reads only as far as
    * the fields it wants; pads model macroblock data). Shared by the
    * WebP lossy shell and the WebM SimpleBlock fixture, which pins one
    * dim set per track while rotating the header per block. */
  def synthVp8Frame(dimSeed: Long, hdrSeed: Long): Array[Byte] = {
    val w = (320 + dimSeed % 33).toInt
    val h = (240 + dimSeed % 25).toInt
    val ver = (dimSeed % 4).toInt
    val part0 = (100 + hdrSeed % 50).toInt
    val tag = (ver << 1) | (1 << 4) | (part0 << 5) // keyframe bit 0 = 0
    val out = new java.io.ByteArrayOutputStream()
    out.write(Bin.le24(tag))
    out.write(0x9d); out.write(0x01); out.write(0x2a)
    out.write(w & 0xff); out.write((w >> 8) & 0x3f)
    out.write(h & 0xff); out.write((h >> 8) & 0x3f)
    val hdr = encodeVp8Header(synthVp8Header(hdrSeed))
    require(hdr.length <= part0,
      s"encoded VP8 header ${hdr.length} exceeds the declared $part0")
    out.write(hdr, 0, hdr.length)
    (hdr.length until part0).foreach(i =>
      out.write(((7 * hdrSeed + i) % 256).toInt))
    out.toByteArray
  }

  /** Lossy shell: a real RFC 6386 keyframe header (tag, start code,
    * dims) over an undecoded payload — the lossy boundary's walk. */
  def synthLossy(d: Long): Array[Byte] =
    riff(Seq("VP8 " -> synthVp8Frame(d, d)))

  private val vp8HeaderSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("color_space", IntegerType),
    StructField("clamping", IntegerType),
    StructField("filter_type", IntegerType),
    StructField("filter_level", IntegerType),
    StructField("sharpness", IntegerType),
    StructField("n_dct_parts", IntegerType),
    StructField("y_ac_qi", IntegerType),
    StructField("y_dc_delta", IntegerType),
    StructField("y2_dc_delta", IntegerType),
    StructField("y2_ac_delta", IntegerType),
    StructField("uv_dc_delta", IntegerType),
    StructField("uv_ac_delta", IntegerType)))

  /** ids -> lossy shell -> RIFF walk -> bool-decoded key-frame header
    * (the quality-gate fields). Per-doc map work. */
  def vp8HeaderFeatures(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, vp8HeaderSchema) { d =>
      val bytes = synthLossy(d)
      val chunk = riffChunks(bytes).find(_._1 == "VP8 ")
        .getOrElse(throw new IllegalArgumentException("no VP8 chunk"))
      val h = parseVp8Header(bytes, chunk._2 + 10)
      Iterator.single(Row(d, h.colorSpace, h.clampingType, h.filterType,
        h.filterLevel, h.sharpness, h.nDctPartitions, h.yAcQi, h.yDcDelta,
        h.y2DcDelta, h.y2AcDelta, h.uvDcDelta, h.uvAcDelta))
    }

  // --------------------------------------- VP8 (lossy) frame header
  // The RFC 6386 BOOLEAN entropy coder (section 7) and the key-frame
  // header fields it codes (section 9.2-9.6) — the honest shrink of
  // the lossy boundary: everything an image-quality curation gate
  // reads (loop-filter level/sharpness, DCT partition count, the
  // quantizer indices — base y_ac_qi IS the quality dial) sits in the
  // first partition BEFORE any macroblock data, coded as prob-128
  // literals. Residual/macroblock decode stays the boundary.

  private[graft] final class BoolDecoder(buf: Array[Byte], start: Int) {
    require(buf.length - start >= 2, "VP8 partition shorter than 2 bytes")
    private var range = 255
    private var value = Bin.u16be(buf, start, buf.length)
    private var pos = start + 2
    private var bitCount = 0
    def bool(prob: Int): Int = {
      val split = 1 + (((range - 1) * prob) >> 8)
      val big = split << 8
      val ret =
        if (value >= big) { range -= split; value -= big; 1 }
        else { range = split; 0 }
      while (range < 128) {
        value <<= 1; range <<= 1
        bitCount += 1
        if (bitCount == 8) {
          bitCount = 0
          // past-the-end reads are zero bits (the spec's convention);
          // the header fits well inside the declared partition
          require(pos <= buf.length, "VP8 bool decoder ran off the data")
          if (pos < buf.length) value |= buf(pos) & 0xff
          pos += 1
        }
      }
      ret
    }
    /** n-bit literal, MSB first, each bit at probability 128. */
    def literal(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bool(128); i += 1 }
      v
    }
    /** Sign-magnitude delta: flag, then 4-bit magnitude + sign. */
    def delta(): Int =
      if (bool(128) == 0) 0
      else {
        val mag = literal(4)
        if (bool(128) == 1) -mag else mag
      }
  }

  private[graft] final class BoolEncoder {
    private var range = 255
    private var bottom = 0L
    private var bitCount = 24
    private val out = new java.io.ByteArrayOutputStream()
    private def addOne(): Unit = {
      // carry propagation into already-emitted bytes
      val bytes = out.toByteArray
      var i = bytes.length - 1
      var carry = true
      while (carry && i >= 0) {
        if ((bytes(i) & 0xff) == 0xff) { bytes(i) = 0; i -= 1 }
        else { bytes(i) = (bytes(i) + 1).toByte; carry = false }
      }
      require(!carry, "VP8 bool encoder carry out of stream")
      out.reset(); out.write(bytes, 0, bytes.length)
    }
    def bool(prob: Int, v: Int): Unit = {
      val split = 1 + (((range - 1) * prob) >> 8)
      if (v != 0) { bottom += split; range -= split } else range = split
      while (range < 128) {
        if ((bottom & (1L << 31)) != 0) addOne()
        range <<= 1
        bottom = (bottom << 1) & 0xffffffffL
        bitCount -= 1
        if (bitCount == 0) {
          out.write(((bottom >> 24) & 0xff).toInt)
          bottom &= 0xffffff
          bitCount = 8
        }
      }
    }
    def literal(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bool(128, (v >> i) & 1); i -= 1 }
    }
    def delta(v: Int): Unit =
      if (v == 0) bool(128, 0)
      else {
        bool(128, 1)
        literal(math.abs(v), 4)
        bool(128, if (v < 0) 1 else 0)
      }
    def finish(): Array[Byte] = {
      (0 until 32).foreach { _ =>
        if ((bottom & (1L << 31)) != 0) addOne()
        bottom = (bottom << 1) & 0xffffffffL
        bitCount -= 1
        if (bitCount == 0) {
          out.write(((bottom >> 24) & 0xff).toInt)
          bottom &= 0xffffff
          bitCount = 8
        }
      }
      out.toByteArray
    }
  }

  /** Spec-visible aliases for the coder property tests. */
  private[graft] type BoolEncoderForSpec = BoolEncoder
  private[graft] type BoolDecoderForSpec = BoolDecoder

  /** The key-frame header fields through the quantizer indices. */
  final case class Vp8Header(colorSpace: Int, clampingType: Int,
      filterType: Int, filterLevel: Int, sharpness: Int,
      nDctPartitions: Int, yAcQi: Int, yDcDelta: Int, y2DcDelta: Int,
      y2AcDelta: Int, uvDcDelta: Int, uvAcDelta: Int)

  /** Parse the bool-coded first partition of a VP8 KEY frame through
    * the quantizer indices (RFC 6386 section 9.2-9.6). Segmentation
    * and loop-filter-adjustment updates are outside the header subset
    * and rejected by name — they carry per-segment tables, not
    * curation signals. `buf` starts AT the first partition (after the
    * 10-byte uncompressed header). */
  def parseVp8Header(buf: Array[Byte], start: Int): Vp8Header = {
    val d = new BoolDecoder(buf, start)
    val colorSpace = d.bool(128)
    val clamping = d.bool(128)
    require(d.bool(128) == 0,
      "segmentation updates are outside the VP8 header subset")
    val filterType = d.bool(128)
    val filterLevel = d.literal(6)
    val sharpness = d.literal(3)
    require(d.bool(128) == 0,
      "loop-filter adjustments are outside the VP8 header subset")
    val log2Parts = d.literal(2)
    val yAcQi = d.literal(7)
    Vp8Header(colorSpace, clamping, filterType, filterLevel, sharpness,
      1 << log2Parts, yAcQi, d.delta(), d.delta(), d.delta(),
      d.delta(), d.delta())
  }

  /** Encode the same header fields (fixture side). */
  def encodeVp8Header(h: Vp8Header): Array[Byte] = {
    val e = new BoolEncoder
    e.bool(128, h.colorSpace)
    e.bool(128, h.clampingType)
    e.bool(128, 0) // segmentation_enabled
    e.bool(128, h.filterType)
    e.literal(h.filterLevel, 6)
    e.literal(h.sharpness, 3)
    e.bool(128, 0) // loop_filter_adj_enable
    e.literal(Integer.numberOfTrailingZeros(h.nDctPartitions), 2)
    e.literal(h.yAcQi, 7)
    e.delta(h.yDcDelta); e.delta(h.y2DcDelta); e.delta(h.y2AcDelta)
    e.delta(h.uvDcDelta); e.delta(h.uvAcDelta)
    e.finish()
  }

  /** Closed-form header for doc d (every field the oracle recomputes;
    * delta presence rotates over coprime moduli so every combination
    * of present/absent deltas appears in range). */
  def synthVp8Header(d: Long): Vp8Header = {
    def dl(mod: Int, scale: Int): Int =
      if (d % mod == 0) {
        val m = (d / mod % 16).toInt
        if ((d / (mod * 16)) % 2 == 0) m else -m
      } else 0
    Vp8Header((d % 2).toInt, ((d / 2) % 2).toInt, ((d / 3) % 2).toInt,
      (d % 64).toInt, (d % 8).toInt, 1 << (d % 4).toInt,
      (d % 128).toInt, dl(2, 1), dl(3, 1), dl(5, 1), dl(7, 1), dl(11, 1))
  }

  // ------------------------------------------------- animated WebP

  final case class AnimFrame(x: Int, y: Int, durMs: Int,
      blend: Boolean, dispose: Boolean, img: Argb)

  final case class WebpAnim(canvasW: Int, canvasH: Int, loopCount: Int,
      frames: Seq[AnimFrame])

  /** Animated fixture: VP8X (anim flag) + ANIM (loop count d%4) +
    * 2 + d%3 ANMF frames, frame f a full VP8L image seeded d + 31f
    * at a closed-form 2-px-unit offset with a closed-form duration.
    * Frame 0 sets the do-not-blend bit (the common real-file layout);
    * later frames alternate blend modes. */
  def synthAnim(d: Long): Array[Byte] = {
    val nf = (2 + d % 3).toInt
    val frames = (0 until nf).map { f =>
      val s = d + 31L * f
      val img = synthImage(s)
      val fx = ((d + f) % 5).toInt      // stored value; pixels = 2x
      val fy = ((d + 2 * f) % 4).toInt
      (fx, fy, (40 + (d + f) % 60).toInt, img,
        encodeVp8l(img, ((s % 6)).toInt, s))
    }
    val canvasW = frames.map(fr => 2 * fr._1 + fr._4.width).max
    val canvasH = frames.map(fr => 2 * fr._2 + fr._4.height).max
    val vp8x = new java.io.ByteArrayOutputStream()
    vp8x.write(0x02); vp8x.write(0); vp8x.write(0); vp8x.write(0) // ANIM
    vp8x.write(Bin.le24(canvasW - 1)); vp8x.write(Bin.le24(canvasH - 1))
    val anim = new java.io.ByteArrayOutputStream()
    anim.write(0); anim.write(0); anim.write(0); anim.write(0xff) // bg BGRA
    anim.write((d % 4).toInt); anim.write(0) // loop count LE16
    val chunks = collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    chunks += ("VP8X" -> vp8x.toByteArray)
    chunks += ("ANIM" -> anim.toByteArray)
    frames.zipWithIndex.foreach { case ((fx, fy, dur, img, payload), f) =>
      val anmf = new java.io.ByteArrayOutputStream()
      anmf.write(Bin.le24(fx)); anmf.write(Bin.le24(fy))
      anmf.write(Bin.le24(img.width - 1)); anmf.write(Bin.le24(img.height - 1))
      anmf.write(Bin.le24(dur))
      // bit 1 = do-not-blend: set on frame 0 and every odd frame
      anmf.write(if (f == 0 || f % 2 == 1) 0x2 else 0x0)
      // the frame's own chunk, nested INSIDE the ANMF payload
      anmf.write("VP8L".getBytes("US-ASCII"))
      val pl = payload.length
      anmf.write(Bin.le32(pl))
      anmf.write(payload, 0, pl)
      if ((pl & 1) == 1) anmf.write(0)
      chunks += ("ANMF" -> anmf.toByteArray)
    }
    riff(chunks.toSeq)
  }

  /** Walk an animated file: VP8X anim flag required, ANIM loop count,
    * then each ANMF's placement/duration/flags header and its nested
    * VP8L frame FULLY DECODED. Frames are validated inside the canvas;
    * flag bit 1 is decoded per the container spec as do-NOT-blend
    * (frame 0 commonly sets it). Loud on a lossy (VP8) frame. */
  def animFrames(bytes: Array[Byte]): WebpAnim = {
    val chunks = riffChunks(bytes)
    require(chunks.head._1 == "VP8X", "animated WebP must lead with VP8X")
    val (_, xo, xsz) = chunks.head
    require(xsz == 10, "bad VP8X payload")
    require((bytes(xo) & 0x02) != 0, "VP8X lacks the animation flag")
    val canvasW = Bin.u24le(bytes, xo + 4, bytes.length, "webp") + 1
    val canvasH = Bin.u24le(bytes, xo + 7, bytes.length, "webp") + 1
    val anim = chunks.find(_._1 == "ANIM")
      .getOrElse(throw new IllegalArgumentException(
        "animated WebP without an ANIM chunk"))
    require(anim._3 == 6, "bad ANIM payload size")
    val loopCount = Bin.u16le(bytes, anim._2 + 4, bytes.length, "webp")
    val frames = chunks.filter(_._1 == "ANMF").zipWithIndex.map {
      case ((_, o, sz), f) =>
        require(sz >= 16, "truncated ANMF header")
        val fx = 2 * Bin.u24le(bytes, o, bytes.length, "webp")
        val fy = 2 * Bin.u24le(bytes, o + 3, bytes.length, "webp")
        val fw = Bin.u24le(bytes, o + 6, bytes.length, "webp") + 1
        val fh = Bin.u24le(bytes, o + 9, bytes.length, "webp") + 1
        val dur = Bin.u24le(bytes, o + 12, bytes.length, "webp")
        val flags = bytes(o + 15) & 0xff
        // container spec: bit 1 SET means "do NOT blend" (the common
        // real-file setting on frame 0); clear means alpha-blend onto
        // the prior canvas. Frame 0 carries no prior canvas so its
        // blending method is informational either way — no frame-0
        // rule exists in the spec, and none is enforced here.
        val blend = (flags & 0x2) == 0
        require(fx + fw <= canvasW && fy + fh <= canvasH,
          s"frame $f [$fx,$fy ${fw}x$fh] escapes the " +
            s"${canvasW}x$canvasH canvas")
        // the nested frame-data chunk
        require(sz >= 16 + 8, "ANMF without frame data")
        val fourcc = new String(bytes, o + 16, 4, "US-ASCII")
        require(fourcc == "VP8L",
          s"lossy animated frame ($fourcc) is outside the decode subset")
        val plen = Bin.u32le(bytes, o + 20, bytes.length, "webp")
        require(plen <= sz - 24, "ANMF frame payload overruns the chunk")
        val img = decodeVp8l(java.util.Arrays.copyOfRange(
          bytes, o + 24, o + 24 + plen.toInt))
        require(img.width == fw && img.height == fh,
          s"ANMF declares ${fw}x$fh but the frame decodes to " +
            s"${img.width}x${img.height}")
        AnimFrame(fx, fy, dur, blend, (flags & 0x1) != 0, img)
    }
    require(frames.nonEmpty, "animated WebP without frames")
    WebpAnim(canvasW, canvasH, loopCount, frames)
  }

  private val animSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("frame_idx", IntegerType),
    StructField("fx", IntegerType),
    StructField("fy", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("dur_ms", IntegerType),
    StructField("loop_count", IntegerType),
    StructField("sum_r", LongType),
    StructField("sum_g", LongType),
    StructField("sum_b", LongType)))

  /** ids -> animated fixture -> frame walk + full per-frame VP8L
    * decode — the frame-sampling primitive for animated WebP, the
    * gifFrameFeatures twin. Per-doc map work. */
  def animFeatures(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, animSchema) { d =>
      val a = animFrames(synthAnim(d))
      a.frames.zipWithIndex.iterator.map { case (fr, f) =>
        var sr = 0L; var sg = 0L; var sb = 0L
        fr.img.px.foreach { p =>
          sr += (p >>> 16) & 0xff; sg += (p >>> 8) & 0xff; sb += p & 0xff
        }
        Row(d, f, fr.x, fr.y, fr.img.width, fr.img.height, fr.durMs,
          a.loopCount, sr, sg, sb)
      }
    }

  private val webpExifSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("endian", StringType),
    StructField("n_entries", IntegerType),
    StructField("orientation", IntegerType),
    StructField("exif_width", IntegerType),
    StructField("make", StringType),
    StructField("datetime", StringType)))

  /** ids -> extended WebP -> EXIF chunk -> the shared TIFF walk
    * (Exif.parseTiff): orientation / capture time / camera make read
    * THROUGH the RIFF container, the image-provenance gate before any
    * pixel decode. Per-doc map work. */
  def exifFeatures(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, webpExifSchema) { d =>
      val bytes = synthExtended(d)
      val exif = riffChunks(bytes).find(_._1 == "EXIF")
        .getOrElse(throw new IllegalArgumentException(
          "extended WebP without an EXIF chunk"))
      val m = Exif.parseTiff(bytes, exif._2, exif._2 + exif._3)
      Iterator.single(Row(d, m.endian, m.nEntries, m.orientation, m.width,
        m.make, m.dateTime))
    }

  private val pipelineSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("kind", StringType),
    StructField("kept", IntegerType),
    StructField("dedup_key", StringType)))

  /** The per-doc half of the image-curation pipeline: container walk
    * dispatches on kind — lossless files always pass; lossy files
    * pass only if the REAL bool-decoded quantizer says the quality is
    * acceptable (y_ac_qi < 96); extended files contribute an EXIF
    * (make, capture-time) dedup key, the burst/re-upload collapse an
    * image corpus runs before any pixel work. Everything here is one
    * map pass; the declared query adds the single rollup shuffle. */
  def pipelineFeatures(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, pipelineSchema) { d =>
      val bytes = synthWebp(d)
      val m = meta(bytes)
      val (kept, key) = m.kind match {
        case "vp8" =>
          val chunk = riffChunks(bytes).find(_._1 == "VP8 ").get
          val h = parseVp8Header(bytes, chunk._2 + 10)
          (h.yAcQi < 96, null: String)
        case "vp8x" =>
          val exif = riffChunks(bytes).find(_._1 == "EXIF").get
          val e = Exif.parseTiff(bytes, exif._2, exif._2 + exif._3)
          (true, s"${e.make}|${e.dateTime}")
        case _ => (true, null: String)
      }
      Iterator.single(Row(d, m.kind, if (kept) 1 else 0, key))
    }

  /** Per-doc fixture rotation: plain lossless / extended / lossy. */
  def synthWebp(d: Long): Array[Byte] = (d % 3) match {
    case 0 => synthLossless(d)
    case 1 => synthExtended(d)
    case _ => synthLossy(d)
  }

  // ---------------------------------------------------- Spark features

  private val metaSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("kind", StringType),
    StructField("canvas_w", IntegerType),
    StructField("canvas_h", IntegerType),
    StructField("has_icc", IntegerType),
    StructField("has_alpha", IntegerType),
    StructField("has_exif", IntegerType),
    StructField("has_xmp", IntegerType),
    StructField("has_anim", IntegerType),
    StructField("n_chunks", IntegerType),
    StructField("exif_len", IntegerType),
    StructField("vp8_version", IntegerType),
    StructField("vp8_part0_len", IntegerType)))

  /** ids -> synth WebP (kind rotating by d%3) -> container walk.
    * Pure per-doc map work: at 100 TB the walk costs the scan stage
    * only, exactly like the tar/zip/MP4 listing pre-passes. */
  def metaFeatures(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, metaSchema) { d =>
      val m = meta(synthWebp(d))
      def b(v: Boolean) = if (v) 1 else 0
      def opt(v: Int): Any = if (v < 0) null else v
      Iterator.single(Row(d, m.kind, m.canvasW, m.canvasH, b(m.hasIcc),
        b(m.hasAlpha), b(m.hasExif), b(m.hasXmp), b(m.hasAnim), m.nChunks,
        opt(m.exifLen), opt(m.vp8Version), opt(m.vp8Part0Len)))
    }

  private val decodeSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("sum_r", LongType),
    StructField("sum_g", LongType),
    StructField("sum_b", LongType),
    StructField("sum_a", LongType),
    StructField("px32_r", IntegerType),
    StructField("px32_g", IntegerType),
    StructField("px32_b", IntegerType),
    StructField("px32_a", IntegerType)))

  /** ids -> VP8L encode (layout d%5) -> REAL decode -> exact-integer
    * channel features (+ the probe pixel at (3,2), like the GIF row). */
  def decodeFeatures(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, decodeSchema) { d =>
      val img = decodeVp8l(encodeVp8l(synthImage(d), (d % 6).toInt, d))
      var sr = 0L; var sg = 0L; var sb = 0L; var sa = 0L
      img.px.foreach { p =>
        sr += (p >>> 16) & 0xff; sg += (p >>> 8) & 0xff
        sb += p & 0xff; sa += p >>> 24
      }
      val probe = img.px(2 * img.width + 3)
      Iterator.single(Row(d, img.width, img.height, sr, sg, sb, sa,
        (probe >>> 16) & 0xff, (probe >>> 8) & 0xff, probe & 0xff,
        probe >>> 24))
    }
}
