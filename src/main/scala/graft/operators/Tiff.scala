package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Standalone TIFF file walk (VERDICT r15 #5) — Exif.scala's
  * both-endian IFD machinery lifted to the FILE level: the header
  * (byte-order mark, magic 42), the full multi-page IFD CHAIN via the
  * next-IFD pointers (scanned-document corpora are multi-page), the
  * baseline-TIFF tag set (dims, BitsPerSample, Compression,
  * PhotometricInterpretation, SamplesPerPixel, RowsPerStrip,
  * StripOffsets/StripByteCounts, Predictor), and REAL strip decode:
  * uncompressed, PackBits (the run-length scheme of the public TIFF
  * 6.0 spec), and LZW (TIFF6 §13 — MSB-first codes, Clear/EOI, the
  * spec's EARLY code-width change at 511/1023/2047, the KwKwK
  * just-added-code case) with horizontal-predictor (tag 317 = 2)
  * undifferencing; each strip's decoded size validated against
  * rows-in-strip × width × samples — a lying strip table fails
  * loudly. TiffSpec proves the LZW layer BOTH directions against the
  * JDK's bundled ImageIO TIFF plugin (the JPEG round-9 discipline).
  *
  * Since r18 the walk also reads TILE-organized pages (TIFF6 §15):
  * TileWidth/TileLength/TileOffsets/TileByteCounts, the row-major
  * tile grid cross-checked against the image dims, every tile decoded
  * through the same none/PackBits/LZW strip decoders at the full
  * padded tile size, and only in-bounds pixels counted (edge-tile
  * padding excluded) — GIS/medical corpora are predominantly tiled.
  *
  * Since r18 the walk also decodes CCITT G4 strips (ITU-T T.6, the
  * scanned-document population's compression — see CcittG4 below):
  * from-spec 2-D MMR with the full T.4 run tables, bilevel pages
  * expanding to one 0/1 byte per pixel, ImageIO-conformant both
  * directions including fax-width makeup codes.
  *
  * Subset boundary (loud, by name): compressions beyond 1 (none),
  * 32773 (PackBits), 5 (LZW), and 4 (CCITT G4) — JPEG-in-TIFF stays
  * behind the codec boundary; BitsPerSample other than 8 (or 1 on G4
  * pages, required in both directions); predictors beyond horizontal
  * differencing.
  *
  * Bomb guards: IFD page count and entry counts capped, next-IFD
  * pointers containment-checked (a pointer cycle cannot loop the
  * walk), PackBits/LZW output capped at the strip's declared decoded
  * size, LZW codes beyond the just-added table entry rejected (the
  * classic desync bomb), table growth without a Clear capped at the
  * format's 12-bit bound, all value offsets containment-checked,
  * tile dims capped at 4096 and the tile GRID cross-multiplied
  * against the declared offset table (a lying dim pair cannot walk
  * past it), mixed strip+tile organization rejected by name.
  */
object Tiff {

  // ------------------------------------------------- closed forms

  def nPages(d: Long): Int = (1 + d % 3).toInt
  /** Every fifth non-G4 (d, p) page is TILE-organized (TIFF6 §15) —
    * 16×16 tiles over a page sized to force a ≥2×2 grid WITH partial
    * edge tiles, so tile padding and row reassembly genuinely run.
    * Modulus 5, not 4: a mod-4 residue pins the parity of (d + p),
    * which would structurally exclude predicted-LZW (and gray) tiled
    * pages from the rotation. G4 pages stay strip-organized — the
    * scanned-document population the compression exists for. */
  def tiledOf(d: Long, p: Int): Boolean =
    (d + 3 * p) % 5 == 0 && compOf(d, p) != 4
  def pageW(d: Long, p: Int): Int =
    (if (tiledOf(d, p)) 2 * (16 + (d + p) % 9)
     else 16 + (d + p) % 9).toInt
  def pageH(d: Long, p: Int): Int =
    (if (tiledOf(d, p)) 20 + (d + 2 * p) % 7
     else 10 + (d + 2 * p) % 7).toInt
  /** G4 pages are bilevel single-sample by construction. */
  def samples(d: Long, p: Int): Int =
    if (compOf(d, p) == 4) 1 else (1 + 2 * ((d + p) % 2)).toInt
  val TileDim = 16 // TileWidth/TileLength (spec: multiples of 16)
  /** Compression rotates none / PackBits / LZW / CCITT G4 per page. */
  def compOf(d: Long, p: Int): Int = ((d + 2 * p) % 4).toInt match {
    case 0 => 1
    case 1 => 32773
    case 2 => 5
    case _ => 4
  }
  /** Bilevel pixel of a G4 page: the shared px() form thresholded —
    * 1 = black (MinIsWhite photometric), so constant rows become
    * solid runs and varying rows force mode changes. */
  def bilevel(d: Long, p: Int, x: Int, y: Int): Int =
    if (px(d, p, x, y, 0) >= 128) 1 else 0
  /** Horizontal differencing rides half the LZW pages (predictor is
    * an LZW/deflate companion in the wild; 1 = none elsewhere). */
  def predOf(d: Long, p: Int): Int =
    if (compOf(d, p) == 5 && (d + p) % 2 == 1) 2 else 1
  def rowsPerStrip(d: Long, p: Int): Int = (3 + (d + p) % 4).toInt
  /** Rows where (d+p+y)%4==0 are CONSTANT across x — they force real
    * PackBits run packets; other rows vary per pixel (literals). */
  def px(d: Long, p: Int, x: Int, y: Int, c: Int): Int =
    if ((d + p + y) % 4 == 0) ((d + 17 * p + 5 * y + 7 * c) % 256).toInt
    else ((d + 17 * p + 3 * x + 5 * y + 7 * c) % 256).toInt

  // ---------------------------------------------------- fixture

  private def packBitsEncode(row: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < row.length) {
      // find run length at i
      var run = 1
      while (i + run < row.length && run < 128 && row(i + run) == row(i))
        run += 1
      if (run >= 2) {
        out.write(1 - run) // -(run-1)
        out.write(row(i))
        i += run
      } else {
        // literal stretch: until the next run of >= 3 or 128 bytes
        var lit = 1
        var continue = true
        while (continue && i + lit < row.length && lit < 128) {
          var r2 = 1
          while (i + lit + r2 < row.length && r2 < 3 &&
            row(i + lit + r2) == row(i + lit)) r2 += 1
          if (r2 >= 3) continue = false else lit += 1
        }
        out.write(lit - 1)
        out.write(row, i, lit)
        i += lit
      }
    }
    out.toByteArray
  }

  // TIFF6 §13 LZW — MSB-first code packing, both directions.

  /** LZW-encode one strip (the fixture side): Clear first, EOI last,
    * prefix table keyed (prefixCode, byte), and the spec's EARLY
    * width change — after the entry making the next free code equal
    * 2^width - 1 lands, subsequent codes are one bit wider (the
    * libtiff-compatible convention the decoder mirrors). Fixture
    * strips never fill the 12-bit table, so no mid-stream Clear. */
  private def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val w = new Bin.MsbWriter
    var width = 9
    var next = 258
    // LongMap keyed (prefix << 8 | byte): no tuple boxing — this
    // encoder runs once per fixture strip at corpus scale
    val table = collection.mutable.LongMap.empty[Int]
    w.u(256, width) // Clear
    var prefix = -1
    data.foreach { b =>
      val k = b & 0xff
      if (prefix < 0) prefix = k
      else {
        val key = (prefix.toLong << 8) | k
        val c = table.getOrElse(key, -1)
        if (c >= 0) prefix = c
        else {
          w.u(prefix, width)
          table(key) = next
          next += 1
          require(next < 4094, "tiff: fixture strip would fill the LZW table")
          if (next == (1 << width) - 1 && width < 12) width += 1
          prefix = k
        }
      }
    }
    if (prefix >= 0) w.u(prefix, width)
    w.u(257, width) // EOI
    w.toBytes
  }

  /** LZW-decode one strip into exactly `expect` bytes. Table entries
    * are (prefix, suffix) pairs — string reconstruction walks the
    * chain, so a crafted deep table cannot allocate beyond the
    * declared strip size. Loud on: a code beyond the just-added
    * entry (the classic desync), table growth past the 12-bit bound
    * without a Clear, output overflow, and EOI before `expect`. */
  private def lzwDecode(b: Array[Byte], from: Int, until: Int,
      expect: Int): Array[Byte] = {
    val out = new Array[Byte](expect)
    var o = 0
    val in = new Bin.MsbReader(b, from, until, "tiff: LZW stream (no EOI)")
    // (prefix, suffix, firstByte, length) per dynamic entry
    val prefixOf = new Array[Int](4096)
    val suffixOf = new Array[Byte](4096)
    val firstOf = new Array[Byte](4096)
    val lenOf = new Array[Int](4096)
    var width = 9
    var next = 258
    var old = -1
    def emit(code: Int): Unit = {
      val len = if (code < 256) 1 else lenOf(code)
      require(o + len <= expect,
        "tiff: LZW output exceeds the declared strip size")
      var c = code
      var i = len - 1
      while (c >= 256) {
        out(o + i) = suffixOf(c); c = prefixOf(c); i -= 1
      }
      out(o) = c.toByte
      o += len
    }
    def firstByte(code: Int): Byte =
      if (code < 256) code.toByte else firstOf(code)
    var done = false
    while (!done) {
      val code = in.u(width)
      if (code == 257) { // EOI
        done = true
      } else if (code == 256) { // Clear
        width = 9; next = 258; old = -1
      } else if (old < 0) {
        require(code < 256,
          s"tiff: first LZW code after Clear is $code, not a literal")
        emit(code)
        old = code
      } else {
        require(code < 4096 && (code < next || code == next),
          s"tiff: LZW code $code beyond the table (next free $next)")
        require(next < 4096,
          "tiff: LZW table overflows 12 bits without a Clear")
        if (code < next) {
          emit(code)
          // new entry: old's string + the first byte of this code's
          prefixOf(next) = old
          suffixOf(next) = firstByte(code)
          firstOf(next) = firstByte(old)
          lenOf(next) = (if (old < 256) 1 else lenOf(old)) + 1
        } else {
          // KwKwK: the just-added entry — old's string + its first byte
          prefixOf(next) = old
          suffixOf(next) = firstByte(old)
          firstOf(next) = firstByte(old)
          lenOf(next) = (if (old < 256) 1 else lenOf(old)) + 1
          emit(next)
        }
        next += 1
        if (next == (1 << width) - 1 && width < 12) width += 1
        old = code
      }
    }
    require(o == expect,
      s"tiff: LZW strip decodes to $o bytes, expected $expect")
    // only bit padding may follow EOI — whole trailing bytes mean the
    // strip byte count lies about where the stream ends
    require(in.remaining < 8,
      "tiff: LZW strip carries whole bytes past its EOI code")
    out
  }

  // ---------------------------------------------- CCITT G4 (T.6)

  /** ITU-T T.6 (CCITT Group 4) two-dimensional MMR coder — the
    * compression of the scanned-document TIFF population (VERDICT r17
    * #3). Both directions from the public spec: vertical/horizontal/
    * pass modes against the reference line, horizontal runs in the
    * T.4 modified-Huffman tables (terminating 0–63, makeup 64–2560,
    * the extended makeups shared between colors), each strip an
    * independent block whose first reference line is all white.
    * Bilevel only (BitsPerSample 1); decoded pixels expand to one
    * 0/1 byte each (1 = black under the MinIsWhite photometric).
    * TiffSpec proves both directions against ImageIO's bundled T.6
    * codec, including a fax-width page whose long runs force makeup
    * codes. Bomb guards: non-advancing modes (the runaway-vertical /
    * zero-run shapes), runs past the line width, makeup accumulation
    * capped at the width, unmatched codes, truncated streams, and
    * non-zero trailing bits are all loud. */
  private[graft] object CcittG4 {
    private def codes(s: String): Array[(Int, Int)] =
      s.trim.split("\\s+").map(c => (Integer.parseInt(c, 2), c.length))

    // T.4 table 1 — white run lengths 0..63 (terminating codes)
    private val whiteTerm = codes("""
      00110101 000111 0111 1000 1011 1100 1110 1111
      10011 10100 00111 01000 001000 000011 110100 110101
      101010 101011 0100111 0001100 0001000 0010111 0000011 0000100
      0101000 0101011 0010011 0100100 0011000 00000010 00000011 00011010
      00011011 00010010 00010011 00010100 00010101 00010110 00010111 00101000
      00101001 00101010 00101011 00101100 00101101 00000100 00000101 00001010
      00001011 01010010 01010011 01010100 01010101 00100100 00100101 01011000
      01011001 01011010 01011011 01001010 01001011 00110010 00110011 00110100""")
    // T.4 table 2 — white makeup codes 64, 128, …, 1728
    private val whiteMakeup = codes("""
      11011 10010 010111 0110111 00110110 00110111 01100100 01100101
      01101000 01100111 011001100 011001101 011010010 011010011 011010100
      011010101 011010110 011010111 011011000 011011001 011011010 011011011
      010011000 010011001 010011010 011000 010011011""")
    // T.4 table 3 — black run lengths 0..63 (terminating codes)
    private val blackTerm = codes("""
      0000110111 010 11 10 011 0011 0010 00011
      000101 000100 0000100 0000101 0000111 00000100 00000111 000011000
      0000010111 0000011000 0000001000 00001100111 00001101000 00001101100
      00000110111 00000101000 00000010111 00000011000 000011001010 000011001011
      000011001100 000011001101 000001101000 000001101001 000001101010
      000001101011 000011010010 000011010011 000011010100 000011010101
      000011010110 000011010111 000001101100 000001101101 000011011010
      000011011011 000001010100 000001010101 000001010110 000001010111
      000001100100 000001100101 000001010010 000001010011 000000100100
      000000110111 000000111000 000000100111 000000101000 000001011000
      000001011001 000000101011 000000101100 000001011010 000001100110
      000001100111""")
    // T.4 table 4 — black makeup codes 64, 128, …, 1728
    private val blackMakeup = codes("""
      0000001111 000011001000 000011001001 000001011011 000000110011
      000000110100 000000110101 0000001101100 0000001101101 0000001001010
      0000001001011 0000001001100 0000001001101 0000001110010 0000001110011
      0000001110100 0000001110101 0000001110110 0000001110111 0000001010010
      0000001010011 0000001010100 0000001010101 0000001011010 0000001011011
      0000001100100 0000001100101""")
    // T.4 extended makeup codes 1792, 1856, …, 2560 (both colors)
    private val extMakeup = codes("""
      00000001000 00000001100 00000001101 000000010010 000000010011
      000000010100 000000010101 000000010110 000000010111 000000011100
      000000011101 000000011110 000000011111""")

    // decode maps: (bitLen << 16 | code) → run length
    private def toMap(term: Array[(Int, Int)],
        makeup: Array[(Int, Int)]): Map[Int, Int] = {
      val t = term.zipWithIndex.map { case ((c, l), r) => ((l << 16) | c, r) }
      val m = makeup.zipWithIndex.map { case ((c, l), k) =>
        ((l << 16) | c, 64 * (k + 1)) }
      val e = extMakeup.zipWithIndex.map { case ((c, l), k) =>
        ((l << 16) | c, 1792 + 64 * k) }
      (t ++ m ++ e).toMap
    }
    private val whiteRuns = toMap(whiteTerm, whiteMakeup)
    private val blackRuns = toMap(blackTerm, blackMakeup)

    /** Changing-element positions of one 0/1 pixel row (positions
      * where the color differs from the previous pixel; pixel −1 is
      * white). Returned with two `w` sentinels. */
    private def changesOf(pix: Array[Byte], at: Int, w: Int): Array[Int] = {
      val out = new Array[Int](w + 2)
      var n = 0
      var prev = 0
      var x = 0
      while (x < w) {
        val v = pix(at + x) & 1
        if (v != prev) { out(n) = x; n += 1; prev = v }
        x += 1
      }
      out(n) = w; out(n + 1) = w
      java.util.Arrays.copyOf(out, n + 2)
    }

    /** (b1, b2) on the reference line: b1 = first changing element
      * > a0 whose color is OPPOSITE a0's color (ref changes alternate
      * black/white starting black, so parity decides), b2 = the next
      * one after it. `nCh` excludes the two sentinels. */
    private def refPair(ref: Array[Int], nCh: Int, a0: Int,
        a0White: Boolean): (Int, Int) = {
      var j = 0
      while (j < nCh && ref(j) <= a0) j += 1
      // needed parity: b1 black (even index) when a0 is white
      if (j < nCh && (j % 2 == 0) != a0White) j += 1
      val w1 = ref(math.min(j, nCh))
      val w2 = ref(math.min(j + 1, nCh))
      (if (j < nCh) w1 else ref(nCh), if (j + 1 < nCh) w2 else ref(nCh))
    }

    /** Encode `rows` lines of 0/1 pixels (row-major, width w). */
    def encode(pix: Array[Byte], w: Int, rows: Int): Array[Byte] = {
      require(w > 0 && rows > 0, "tiff: G4 encode on an empty strip")
      val bits = new Bin.MsbWriter
      def put(s: String): Unit =
        bits.u(Integer.parseInt(s, 2), s.length)
      def putRun(run0: Int, white: Boolean): Unit = {
        var run = run0
        while (run >= 2624) { // chain 2560 makeups for very long runs
          val (c, l) = extMakeup(12); bits.u(c, l); run -= 2560
        }
        if (run >= 1792) {
          val k = (run - 1792) / 64
          val (c, l) = extMakeup(k); bits.u(c, l)
          run -= 1792 + 64 * k
        } else if (run >= 64) {
          val k = run / 64 - 1
          val (c, l) = (if (white) whiteMakeup else blackMakeup)(k)
          bits.u(c, l)
          run -= 64 * (k + 1)
        }
        val (c, l) = (if (white) whiteTerm else blackTerm)(run)
        bits.u(c, l)
      }
      var ref = Array(w, w)
      var refN = 0
      (0 until rows).foreach { r =>
        val cur = changesOf(pix, r * w, w)
        val curN = cur.length - 2
        var a0 = -1
        var white = true
        while (a0 < w) {
          var ci = 0
          while (ci < curN && cur(ci) <= a0) ci += 1
          val a1 = cur(ci) // sentinel w when exhausted
          val (b1, b2) = refPair(ref, refN, a0, white)
          if (b2 < a1) {
            put("0001") // pass
            a0 = b2
          } else if (math.abs(a1 - b1) <= 3) {
            a1 - b1 match { // vertical
              case 0 => put("1")
              case 1 => put("011")
              case 2 => put("000011")
              case 3 => put("0000011")
              case -1 => put("010")
              case -2 => put("000010")
              case -3 => put("0000010")
            }
            a0 = a1; white = !white
          } else {
            put("001") // horizontal
            val a0s = math.max(a0, 0)
            val a2 = cur(math.min(ci + 1, curN + 1))
            putRun(a1 - a0s, white)
            putRun(a2 - a1, !white)
            a0 = a2
          }
        }
        ref = cur; refN = curN
      }
      bits.toBytes
    }

    /** Decode exactly `rows` lines of width `w` into 0/1 bytes. */
    def decode(b: Array[Byte], from: Int, until: Int, w: Int,
        rows: Int): Array[Byte] = {
      require(w > 0 && rows > 0, "tiff: G4 decode on an empty strip")
      val in = new Bin.MsbReader(b, from, until, "tiff: G4 stream mid-code")
      val out = new Array[Byte](rows * w)
      def readRun(white: Boolean): Int = {
        val table = if (white) whiteRuns else blackRuns
        var total = 0
        var done = false
        while (!done) {
          var code = 0; var len = 0
          var hit = -1
          while (hit < 0) {
            code = (code << 1) | in.u(1); len += 1
            require(len <= 13,
              "tiff: G4 run code matches no T.4 entry within 13 bits")
            hit = table.getOrElse((len << 16) | code, -1)
          }
          total += hit
          require(total <= w,
            s"tiff: G4 run $total exceeds the line width $w")
          if (hit < 64) done = true // terminating code ends the run
        }
        total
      }
      var ref = Array(w, w)
      var refN = 0
      val curBuf = new Array[Int](w + 2)
      (0 until rows).foreach { r =>
        val at = r * w
        var a0 = -1
        var white = true
        var curN = 0
        def fill(upto: Int, asWhite: Boolean): Unit = {
          var x = math.max(a0, 0)
          while (x < upto) { out(at + x) = if (asWhite) 0 else 1; x += 1 }
        }
        while (a0 < w) {
          val (b1, b2) = refPair(ref, refN, a0, white)
          // mode tree: V0=1 VR1=011 VL1=010 H=001 P=0001
          //            VR2=000011 VL2=000010 VR3=0000011 VL3=0000010
          if (in.u(1) == 1) { // V0
            val a1 = b1
            require(a1 > a0 && a1 <= w,
              s"tiff: G4 vertical mode does not advance (a0=$a0 a1=$a1)")
            fill(a1, white)
            if (a1 < w) { curBuf(curN) = a1; curN += 1 }
            a0 = a1; white = !white
          } else if (in.u(1) == 1) { // 01x
            val a1 = if (in.u(1) == 1) b1 + 1 else b1 - 1
            require(a1 > a0 && a1 <= w,
              s"tiff: G4 vertical mode does not advance (a0=$a0 a1=$a1)")
            fill(a1, white)
            if (a1 < w) { curBuf(curN) = a1; curN += 1 }
            a0 = a1; white = !white
          } else if (in.u(1) == 1) { // 001 horizontal
            val a0s = math.max(a0, 0)
            val run1 = readRun(white)
            val run2 = readRun(!white)
            val a1 = a0s + run1
            val a2 = a1 + run2
            require(a1 > a0 && a1 <= w && a2 <= w &&
              (a2 > a1 || a1 == w),
              s"tiff: G4 horizontal runs do not advance " +
                s"(a0=$a0 a1=$a1 a2=$a2 w=$w)")
            fill(a1, white)
            if (a1 < w) { curBuf(curN) = a1; curN += 1 }
            a0 = a1 // reuse fill's max(a0, 0) base for the second run
            fill(a2, !white)
            if (a2 < w) { curBuf(curN) = a2; curN += 1 }
            a0 = a2
          } else if (in.u(1) == 1) { // 0001 pass
            require(b2 > math.max(a0, 0) || a0 < 0,
              s"tiff: G4 pass mode does not advance (a0=$a0 b2=$b2)")
            fill(b2, white)
            a0 = b2
          } else { // 00000.. — vertical ±2/±3 or garbage
            val a1 =
              if (in.u(1) == 1) { if (in.u(1) == 1) b1 + 2 else b1 - 2 }
              else if (in.u(1) == 1) {
                if (in.u(1) == 1) b1 + 3 else b1 - 3
              } else throw new IllegalArgumentException(
                "tiff: G4 mode code matches no T.6 entry")
            require(a1 > a0 && a1 <= w,
              s"tiff: G4 vertical mode does not advance (a0=$a0 a1=$a1)")
            fill(a1, white)
            if (a1 < w) { curBuf(curN) = a1; curN += 1 }
            a0 = a1; white = !white
          }
        }
        require(a0 == w, s"tiff: G4 line overruns the width ($a0 > $w)")
        ref = java.util.Arrays.copyOf(curBuf, curN + 2)
        ref(curN) = w; ref(curN + 1) = w
        refN = curN
      }
      // optional EOFB (two T.4 EOLs), then only zero bit padding
      if (in.remaining >= 24) {
        var ok = true
        (0 until 2).foreach { _ =>
          (0 until 11).foreach(_ => ok &= in.u(1) == 0)
          ok &= in.u(1) == 1
        }
        require(ok, "tiff: G4 trailing bytes are neither EOFB nor padding")
      }
      require(in.remaining < 32 && {
        var zero = true
        while (in.remaining > 0) zero &= in.u(1) == 0
        zero
      },
        "tiff: G4 stream carries non-zero bits past the last coded line")
      out
    }
  }

  /** Horizontal-predictor undifferencing (tag 317 = 2): within each
    * row, each sample adds the same sample of the previous pixel. */
  private def undiff(strip: Array[Byte], rowBytes: Int, sp: Int): Unit = {
    var r = 0
    while (r < strip.length) {
      var i = r + sp
      while (i < r + rowBytes) {
        strip(i) = ((strip(i) + strip(i - sp)) & 0xff).toByte
        i += 1
      }
      r += rowBytes
    }
  }

  /** The encoder-side mirror: difference each row before LZW. */
  private def diff(strip: Array[Byte], rowBytes: Int, sp: Int): Array[Byte] = {
    val d2 = strip.clone()
    var r = 0
    while (r < d2.length) {
      var i = r + rowBytes - 1
      while (i >= r + sp) {
        d2(i) = ((strip(i) - strip(i - sp)) & 0xff).toByte
        i -= 1
      }
      r += rowBytes
    }
    d2
  }

  /** Closed-form multi-page TIFF for id d: 1+d%3 pages chained via
    * next-IFD pointers, little-endian on even ids / big-endian on
    * odd, per page gray or RGB, compression rotating uncompressed /
    * PackBits / LZW (half the LZW pages horizontally predicted), a
    * small RowsPerStrip so every strip page is genuinely multi-strip,
    * and every fourth (d, p) page TILE-organized over a ≥2×2 16×16
    * grid with partial edge tiles (zero-padded per TIFF6 §15). */
  def synth(d: Long): Array[Byte] = {
    val le = d % 2 == 0
    val out = new java.io.ByteArrayOutputStream(4096)
    def w16(v: Int): Unit = out.write(if (le) Bin.le16(v) else Bin.be16(v))
    def w32(v: Int): Unit = out.write(if (le) Bin.le32(v) else Bin.be32(v))
    out.write(if (le) 'I' else 'M'); out.write(if (le) 'I' else 'M')
    w16(42)
    // layout: header(8) | per page: payloads (strips or tiles) then
    // IFD (+ out-of-line offset arrays)
    val np = nPages(d)
    // precompute payloads per page: strips for strip pages, row-major
    // 16×16 tiles (zero-padded past the image edge, per TIFF6 §15)
    // for tiled pages — both run the same compression rotation
    val pagePayloads = (0 until np).map { p =>
      val w = pageW(d, p); val h = pageH(d, p); val sp = samples(d, p)
      def enc(raw: Array[Byte], rowBytes: Int): Array[Byte] =
        compOf(d, p) match {
          case 32773 => packBitsEncode(raw)
          case 5 =>
            lzwEncode(if (predOf(d, p) == 2) diff(raw, rowBytes, sp)
              else raw)
          case 4 => CcittG4.encode(raw, rowBytes, raw.length / rowBytes)
          case _ => raw
        }
      if (tiledOf(d, p)) {
        val td = TileDim
        for (ty <- 0 until (h + td - 1) / td;
             tx <- 0 until (w + td - 1) / td) yield {
          val raw = new Array[Byte](td * td * sp)
          for (r <- 0 until td; j <- 0 until td; c <- 0 until sp) {
            val y = ty * td + r; val x = tx * td + j
            if (y < h && x < w)
              raw((r * td + j) * sp + c) = px(d, p, x, y, c).toByte
          }
          enc(raw, td * sp)
        }
      } else {
        val rps = rowsPerStrip(d, p)
        for (y0 <- 0 until h by rps) yield {
          val rows = math.min(rps, h - y0)
          val raw = new Array[Byte](rows * w * sp)
          var i = 0
          for (y <- y0 until y0 + rows; x <- 0 until w; c <- 0 until sp) {
            raw(i) = (if (compOf(d, p) == 4) bilevel(d, p, x, y)
              else px(d, p, x, y, c)).toByte
            i += 1
          }
          enc(raw, w * sp)
        }
      }
    }
    var pos = 8 // running file offset
    val payloadOffsets = pagePayloads.map { payloads =>
      payloads.map { s => val o = pos; pos += s.length; o }
    }
    // IFD offsets: after all payload data, IFDs laid sequentially;
    // each IFD may need two out-of-line arrays (offsets + bytecounts);
    // tiled IFDs carry one more entry (322+323 replace 278, +324/325
    // replacing 273/279 keeps the count at 11+1)
    val ifdAt = new Array[Int](np)
    var ifdPos = pos
    def entriesOf(p: Int): Int = if (tiledOf(d, p)) 12 else 11
    (0 until np).foreach { p =>
      ifdAt(p) = ifdPos
      val ns = pagePayloads(p).size
      val extra = if (ns > 1) 2 * 4 * ns else 0
      ifdPos += 2 + 12 * entriesOf(p) + 4 + extra
    }
    // first IFD pointer
    w32(ifdAt(0))
    // payload data
    pagePayloads.foreach(_.foreach(s => out.write(s, 0, s.length)))
    // IFDs
    (0 until np).foreach { p =>
      val w = pageW(d, p); val h = pageH(d, p); val sp = samples(d, p)
      val ns = pagePayloads(p).size
      val arraysAt = ifdAt(p) + 2 + 12 * entriesOf(p) + 4
      w16(entriesOf(p))
      def entry(tag: Int, typ: Int, cnt: Int, value: Int): Unit = {
        w16(tag); w16(typ); w32(cnt)
        // SHORT inline values sit in the upper half on BE — pack per
        // the spec: value field is 4 bytes, left-justified
        if (typ == 3 && cnt == 1) { w16(value); w16(0) } else w32(value)
      }
      entry(256, 3, 1, w)                        // ImageWidth
      entry(257, 3, 1, h)                        // ImageLength
      entry(258, 3, 1,                           // BitsPerSample
        if (compOf(d, p) == 4) 1 else 8)
      entry(259, 3, 1, compOf(d, p))             // Compression
      entry(262, 3, 1,                           // Photometric
        if (compOf(d, p) == 4) 0 else if (sp == 3) 2 else 1)
      if (!tiledOf(d, p))
        entry(273, 4, ns,                        // StripOffsets
          if (ns == 1) payloadOffsets(p)(0) else arraysAt)
      entry(277, 3, 1, sp)                       // SamplesPerPixel
      if (!tiledOf(d, p)) {
        entry(278, 3, 1, rowsPerStrip(d, p))     // RowsPerStrip
        entry(279, 4, ns,                        // StripByteCounts
          if (ns == 1) pagePayloads(p)(0).length else arraysAt + 4 * ns)
      }
      entry(296, 3, 1, 2)                        // ResolutionUnit
      entry(317, 3, 1, predOf(d, p))             // Predictor
      if (tiledOf(d, p)) {
        entry(322, 3, 1, TileDim)                // TileWidth
        entry(323, 3, 1, TileDim)                // TileLength
        entry(324, 4, ns, arraysAt)              // TileOffsets
        entry(325, 4, ns, arraysAt + 4 * ns)     // TileByteCounts
      }
      w32(if (p + 1 < np) ifdAt(p + 1) else 0)   // next IFD
      if (ns > 1) {
        payloadOffsets(p).foreach(w32)
        pagePayloads(p).foreach(s => w32(s.length))
      }
    }
    out.toByteArray
  }

  // ------------------------------------------------------- walk

  final case class TiffPage(page: Int, width: Int, height: Int,
      samples: Int, compression: Int, predictor: Int, tiled: Int,
      nStrips: Int, decodedBytes: Long, pixelSum: Long)

  private def packBitsDecode(b: Array[Byte], from: Int, until: Int,
      expect: Int): Array[Byte] = {
    val out = new Array[Byte](expect)
    var o = 0
    var i = from
    while (i < until) {
      val n = b(i); i += 1
      if (n >= 0) {
        val lit = n + 1
        Bin.checkRange(i, lit, until,
          "tiff: PackBits literal overruns its strip")
        require(o + lit <= expect,
          "tiff: PackBits output exceeds the declared strip size")
        System.arraycopy(b, i, out, o, lit)
        i += lit; o += lit
      } else if (n != -128) {
        val run = 1 - n
        require(i < until, "tiff: PackBits run missing its byte")
        require(o + run <= expect,
          "tiff: PackBits output exceeds the declared strip size")
        java.util.Arrays.fill(out, o, o + run, b(i))
        i += 1; o += run
      } // -128: no-op per the spec
    }
    require(o == expect,
      s"tiff: strip decodes to $o bytes, expected $expect")
    out
  }

  def parse(bytes: Array[Byte]): Seq[TiffPage] = {
    require(bytes.length >= 8, "tiff: truncated header")
    val le = (bytes(0), bytes(1)) match {
      case ('I', 'I') => true
      case ('M', 'M') => false
      case _ => throw new IllegalArgumentException(
        "tiff: bad byte-order mark")
    }
    def u16(o: Int): Int =
      if (le) Bin.u16le(bytes, o, bytes.length, "tiff")
      else Bin.u16be(bytes, o, bytes.length, "tiff")
    def u32(o: Int): Int =
      (if (le) Bin.u32le(bytes, o, bytes.length, "tiff")
       else Bin.u32be(bytes, o, bytes.length, "tiff")).toInt
    require(u16(2) == 42, "tiff: bad magic")
    var ifd = u32(4)
    val pages = collection.mutable.ArrayBuffer.empty[TiffPage]
    while (ifd != 0) {
      require(pages.size < 64, "tiff: IFD chain bomb (over 64 pages)")
      require(ifd >= 8 && ifd < bytes.length, s"tiff: IFD offset $ifd " +
        "outside the file")
      val n = u16(ifd)
      require(n >= 1 && n <= 1000, s"tiff: absurd IFD entry count $n")
      var w = -1; var h = -1; var bits = -1; var comp = 1
      var pred = 1
      var sp = 1; var rps = Int.MaxValue
      var offsets: Array[Int] = null
      var counts: Array[Int] = null
      var tileW = -1; var tileH = -1
      var tileOffsets: Array[Int] = null
      var tileCounts: Array[Int] = null
      (0 until n).foreach { k =>
        val e = ifd + 2 + 12 * k
        val tag = u16(e)
        val typ = u16(e + 2)
        val cnt = u32(e + 4)
        require(cnt >= 0 && cnt <= bytes.length,
          s"tiff: absurd value count $cnt for tag $tag")
        def scalar(): Int = typ match {
          case 3 => u16(e + 8)
          case 4 => u32(e + 8)
          case t => throw new IllegalArgumentException(
            s"tiff: tag $tag has type $t where SHORT/LONG is expected")
        }
        def longArray(): Array[Int] = {
          val unit = typ match {
            case 3 => 2
            case 4 => 4
            case t => throw new IllegalArgumentException(
              s"tiff: tag $tag array type $t out of subset")
          }
          val size = unit * cnt
          val at = if (size <= 4) e + 8 else u32(e + 8)
          require(at >= 0, s"tiff: tag $tag value array overruns the file")
          Bin.checkRange(at, size, bytes.length, "tiff: tag")
          Array.tabulate(cnt)(i =>
            if (unit == 2) u16(at + 2 * i) else u32(at + 4 * i))
        }
        tag match {
          case 256 => w = scalar()
          case 257 => h = scalar()
          case 258 =>
            val bs = longArray()
            bs.foreach(b => require(b == 8 || b == 1,
              s"tiff: BitsPerSample $b is outside the 8/1-bit subset"))
            require(bs.distinct.length == 1,
              s"tiff: mixed per-sample bit depths ${bs.mkString(",")}")
            bits = bs(0)
          case 259 =>
            comp = scalar()
            require(comp == 1 || comp == 32773 || comp == 5 || comp == 4,
              s"tiff: compression $comp is outside the walk subset " +
                "(uncompressed, PackBits, LZW, and CCITT G4 only)")
          case 273 => offsets = longArray()
          case 277 => sp = scalar()
          case 278 => rps = scalar()
          case 279 => counts = longArray()
          case 317 =>
            pred = scalar()
            require(pred == 1 || pred == 2,
              s"tiff: predictor $pred is outside the walk subset " +
                "(none and horizontal differencing only)")
          case 322 => tileW = scalar()
          case 323 => tileH = scalar()
          case 324 => tileOffsets = longArray()
          case 325 => tileCounts = longArray()
          case _ => () // baseline tags we don't surface — skippable
        }
      }
      require(w > 0 && h > 0, "tiff: page lacks dimensions")
      // TIFF6 default when tag 258 is absent is 1 bit — bilevel
      // writers (ImageIO's T.6 path among them) rely on it
      if (bits == -1) bits = 1
      require(bits == 8 || comp == 4,
        "tiff: page lacks an 8-bit BitsPerSample")
      // G4 is a bilevel codec by definition — the pairing is required
      // in BOTH directions so neither tag can lie about the other
      require(comp != 4 || (bits == 1 && sp == 1),
        "tiff: CCITT G4 requires BitsPerSample 1 and one sample")
      require(bits != 1 || comp == 4,
        "tiff: bilevel pages outside CCITT G4 are outside the walk subset")
      require(sp >= 1 && sp <= 4, s"tiff: absurd SamplesPerPixel $sp")
      require(pred == 1 || comp == 5,
        "tiff: horizontal predictor outside an LZW page is outside " +
          "the walk subset")
      val tiled = tileOffsets != null || tileCounts != null ||
        tileW >= 0 || tileH >= 0
      // one payload decode shared by both organizations
      def decodePayload(idx: Int, o: Int, c: Int, expect: Int,
          rowBytes: Int, what: String): Array[Byte] = {
        require(o >= 0 && c >= 0, s"tiff: $what $idx overruns the file")
        Bin.checkRange(o, c, bytes.length, "tiff")
        comp match {
          case 1 =>
            require(c == expect,
              s"tiff: uncompressed $what $idx is $c bytes, expected $expect")
            java.util.Arrays.copyOfRange(bytes, o, o + c)
          case 32773 => packBitsDecode(bytes, o, o + c, expect)
          case 4 =>
            // sp == 1 guaranteed above: rowBytes IS the pixel width
            CcittG4.decode(bytes, o, o + c, rowBytes, expect / rowBytes)
          case _ =>
            val dec = lzwDecode(bytes, o, o + c, expect)
            if (pred == 2) undiff(dec, rowBytes, sp)
            dec
        }
      }
      var sum = 0L
      var decoded = 0L
      val nPayloads =
        if (tiled) {
          // TIFF6 §15 tile organization: a page is strip- OR
          // tile-organized, never both, and must carry the full tag set
          require(offsets == null && counts == null &&
            rps == Int.MaxValue,
            "tiff: page mixes strip and tile organization")
          require(tileW > 0 && tileH > 0,
            "tiff: tiled page lacks TileWidth/TileLength")
          require(tileW % 16 == 0 && tileH % 16 == 0,
            s"tiff: tile dims ${tileW}x$tileH are not multiples of 16")
          require(tileW <= 4096 && tileH <= 4096,
            s"tiff: tile dims ${tileW}x$tileH over the 4096 walk bound")
          require(tileOffsets != null && tileCounts != null,
            "tiff: tiled page lacks tile offsets or byte counts")
          require(tileOffsets.length == tileCounts.length,
            s"tiff: ${tileOffsets.length} tile offsets but " +
              s"${tileCounts.length} counts")
          val across = (w + tileW - 1) / tileW
          val down = (h + tileH - 1) / tileH
          // the grid-overflow bomb: a lying dim pair cannot multiply
          // past the declared offset table
          require(across.toLong * down <= 65536,
            s"tiff: tile grid $across x $down over the walk bound")
          require(tileOffsets.length == across * down,
            s"tiff: ${tileOffsets.length} tiles but the " +
              s"$across x $down grid implies ${across * down}")
          val expect = tileW * tileH * sp
          for (ty <- 0 until down; tx <- 0 until across) {
            val t = ty * across + tx
            val raw = decodePayload(t, tileOffsets(t), tileCounts(t),
              expect, tileW * sp, "tile")
            // only in-bounds pixels count: edge tiles are padded to
            // the full tile size per the spec, padding excluded here
            var r = 0
            while (r < tileH && ty * tileH + r < h) {
              val rowAt = r * tileW * sp
              val cols = math.min(tileW, w - tx * tileW)
              var j = 0
              while (j < cols * sp) {
                sum += raw(rowAt + j) & 0xff
                j += 1
              }
              decoded += cols * sp
              r += 1
            }
          }
          tileOffsets.length
        } else {
          require(offsets != null && counts != null,
            "tiff: page lacks strip offsets or byte counts")
          require(offsets.length == counts.length,
            s"tiff: ${offsets.length} strip offsets but " +
              s"${counts.length} counts")
          val nStrips = offsets.length
          require(rps >= 1, s"tiff: absurd RowsPerStrip $rps")
          val expectStrips = (h + math.min(rps, h) - 1) / math.min(rps, h)
          require(nStrips == expectStrips,
            s"tiff: $nStrips strips but RowsPerStrip implies $expectStrips")
          (0 until nStrips).foreach { s =>
            val y0 = s * rps
            val rows = math.min(rps, h - y0)
            val expect = rows * w * sp
            val raw = decodePayload(s, offsets(s), counts(s), expect,
              w * sp, "strip")
            raw.foreach(b => sum += b & 0xff)
            decoded += raw.length
          }
          nStrips
        }
      pages += TiffPage(pages.size, w, h, sp, comp, pred,
        if (tiled) 1 else 0, nPayloads, decoded, sum)
      ifd = u32(ifd + 2 + 12 * n)
    }
    require(pages.nonEmpty, "tiff: no IFDs")
    pages.toSeq
  }

  // ------------------------------------------------ spark plumbing

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("page", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_samples", IntegerType),
    StructField("compression", IntegerType),
    StructField("predictor", IntegerType),
    StructField("tiled", IntegerType),
    StructField("n_strips", IntegerType),
    StructField("decoded_bytes", LongType),
    StructField("pixel_sum", LongType)))

  /** ids → one row per decoded TIFF page. Per-doc map work. */
  def pageFeatures(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, schema) { d =>
      parse(synth(d)).map { p =>
        Row(d, p.page, p.width, p.height, p.samples, p.compression,
          p.predictor, p.tiled, p.nStrips, p.decodedBytes, p.pixelSum)
      }
    }
}
