package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Zstandard decoder (RFC 8878) — frames, and since round 16 the FULL
  * block layer including COMPRESSED blocks: FSE table descriptions
  * (the forward variable-bit readNCount scheme with zero-repeat
  * flags), interleaved-two-state FSE decoding of Huffman weights,
  * canonical Huffman literals (direct and FSE-compressed weights,
  * one-stream and four-stream layouts with the jump table, Treeless
  * reuse), the sequences section (predefined / RLE / FSE_Compressed /
  * Repeat modes for each of LL/OF/ML), the backward bitstream with
  * its sentinel bit, and sequence execution with the three-slot
  * repeat-offset history including the LL==0 rotation. The frame
  * walk still verifies both integrity ladders: declared
  * Frame_Content_Size against the decoded length, and the 4-byte
  * content checksum against XXH64(content) & 0xffffffff, implemented
  * from the public xxHash spec.
  *
  * Conformance is checked BOTH directions in ZstdSpec against the
  * bundled reference codec (zstd-jni, on Spark's own classpath): this
  * decoder must reproduce reference-compressed streams byte-exactly,
  * and the from-spec fixture ENCODER's output must decompress
  * byte-exactly under the reference codec — the ImageIO discipline
  * applied to the lake's compressor (VERDICT r15 #3).
  *
  * Dictionary-fed frames (RFC 8878 §5) decode through walk(bytes,
  * dict) / decompress(bytes, dict): structured dictionaries (magic
  * 0xEC30A437 — id, Huffman/OF/ML/LL entropy tables, initial repeat
  * offsets, content window) and raw content-only blobs both load, and
  * all three inheritance channels are honored. The NO-dictionary
  * entry points reject a dict-declaring frame's compressed blocks by
  * name instead of failing with a misleading downstream error.
  *
  * The window descriptor (RFC 8878 §3.1.1.1.2) is PARSED and
  * enforced (since r18): match offsets may never exceed the declared
  * window even when this in-memory decoder holds the history — a
  * stream lying about its window is corrupt, and the reference codec
  * rejects it identically; windows beyond 2^30 (the in-memory walk
  * bound) are rejected by name. Frames that FIT in memory decode
  * whole-buffer — a true ring-window streaming decode for multi-GB
  * single frames remains the documented boundary.
  *
  * Bomb guards: decoded content capped against input size (RLE and
  * match amplification), literals regeneration capped at the format's
  * 128 KB block limit, sequence counts and table sizes bounded, and
  * match offsets containment-checked against the decoded window. */
object Zstd {

  // ------------------------------------------------------------ XXH64

  private val P1 = 0x9E3779B185EBCA87L
  private val P2 = 0xC2B2AE3D27D4EB4FL
  private val P3 = 0x165667B19E3779F9L
  private val P4 = 0x85EBCA77C2B2AE63L
  private val P5 = 0x27D4EB2F165667C5L

  /** XXH64 of bytes[from, until) with the given seed (xxHash spec). */
  def xxh64(b: Array[Byte], from: Int, until: Int, seed: Long): Long = {
    def rotl(x: Long, r: Int): Long = (x << r) | (x >>> (64 - r))
    def round(acc: Long, in: Long): Long =
      rotl(acc + in * P2, 31) * P1
    def merge(acc: Long, v: Long): Long =
      (acc ^ round(0L, v)) * P1 + P4
    val len = until - from
    var p = from
    var h =
      if (len >= 32) {
        var v1 = seed + P1 + P2
        var v2 = seed + P2
        var v3 = seed
        var v4 = seed - P1
        while (p + 32 <= until) {
          v1 = round(v1, Bin.u64le(b, p, until))
          v2 = round(v2, Bin.u64le(b, p + 8, until))
          v3 = round(v3, Bin.u64le(b, p + 16, until))
          v4 = round(v4, Bin.u64le(b, p + 24, until))
          p += 32
        }
        var acc = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
        acc = merge(acc, v1); acc = merge(acc, v2)
        acc = merge(acc, v3); acc = merge(acc, v4)
        acc
      } else seed + P5
    h += len
    while (p + 8 <= until) {
      h = rotl(h ^ round(0L, Bin.u64le(b, p, until)), 27) * P1 + P4; p += 8
    }
    if (p + 4 <= until) {
      h = rotl(h ^ (Bin.u32le(b, p, until) * P1), 23) * P2 + P3; p += 4
    }
    while (p < until) { h = rotl(h ^ ((b(p) & 0xffL) * P5), 11) * P1; p += 1 }
    h ^= h >>> 33; h *= P2; h ^= h >>> 29; h *= P3; h ^= h >>> 32
    h
  }

  // ------------------------------------------------------ bitstreams

  /** Backward bitstream (RFC 8878 §3.1.1.1): the writer appends a
    * sentinel 1 bit then zero-pads to a byte; the reader locates the
    * sentinel in the LAST byte and reads fields in reverse write
    * order. Reads past the start zero-pad at the LOW side and drive
    * `remaining` negative — the reference's end-of-stream convention
    * the interleaved FSE weight flush relies on. */
  private final class BackBits(b: Array[Byte], from: Int, until: Int) {
    require(until > from, "zstd: empty backward bitstream")
    private val lastByte = b(until - 1) & 0xff
    require(lastByte != 0, "zstd: backward bitstream lacks its sentinel")
    private var pos =
      8 * (until - 1 - from) + (31 - Integer.numberOfLeadingZeros(lastByte))
    def remaining: Int = pos
    def peek(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        val j = pos - n + i
        if (j >= 0) v |= ((b(from + (j >> 3)) >> (j & 7)) & 1) << i
        i += 1
      }
      v
    }
    def skip(n: Int): Unit = pos -= n
    def read(n: Int): Int = { val v = peek(n); pos -= n; v }
  }

  /** Backward bit writer: collects fields in DECODER READ ORDER, then
    * emits them reversed through the forward little-endian packer and
    * appends the sentinel bit. */
  private final class BackWriter {
    private val fields =
      collection.mutable.ArrayBuffer.empty[(Int, Int)]
    def add(v: Int, n: Int): Unit = {
      require(n >= 0 && n <= 31 && (n == 31 || v < (1 << n)) && v >= 0,
        s"zstd: bad backward field ($v, $n)")
      if (n > 0) fields += ((v, n))
    }
    def finish(): Array[Byte] = {
      val fw = new Bin.LsbWriter
      fields.reverseIterator.foreach { case (v, n) => fw.u(v, n) }
      fw.u(1, 1) // sentinel
      fw.toBytes
    }
  }

  // ------------------------------------------------------------- FSE

  private final case class FseTable(log: Int, symbol: Array[Int],
      nbBits: Array[Int], base: Array[Int]) {
    def size: Int = symbol.length
  }

  /** Build an FSE decode table from normalized counts (RFC 8878
    * §4.1.1): "-1" symbols take single cells from the table's top,
    * the rest spread with the (size/2 + size/8 + 3) step. */
  private def fseBuild(norm: Array[Int], log: Int): FseTable = {
    require(log >= 1 && log <= 12, s"zstd: FSE accuracy log $log")
    val size = 1 << log
    val total = norm.map(n => if (n == -1) 1L else math.max(n, 0).toLong).sum
    require(total == size,
      s"zstd: normalized counts sum to $total, not $size")
    val symbol = new Array[Int](size)
    var highThreshold = size - 1
    for (s <- norm.indices if norm(s) == -1) {
      symbol(highThreshold) = s
      highThreshold -= 1
    }
    val step = (size >> 1) + (size >> 3) + 3
    val mask = size - 1
    var pos = 0
    for (s <- norm.indices if norm(s) > 0; _ <- 0 until norm(s)) {
      symbol(pos) = s
      pos = (pos + step) & mask
      while (pos > highThreshold) pos = (pos + step) & mask
    }
    require(pos == 0, "zstd: FSE symbol spread did not close")
    val next = norm.map(n => if (n == -1) 1 else n)
    val nb = new Array[Int](size)
    val base = new Array[Int](size)
    var u = 0
    while (u < size) {
      val s = symbol(u)
      val x = next(s); next(s) += 1
      val bits = log - (31 - Integer.numberOfLeadingZeros(x))
      nb(u) = bits
      base(u) = (x << bits) - size
      u += 1
    }
    FseTable(log, symbol, nb, base)
  }

  /** A one-cell table for RLE sequence streams: log 0 semantics —
    * zero state bits, zero update bits, one symbol. */
  private def fseRle(sym: Int): FseTable =
    FseTable(0, Array(sym), Array(0), Array(0))

  /** Read an FSE table description (forward bitstream): returns
    * (normalized counts, accuracy log, bytes consumed). */
  private def fseReadNCount(b: Array[Byte], from: Int, until: Int,
      maxSymbol: Int, maxLog: Int): (Array[Int], Int, Int) = {
    val fb = new Bin.LsbReader(b, from, until,
      "zstd: FSE table description") // low-bit-first, RFC 8878 §4.1.1
    val log = fb.u(4) + 5
    require(log <= maxLog, s"zstd: FSE accuracy log $log exceeds $maxLog")
    val size = 1 << log
    var remaining = size + 1
    var threshold = size
    var nbBits = log + 1
    val norm = collection.mutable.ArrayBuffer.empty[Int]
    while (remaining > 1) {
      require(norm.size <= maxSymbol,
        s"zstd: FSE table describes symbols beyond $maxSymbol")
      val max = (threshold << 1) - 1 - remaining
      var count = fb.u(nbBits - 1)
      if (count >= max) {
        count |= fb.u(1) << (nbBits - 1)
        if (count >= threshold) count -= max
      }
      count -= 1 // 0 encodes "-1" (less-than-one probability)
      val weight = if (count < 0) -count else count
      require(weight <= remaining - 1 || (count < 0 && weight == 1),
        s"zstd: FSE count $count exceeds the remaining budget")
      remaining -= weight
      require(remaining >= 1, "zstd: FSE counts overran the table size")
      norm += count
      if (count == 0) {
        var rep = fb.u(2)
        var zeros = rep
        while (rep == 3) { rep = fb.u(2); zeros += rep }
        require(norm.size + zeros <= maxSymbol + 1,
          "zstd: FSE zero-repeat run overruns the symbol range")
        (0 until zeros).foreach(_ => norm += 0)
      }
      while (remaining < threshold) { threshold >>= 1; nbBits -= 1 }
    }
    require(remaining == 1, "zstd: FSE counts did not close the table")
    (norm.toArray, log, ((fb.bitPos + 7) >> 3).toInt - from)
  }

  /** Write an FSE table description — the exact mirror of
    * fseReadNCount, used by the fixture encoder. */
  private def fseWriteNCount(norm: Array[Int], log: Int): Array[Byte] = {
    val fw = new Bin.LsbWriter
    fw.u(log - 5, 4)
    val size = 1 << log
    var remaining = size + 1
    var threshold = size
    var nbBits = log + 1
    var i = 0
    while (remaining > 1) {
      require(i < norm.length, "zstd: counts exhausted before the table")
      val max = (threshold << 1) - 1 - remaining
      val coded = norm(i) + 1
      if (coded < max) fw.u(coded, nbBits - 1)
      else if (coded < threshold) fw.u(coded, nbBits)
      else fw.u(coded + max, nbBits)
      val c = norm(i)
      remaining -= (if (c < 0) -c else c)
      if (c == 0) {
        var run = 0
        while (i + 1 + run < norm.length && norm(i + 1 + run) == 0) run += 1
        i += run
        var rem = run
        var continue = true
        while (continue) {
          val chunk = math.min(rem, 3)
          fw.u(chunk, 2)
          rem -= chunk
          continue = chunk == 3
        }
      }
      i += 1
      while (remaining < threshold) { threshold >>= 1; nbBits -= 1 }
    }
    require(remaining == 1, "zstd: encoder counts did not close")
    fw.toBytes
  }

  /** Encode one FSE symbol chain (the inverse table walk): pick the
    * last symbol's cell freely, then walk backward choosing for each
    * earlier symbol the unique cell whose baseline range contains the
    * next state. Returns the initial state plus the per-step
    * (value, nbBits) fields in decoder read order. */
  private def fseEncodeChain(t: FseTable,
      syms: Array[Int]): (Int, Array[(Int, Int)]) = {
    if (t.log == 0) return (0, Array.fill(syms.length - 1)((0, 0)))
    def cellsOf(s: Int): Array[Int] =
      t.symbol.indices.filter(t.symbol(_) == s).toArray
    var state = {
      val cs = cellsOf(syms.last)
      require(cs.nonEmpty, s"zstd: symbol ${syms.last} absent from table")
      cs(0)
    }
    val steps = new Array[(Int, Int)](syms.length - 1)
    var i = syms.length - 2
    while (i >= 0) {
      val cs = cellsOf(syms(i))
      require(cs.nonEmpty, s"zstd: symbol ${syms(i)} absent from table")
      val cell = cs.find(c =>
        t.base(c) <= state && state < t.base(c) + (1 << t.nbBits(c)))
        .getOrElse(throw new IllegalStateException(
          s"zstd: no cell of ${syms(i)} reaches state $state"))
      steps(i) = (state - t.base(cell), t.nbBits(cell))
      state = cell
      i -= 1
    }
    (state, steps)
  }

  // --------------------------------------------------------- Huffman

  private final case class HuffTable(log: Int, symbol: Array[Int],
      nbBits: Array[Int], codeOf: Map[Int, (Int, Int)])

  /** Build the canonical Huffman decode table from EXPLICIT weights
    * (the last symbol's weight is implicit — it completes the 2^w-1
    * sum to the next power of two). Cells are filled weight-ascending
    * (longest codes at the low indices), symbols in natural order
    * within a weight — the reference layout. */
  private def huffBuild(weights: Array[Int]): HuffTable = {
    var sum = 0L
    weights.foreach { w =>
      require(w >= 0 && w <= 11, s"zstd: Huffman weight $w out of range")
      if (w > 0) sum += 1L << (w - 1)
    }
    require(sum > 0, "zstd: Huffman weights sum to zero")
    val log = (63 - java.lang.Long.numberOfLeadingZeros(sum)).toInt + 1
    require(log <= 11, s"zstd: Huffman table log $log exceeds 11")
    val rest = (1L << log) - sum
    require(java.lang.Long.bitCount(rest) == 1,
      "zstd: Huffman weights do not complete a power of two")
    val lastW = java.lang.Long.numberOfTrailingZeros(rest).toInt + 1
    val all = weights :+ lastW
    val size = 1 << log
    val symbol = new Array[Int](size)
    val nb = new Array[Int](size)
    // rankVal[w] = first cell of weight w = sum of lower-weight spans
    val maxW = 11
    val count = new Array[Int](maxW + 1)
    all.foreach(w => if (w > 0) count(w) += 1)
    val rankVal = new Array[Int](maxW + 2)
    var w = 1
    while (w <= maxW) { rankVal(w + 1) = rankVal(w) + (count(w) << (w - 1)); w += 1 }
    var codes = Map.empty[Int, (Int, Int)]
    for (s <- all.indices if all(s) > 0) {
      val ww = all(s)
      val span = 1 << (ww - 1)
      val start = rankVal(ww)
      rankVal(ww) += span
      val bits = log + 1 - ww
      var u = start
      while (u < start + span) { symbol(u) = s; nb(u) = bits; u += 1 }
      codes += s -> (start >> (log - bits), bits)
    }
    HuffTable(log, symbol, nb, codes)
  }

  /** Read a Huffman tree description: direct 4-bit weights when the
    * header byte is >= 128, else an FSE-compressed weight stream
    * decoded with two interleaved states over a backward bitstream.
    * Returns (table, bytes consumed). */
  private def huffRead(b: Array[Byte], off: Int,
      end: Int): (HuffTable, Int) = {
    require(off < end, "zstd: truncated Huffman tree description")
    val h = b(off) & 0xff
    if (h >= 128) {
      val n = h - 127
      val nBytes = (n + 1) / 2
      Bin.checkRange(off + 1, nBytes, end, "zstd: truncated direct weights")
      val ws = new Array[Int](n)
      var i = 0
      while (i < n) {
        val byte = b(off + 1 + i / 2) & 0xff
        ws(i) = if (i % 2 == 0) byte >> 4 else byte & 0xf
        i += 1
      }
      (huffBuild(ws), 1 + nBytes)
    } else {
      Bin.checkRange(off + 1, h, end, "zstd: truncated FSE weight stream")
      val (norm, log, hdr) =
        fseReadNCount(b, off + 1, off + 1 + h, maxSymbol = 255, maxLog = 6)
      val t = fseBuild(norm, log)
      val bs = new BackBits(b, off + 1 + hdr, off + 1 + h)
      var s1 = bs.read(log)
      var s2 = bs.read(log)
      val ws = collection.mutable.ArrayBuffer.empty[Int]
      var done = false
      while (!done) {
        require(ws.size <= 255, "zstd: Huffman weight stream bomb")
        ws += t.symbol(s1)
        s1 = t.base(s1) + bs.read(t.nbBits(s1))
        if (bs.remaining < 0) { ws += t.symbol(s2); done = true }
        else {
          ws += t.symbol(s2)
          s2 = t.base(s2) + bs.read(t.nbBits(s2))
          if (bs.remaining < 0) { ws += t.symbol(s1); done = true }
        }
      }
      (huffBuild(ws.toArray), 1 + h)
    }
  }

  /** Decode `n` literals from one backward Huffman stream. */
  private def huffDecodeStream(b: Array[Byte], from: Int, until: Int,
      out: Array[Byte], outOff: Int, n: Int, t: HuffTable): Unit = {
    val bs = new BackBits(b, from, until)
    var i = 0
    while (i < n) {
      val v = bs.peek(t.log)
      val nb = t.nbBits(v)
      require(nb > 0 && bs.remaining >= nb,
        "zstd: Huffman literal stream exhausted mid-symbol")
      bs.skip(nb)
      out(outOff + i) = t.symbol(v).toByte
      i += 1
    }
    require(bs.remaining == 0,
      s"zstd: Huffman stream has ${bs.remaining} leftover bits")
  }

  // ------------------------------------------------------------- walk

  // ---------------------------------------------- compressed blocks

  /** Growable frame buffer with random access — sequence matches
    * reference anything decoded earlier in the frame, so the buffer
    * IS the window. Overlapping matches copy byte-by-byte forward
    * (the repetition idiom RLE-style offsets rely on). */
  private final class ByteBuf(initial: Int = 4096) {
    var a = new Array[Byte](initial)
    var len = 0
    private def ensure(n: Int): Unit =
      if (len + n > a.length) {
        val na = new Array[Byte](math.max(a.length * 2, len + n))
        System.arraycopy(a, 0, na, 0, len)
        a = na
      }
    def append(src: Array[Byte], off: Int, n: Int): Unit = {
      ensure(n); System.arraycopy(src, off, a, len, n); len += n
    }
    def appendByte(v: Byte, n: Int): Unit = {
      ensure(n); java.util.Arrays.fill(a, len, len + n, v); len += n
    }
    def matchCopy(offset: Int, n: Int): Unit = {
      ensure(n)
      var i = 0
      val src = len - offset
      while (i < n) { a(len + i) = a(src + i); i += 1 }
      len += n
    }
    def toArray: Array[Byte] = java.util.Arrays.copyOf(a, len)
  }

  /** Per-frame decoder state: the repeat-offset history, the last
    * Huffman table (Treeless literals), the last FSE tables (Repeat
    * sequence modes). */
  private final class FrameState {
    var huff: Option[HuffTable] = None
    var llT: Option[FseTable] = None
    var ofT: Option[FseTable] = None
    var mlT: Option[FseTable] = None
    var rep1 = 1L; var rep2 = 4L; var rep3 = 8L
  }

  private final case class Lits(bytes: Array[Byte], consumed: Int)

  /** Literals section of a compressed block (§3.1.1.3.1): Raw / RLE /
    * Compressed (new Huffman tree) / Treeless (reuse), one- and
    * four-stream layouts. Updates st.huff on Compressed. */
  private def decodeLiterals(b: Array[Byte], off: Int, end: Int,
      st: FrameState): Lits = {
    require(off < end, "zstd: truncated literals section")
    val b0 = b(off) & 0xff
    val tpe = b0 & 3
    val sf = (b0 >> 2) & 3
    def u8(i: Int): Int = Bin.u8(b, i, end, "zstd: literals header")
    if (tpe <= 1) {
      val (regen, hdr) = sf match {
        case 0 | 2 => (b0 >> 3, 1)
        case 1 => ((b0 >> 4) | (u8(off + 1) << 4), 2)
        case _ => ((b0 >> 4) | (u8(off + 1) << 4) | (u8(off + 2) << 12), 3)
      }
      require(regen <= (1 << 17),
        s"zstd: literals regenerate $regen bytes — beyond the 128 KB block limit")
      if (tpe == 0) {
        Bin.checkRange(off + hdr, regen, end,
          "zstd: raw literals overrun the block")
        Lits(java.util.Arrays.copyOfRange(b, off + hdr, off + hdr + regen),
          hdr + regen)
      } else {
        require(off + hdr + 1 <= end, "zstd: RLE literals missing their byte")
        Lits(Array.fill(regen)(b(off + hdr)), hdr + 1)
      }
    } else {
      val (regen, comp, hdr, streams) = sf match {
        case 0 => ((b0 >> 4) | ((u8(off + 1) & 0x3f) << 4),
          (u8(off + 1) >> 6) | (u8(off + 2) << 2), 3, 1)
        case 1 => ((b0 >> 4) | ((u8(off + 1) & 0x3f) << 4),
          (u8(off + 1) >> 6) | (u8(off + 2) << 2), 3, 4)
        case 2 => ((b0 >> 4) | (u8(off + 1) << 4) | ((u8(off + 2) & 0x3) << 12),
          (u8(off + 2) >> 2) | (u8(off + 3) << 6), 4, 4)
        case _ => ((b0 >> 4) | (u8(off + 1) << 4) | ((u8(off + 2) & 0x3f) << 12),
          (u8(off + 2) >> 6) | (u8(off + 3) << 2) | (u8(off + 4) << 10), 5, 4)
      }
      require(regen <= (1 << 17),
        s"zstd: literals regenerate $regen bytes — beyond the 128 KB block limit")
      Bin.checkRange(off + hdr, comp, end,
        "zstd: compressed literals overrun the block")
      var p = off + hdr
      val streamsEnd = off + hdr + comp
      if (tpe == 2) {
        val (t, c) = huffRead(b, p, streamsEnd)
        st.huff = Some(t)
        p += c
      }
      val huff = st.huff.getOrElse(throw new IllegalArgumentException(
        "zstd: Treeless literals with no previous Huffman table in frame"))
      val out = new Array[Byte](regen)
      if (streams == 1) huffDecodeStream(b, p, streamsEnd, out, 0, regen, huff)
      else {
        require(p + 6 <= streamsEnd, "zstd: truncated literals jump table")
        val s1 = Bin.u16le(b, p, streamsEnd)
        val s2 = Bin.u16le(b, p + 2, streamsEnd)
        val s3 = Bin.u16le(b, p + 4, streamsEnd)
        p += 6
        val r1 = (regen + 3) / 4
        val r4 = regen - 3 * r1
        require(r4 > 0, "zstd: four-stream literals with an empty stream")
        val q1 = p + s1; val q2 = q1 + s2; val q3 = q2 + s3
        require(q3 <= streamsEnd, "zstd: literal streams overrun the section")
        huffDecodeStream(b, p, q1, out, 0, r1, huff)
        huffDecodeStream(b, q1, q2, out, r1, r1, huff)
        huffDecodeStream(b, q2, q3, out, 2 * r1, r1, huff)
        huffDecodeStream(b, q3, streamsEnd, out, 3 * r1, r4, huff)
      }
      Lits(out, hdr + comp)
    }
  }

  // LL/ML code tables (§3.1.1.3.2.1.1): baseline + extra-bit widths.
  private val LLBase = Array(
    0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
    16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512, 1024,
    2048, 4096, 8192, 16384, 32768, 65536)
  private val LLBits = Array(
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)
  private val MLBase = Array(
    3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19, 20,
    21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34,
    35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259, 515, 1027,
    2051, 4099, 8195, 16387, 32771, 65539)
  private val MLBits = Array(
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

  // Predefined FSE distributions (§3.1.1.3.2.2).
  private val LLDefNorm = Array(
    4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1, 2, 2, 2, 2, 2, 2,
    2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1)
  private val MLDefNorm = Array(
    1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, -1, -1, -1, -1, -1, -1, -1)
  private val OFDefNorm = Array(
    1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, -1, -1, -1, -1, -1)

  /** Sequences section: count header, per-stream compression modes
    * (Predefined / RLE / FSE_Compressed / Repeat), then the backward
    * bitstream interleaving state reads and extra bits. Returns the
    * decoded (litLen, matchLen, offsetValue) triples; table state is
    * updated on st for Repeat mode. */
  private def decodeSequencesSection(b: Array[Byte], off: Int, end: Int,
      st: FrameState): Array[(Int, Int, Long)] = {
    require(off < end, "zstd: truncated sequences section")
    val b0 = b(off) & 0xff
    var p = off
    val nbSeq =
      if (b0 == 0) { return Array.empty }
      else if (b0 < 128) { p += 1; b0 }
      else if (b0 < 255) {
        require(p + 2 <= end, "zstd: truncated sequence count")
        val v = ((b0 - 128) << 8) | (b(p + 1) & 0xff); p += 2; v
      } else {
        require(p + 3 <= end, "zstd: truncated sequence count")
        val v = (Bin.u16le(b, p + 1, b.length)) + 0x7f00
        p += 3; v
      }
    require(nbSeq <= (1 << 17), s"zstd: implausible sequence count $nbSeq")
    require(p < end, "zstd: sequences lack their modes byte")
    val modes = b(p) & 0xff; p += 1
    require((modes & 3) == 0, "zstd: reserved sequence-mode bits set")
    def table(mode: Int, defNorm: Array[Int], defLog: Int, maxSym: Int,
        maxLog: Int, prev: Option[FseTable], name: String): FseTable =
      mode match {
        case 0 => fseBuild(defNorm, defLog)
        case 1 =>
          require(p < end, s"zstd: $name RLE mode missing its symbol")
          val sym = b(p) & 0xff; p += 1
          require(sym <= maxSym, s"zstd: $name RLE symbol $sym > $maxSym")
          fseRle(sym)
        case 2 =>
          val (norm, log, c) = fseReadNCount(b, p, end, maxSym, maxLog)
          p += c
          fseBuild(norm, log)
        case _ => prev.getOrElse(throw new IllegalArgumentException(
          s"zstd: $name Repeat mode with no previous table in frame"))
      }
    val llT = table((modes >> 6) & 3, LLDefNorm, 6, 35, 9, st.llT, "LL")
    val ofT = table((modes >> 4) & 3, OFDefNorm, 5, 31, 8, st.ofT, "OF")
    val mlT = table((modes >> 2) & 3, MLDefNorm, 6, 52, 9, st.mlT, "ML")
    st.llT = Some(llT); st.ofT = Some(ofT); st.mlT = Some(mlT)
    val bs = new BackBits(b, p, end)
    var sLL = bs.read(llT.log)
    var sOF = bs.read(ofT.log)
    var sML = bs.read(mlT.log)
    val out = new Array[(Int, Int, Long)](nbSeq)
    var i = 0
    while (i < nbSeq) {
      val ofCode = ofT.symbol(sOF)
      require(ofCode <= 31, s"zstd: offset code $ofCode out of range")
      val ofVal = (1L << ofCode) +
        (if (ofCode > 0) bs.read(ofCode).toLong & 0xffffffffL else 0L)
      val mlCode = mlT.symbol(sML)
      require(mlCode <= 52, s"zstd: match-length code $mlCode out of range")
      val ml = MLBase(mlCode) +
        (if (MLBits(mlCode) > 0) bs.read(MLBits(mlCode)) else 0)
      val llCode = llT.symbol(sLL)
      require(llCode <= 35, s"zstd: literal-length code $llCode out of range")
      val ll = LLBase(llCode) +
        (if (LLBits(llCode) > 0) bs.read(LLBits(llCode)) else 0)
      out(i) = (ll, ml, ofVal)
      i += 1
      if (i < nbSeq) {
        sLL = llT.base(sLL) + bs.read(llT.nbBits(sLL))
        sML = mlT.base(sML) + bs.read(mlT.nbBits(sML))
        sOF = ofT.base(sOF) + bs.read(ofT.nbBits(sOF))
        require(bs.remaining >= 0, "zstd: sequence bitstream exhausted early")
      }
    }
    require(bs.remaining == 0,
      s"zstd: sequence bitstream has ${bs.remaining} leftover bits")
    out
  }

  /** Decode one compressed block into the frame buffer: literals,
    * sequences, then execution with the three-slot repeat-offset
    * history (including the LL==0 rotation and the rep1-1 case).
    * Returns the number of sequences executed. */
  private def decodeCompressedBlock(b: Array[Byte], off: Int, size: Int,
      st: FrameState, buf: ByteBuf, cap: Long, windowSize: Long): Int = {
    val end = off + size
    val startLen = buf.len
    val lits = decodeLiterals(b, off, end, st)
    val seqs = decodeSequencesSection(b, off + lits.consumed, end, st)
    val litBytes = lits.bytes
    var litPos = 0
    seqs.foreach { case (ll, ml, ofVal) =>
      Bin.checkRange(litPos, ll, litBytes.length, "zstd: sequence literals")
      buf.append(litBytes, litPos, ll)
      litPos += ll
      val offset: Long =
        if (ofVal > 3) {
          val o = ofVal - 3
          st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = o
          o
        } else {
          val idx = if (ll == 0) ofVal + 1 else ofVal
          idx match {
            case 1 => st.rep1
            case 2 =>
              val t = st.rep2; st.rep2 = st.rep1; st.rep1 = t; t
            case 3 =>
              val t = st.rep3; st.rep3 = st.rep2; st.rep2 = st.rep1
              st.rep1 = t; t
            case _ =>
              val t = st.rep1 - 1
              require(t > 0, "zstd: repeat-offset underflow (rep1 - 1 = 0)")
              st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = t; t
          }
        }
      require(offset > 0 && offset <= buf.len,
        s"zstd: match offset $offset outside the ${buf.len}-byte window")
      // RFC 8878 §3.1.1.1.2: offsets may never exceed the DECLARED
      // window — a stream that needs more history than it announced
      // is corrupt even when this in-memory decoder happens to hold
      // it (the reference codec rejects it the same way)
      require(offset <= windowSize,
        s"zstd: match offset $offset exceeds the declared " +
          s"$windowSize-byte window")
      require(buf.len + ml <= cap,
        s"zstd: decoded content would exceed $cap bytes — match bomb")
      buf.matchCopy(offset.toInt, ml)
    }
    val tail = litBytes.length - litPos
    require(buf.len + tail <= cap,
      s"zstd: decoded content would exceed $cap bytes")
    buf.append(litBytes, litPos, tail)
    require(buf.len - startLen <= (1 << 17),
      "zstd: block decodes past the 128 KB block limit")
    seqs.length
  }

  final case class ZstdInfo(nFrames: Int, nSkippable: Int, nBlocks: Int,
      nRleBlocks: Int, contentBytes: Long, contentSum: Long,
      checksummed: Int, dictId: Long, nCompressedBlocks: Int,
      nSequences: Int)

  // ------------------------------------------------------- dictionary

  /** Parsed zstd dictionary (RFC 8878 §5). A STRUCTURED dictionary
    * (magic 0xEC30A437) carries its id, entropy tables in the order
    * Huffman-for-literals / OF / ML / LL, three initial repeat
    * offsets, then content; a blob WITHOUT the magic is a raw
    * content-only dictionary (the reference codec's rawContent mode):
    * window history only, default tables and {1,4,8} offsets. */
  private final class Dict(
      val id: Long,
      val huff: Option[HuffTable],
      val llT: Option[FseTable],
      val ofT: Option[FseTable],
      val mlT: Option[FseTable],
      val rep1: Long, val rep2: Long, val rep3: Long,
      val content: Array[Byte])

  private val DictMagic = 0xEC30A437L

  private def parseDict(b: Array[Byte]): Dict = {
    require(b.length >= 8, "zstd: dictionary too short for its header")
    if (Bin.u32le(b, 0, b.length, "zstd stream") != DictMagic)
      // raw content-only dictionary: no id, no tables, default offsets
      return new Dict(0L, None, None, None, None, 1L, 4L, 8L, b.clone())
    val id = Bin.u32le(b, 4, b.length, "zstd stream")
    require(id != 0L, "zstd: structured dictionary with id 0")
    var pos = 8
    val (huff, hc) = huffRead(b, pos, b.length)
    pos += hc
    // FSE tables in dictionary order: Offsets, Match_Lengths,
    // Literals_Lengths (RFC 8878 §5) — same max symbol/log bounds as
    // the block-level Repeat modes they seed
    val (ofNorm, ofLog, c1) = fseReadNCount(b, pos, b.length, 31, 8)
    pos += c1
    val (mlNorm, mlLog, c2) = fseReadNCount(b, pos, b.length, 52, 9)
    pos += c2
    val (llNorm, llLog, c3) = fseReadNCount(b, pos, b.length, 35, 9)
    pos += c3
    require(pos + 12 <= b.length,
      "zstd: dictionary truncated before its repeat offsets")
    val r1 = Bin.u32le(b, pos, b.length, "zstd stream")
    val r2 = Bin.u32le(b, pos + 4, b.length, "zstd stream")
    val r3 = Bin.u32le(b, pos + 8, b.length, "zstd stream")
    pos += 12
    val content = java.util.Arrays.copyOfRange(b, pos, b.length)
    // RFC 8878 §5: each repeat offset must be smaller than or equal
    // to the dictionary content size, and non-zero
    Seq(r1, r2, r3).foreach(r => require(r >= 1 && r <= content.length,
      s"zstd: dictionary repeat offset $r outside its " +
        s"${content.length}-byte content"))
    new Dict(id, Some(huff), Some(fseBuild(llNorm, llLog)),
      Some(fseBuild(ofNorm, ofLog)), Some(fseBuild(mlNorm, mlLog)),
      r1, r2, r3, content)
  }

  /** Walk a stream whose compressed blocks may inherit state from the
    * given dictionary (entropy tables, repeat offsets, and window
    * history — all three RFC 8878 §5 channels). */
  def walk(bytes: Array[Byte], dict: Array[Byte]): ZstdInfo =
    walkImpl(bytes, Some(parseDict(dict)))

  /** Opaque PARSED dictionary handle — the partition-level reuse
    * shape (VERDICT r17 #6): at 100 TB a trained dictionary is a
    * table/shard artifact, so its entropy tables are parsed ONCE per
    * partition and reused across every frame in it, not re-read per
    * row. sharedDictFeatures below is the canonical consumer. */
  final class ParsedDict private[Zstd] (private[Zstd] val dict: Dict)

  def parseDictionary(b: Array[Byte]): ParsedDict =
    new ParsedDict(parseDict(b))

  def walk(bytes: Array[Byte], dict: ParsedDict): ZstdInfo =
    walkImpl(bytes, Some(dict.dict))

  def walk(bytes: Array[Byte]): ZstdInfo = walkImpl(bytes, None)

  private def walkImpl(bytes: Array[Byte], dict: Option[Dict]): ZstdInfo = {
    var pos = 0
    var nFrames = 0
    var nSkip = 0
    var nBlocks = 0
    var nRle = 0
    var nCompressed = 0
    var nSequences = 0
    var content = 0L
    var contentSum = 0L
    var checksummed = 0
    var dictId = -1L
    while (pos < bytes.length) {
      val magic = Bin.u32le(bytes, pos, bytes.length, "zstd stream")
      if ((magic & 0xfffffff0L) == 0x184D2A50L) {
        // skippable frame: magic + u32 size + payload, never decoded
        val sz = Bin.u32le(bytes, pos + 4, bytes.length, "zstd stream")
        Bin.checkRange(pos + 8, sz, bytes.length,
          "skippable frame overruns the stream")
        nSkip += 1
        pos += 8 + sz.toInt
      } else {
        require(magic == 0xFD2FB528L,
          f"bad zstd magic 0x$magic%08x at offset $pos")
        pos += 4
        require(pos < bytes.length, "zstd frame header truncated")
        val fhd = bytes(pos) & 0xff
        pos += 1
        require((fhd & 0x08) == 0, "reserved frame-header bit set")
        val singleSegment = (fhd & 0x20) != 0
        val checksumFlag = (fhd & 0x04) != 0
        val didSize = Array(0, 1, 2, 4)(fhd & 0x3)
        val fcsFlag = (fhd >> 6) & 0x3
        // window descriptor (RFC 8878 §3.1.1.1.2): exponent/mantissa
        // → Window_Size. PARSED, not skipped: match offsets are
        // bounded by the declared window below, and a window beyond
        // the in-memory walk bound is rejected by name. Single-
        // segment frames have no descriptor — their window IS the
        // content, which the buf.len containment already enforces.
        var windowSize = Long.MaxValue
        if (!singleSegment) {
          val wd = bytes(pos) & 0xff; pos += 1
          val wlog = 10 + (wd >> 3)
          require(wlog <= 30,
            s"zstd: declared window 2^$wlog exceeds the 1 GiB " +
              "in-memory walk bound")
          val base = 1L << wlog
          windowSize = base + (base >> 3) * (wd & 7)
        }
        var frameDid = 0L
        if (didSize > 0) {
          var v = 0L
          (0 until didSize).foreach(i =>
            v |= (bytes(pos + i) & 0xffL) << (8 * i))
          if (dictId < 0) dictId = v
          frameDid = v
          pos += didSize
        }
        dict.foreach { dd =>
          require(frameDid == 0L || dd.id == 0L || dd.id == frameDid,
            s"zstd: frame references dictionary $frameDid but " +
              s"dictionary ${dd.id} was supplied")
        }
        val fcsSize =
          if (fcsFlag == 0) (if (singleSegment) 1 else 0)
          else Array(0, 2, 4, 8)(fcsFlag)
        var fcs = -1L
        if (fcsSize > 0) {
          var v = 0L
          (0 until fcsSize).foreach(i =>
            v |= (bytes(pos + i) & 0xffL) << (8 * i))
          if (fcsSize == 2) v += 256 // the spec's 2-byte bias
          fcs = v
          pos += fcsSize
        }
        // blocks. RLE and match amplification are the bomb vectors: a
        // 4-byte block legally expands to 2^21 bytes, and sequences
        // multiply further — cap the decoded size at 4096x the input
        // plus slack and fail loudly (the Flac/Pdf bomb posture)
        val contentCap = bytes.length.toLong * 4096 + (1L << 20)
        val buf = new ByteBuf()
        val st = new FrameState
        // seed all three dictionary channels: window history, entropy
        // tables (Treeless / Repeat modes), initial repeat offsets
        var histLen = 0
        dict.foreach { dd =>
          st.huff = dd.huff
          st.llT = dd.llT; st.ofT = dd.ofT; st.mlT = dd.mlT
          st.rep1 = dd.rep1; st.rep2 = dd.rep2; st.rep3 = dd.rep3
          buf.append(dd.content, 0, dd.content.length)
          histLen = dd.content.length
        }
        val frameCap = contentCap - content + histLen
        var last = false
        while (!last) {
          require(pos + 3 <= bytes.length, s"truncated block header at $pos")
          val hdr = Bin.u24le(bytes, pos, bytes.length)
          pos += 3
          last = (hdr & 1) == 1
          val btype = (hdr >> 1) & 0x3
          val bsize = hdr >>> 3
          require(buf.len + bsize <= frameCap,
            s"decoded content would exceed ${contentCap} bytes from a " +
              s"${bytes.length}-byte stream — RLE bomb")
          nBlocks += 1
          btype match {
            case 0 =>
              Bin.checkRange(pos, bsize, bytes.length,
                "raw block overruns the stream")
              buf.append(bytes, pos, bsize)
              pos += bsize
            case 1 =>
              require(pos < bytes.length, "RLE block missing its byte")
              nRle += 1
              buf.appendByte(bytes(pos), bsize)
              pos += 1
            case 2 =>
              Bin.checkRange(pos, bsize, bytes.length,
                "compressed block overruns the stream")
              // a dictionary-fed frame's compressed blocks inherit
              // entropy tables / repeat offsets / window history from
              // the dictionary — decoding without it would either fail
              // with a misleading error or silently produce wrong
              // content (ADVICE r16), so the no-dictionary walk
              // rejects them by name instead
              require(frameDid == 0L || dict.nonEmpty,
                s"zstd: compressed blocks in a dictionary-fed frame " +
                  s"(id $frameDid) need their dictionary — none supplied")
              nCompressed += 1
              nSequences +=
                decodeCompressedBlock(bytes, pos, bsize, st, buf,
                  frameCap, windowSize)
              pos += bsize
            case _ =>
              throw new IllegalArgumentException("reserved block type 3")
          }
        }
        val full = buf.toArray
        // the dictionary history prefix is NOT frame content: FCS,
        // checksum, and the content ledgers all cover what the frame
        // itself decoded
        val fc =
          if (histLen == 0) full
          else java.util.Arrays.copyOfRange(full, histLen, full.length)
        require(fcs < 0 || fcs == fc.length,
          s"frame declares $fcs content bytes but decodes to ${fc.length}")
        if (checksumFlag) {
          val stored = Bin.u32le(bytes, pos, bytes.length, "zstd stream")
          pos += 4
          val computed = xxh64(fc, 0, fc.length, 0L) & 0xffffffffL
          require(stored == computed,
            f"zstd content checksum 0x$stored%08x != XXH64 0x$computed%08x")
          checksummed += 1
        }
        nFrames += 1
        content += fc.length
        fc.foreach(b => contentSum += b & 0xff)
      }
    }
    require(nFrames > 0, "stream carries no zstd data frames")
    ZstdInfo(nFrames, nSkip, nBlocks, nRle, content, contentSum,
      checksummed, dictId, nCompressed, nSequences)
  }

  /** Decode a whole stream to its raw content bytes (all frames
    * concatenated) — the ZstdSpec conformance surface against the
    * bundled reference codec. */
  def decompress(bytes: Array[Byte]): Array[Byte] =
    decompressImpl(bytes, None)

  /** Dictionary-fed decode — same inheritance channels as
    * walk(bytes, dict). */
  def decompress(bytes: Array[Byte], dict: Array[Byte]): Array[Byte] =
    decompressImpl(bytes, Some(parseDict(dict)))

  private def decompressImpl(bytes: Array[Byte],
      dict: Option[Dict]): Array[Byte] = {
    // re-walk, capturing content: walk() validates; this returns bytes
    var pos = 0
    val out = new java.io.ByteArrayOutputStream()
    while (pos < bytes.length) {
      val magic = Bin.u32le(bytes, pos, bytes.length, "zstd stream")
      if ((magic & 0xfffffff0L) == 0x184D2A50L) {
        // Long math + containment: a crafted >= 2^31 skippable size
        // went negative under .toInt and walked pos BACKWARD forever
        // (ADVICE r16) — mirror walk()'s guard
        val sz = Bin.u32le(bytes, pos + 4, bytes.length, "zstd stream")
        Bin.checkRange(pos + 8, sz, bytes.length,
          "skippable frame overruns the stream")
        pos += 8 + sz.toInt
      } else {
        require(magic == 0xFD2FB528L, f"bad zstd magic 0x$magic%08x")
        pos += 4
        val fhd = bytes(pos) & 0xff; pos += 1
        require((fhd & 0x08) == 0, "reserved frame-header bit set")
        val singleSegment = (fhd & 0x20) != 0
        val checksumFlag = (fhd & 0x04) != 0
        val didSize = Array(0, 1, 2, 4)(fhd & 0x3)
        val fcsFlag = (fhd >> 6) & 0x3
        // same declared-window parse + bounds as walkImpl
        var windowSize = Long.MaxValue
        if (!singleSegment) {
          val wd = bytes(pos) & 0xff; pos += 1
          val wlog = 10 + (wd >> 3)
          require(wlog <= 30,
            s"zstd: declared window 2^$wlog exceeds the 1 GiB " +
              "in-memory walk bound")
          val base = 1L << wlog
          windowSize = base + (base >> 3) * (wd & 7)
        }
        var frameDid = 0L
        if (didSize > 0) {
          var v = 0L
          (0 until didSize).foreach(i =>
            v |= (bytes(pos + i) & 0xffL) << (8 * i))
          frameDid = v
          pos += didSize
        }
        dict.foreach { dd =>
          require(frameDid == 0L || dd.id == 0L || dd.id == frameDid,
            s"zstd: frame references dictionary $frameDid but " +
              s"dictionary ${dd.id} was supplied")
        }
        val fcsSize =
          if (fcsFlag == 0) (if (singleSegment) 1 else 0)
          else Array(0, 2, 4, 8)(fcsFlag)
        pos += fcsSize
        val buf = new ByteBuf()
        val st = new FrameState
        var histLen = 0
        dict.foreach { dd =>
          st.huff = dd.huff
          st.llT = dd.llT; st.ofT = dd.ofT; st.mlT = dd.mlT
          st.rep1 = dd.rep1; st.rep2 = dd.rep2; st.rep3 = dd.rep3
          buf.append(dd.content, 0, dd.content.length)
          histLen = dd.content.length
        }
        val cap = bytes.length.toLong * 4096 + (1L << 20) + histLen
        var last = false
        while (!last) {
          val hdr = Bin.u24le(bytes, pos, bytes.length)
          pos += 3
          last = (hdr & 1) == 1
          val btype = (hdr >> 1) & 0x3
          val bsize = hdr >>> 3
          btype match {
            case 0 => buf.append(bytes, pos, bsize); pos += bsize
            case 1 => buf.appendByte(bytes(pos), bsize); pos += 1
            case 2 =>
              require(frameDid == 0L || dict.nonEmpty,
                s"zstd: compressed blocks in a dictionary-fed frame " +
                  s"(id $frameDid) need their dictionary — none supplied")
              decodeCompressedBlock(bytes, pos, bsize, st, buf, cap,
                windowSize)
              pos += bsize
            case _ =>
              throw new IllegalArgumentException("reserved block type 3")
          }
        }
        if (checksumFlag) pos += 4
        val full = buf.toArray
        val fc =
          if (histLen == 0) full
          else java.util.Arrays.copyOfRange(full, histLen, full.length)
        out.write(fc, 0, fc.length)
      }
    }
    out.toByteArray
  }

  // ---------------------------------------------------------- fixture

  /** Closed-form stream: 1 + d%3 data frames (blocks alternating RAW
    * and RLE by (d+j+k)%2, 2 + (d+j)%3 blocks each), a skippable
    * frame interleaved on d%4==0, content checksums on even d,
    * a 4-byte dictionary id on d%5==0, FCS field widths rotating
    * 0/2/4/8 by frame, single-segment on (d+j)%3==0. */
  def synth(d: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val nf = (1 + d % 3).toInt
    (0 until nf).foreach { j =>
      if (d % 4 == 0 && j == 1) {
        // a skippable frame between data frames
        out.write(Bin.le32(0x184D2A50L + (d % 16)))
        val sz = (5 + d % 20).toInt
        out.write(Bin.le32(sz.toLong))
        (0 until sz).foreach(i => out.write(((d + i) % 251).toInt))
      }
      // build this frame's content blocks first
      val nb = (2 + (d + j) % 3).toInt
      val blocks = (0 until nb).map { k =>
        if ((d + j + k) % 2 == 0) {
          val len = (20 + (7 * d + 13 * k) % 100).toInt
          ("raw", Array.tabulate(len)(p => ((d + 31 * j + 17 * k + p) % 251).toByte))
        } else {
          val len = (10 + (d + k) % 50).toInt
          ("rle", Array.fill(len)(((d + j + k) % 251).toByte))
        }
      }
      val contentLen = blocks.map(_._2.length).sum
      val checksum = d % 2 == 0
      val dict = d % 5 == 0
      val single = (d + j) % 3 == 0
      val fcsFlag = (j % 4) match {
        case 0 => 0 // 1 byte when single-segment, absent otherwise
        case 1 => 1 // 2 bytes (+256 bias) — content must be >= 256
        case 2 => 2
        case _ => 3
      }
      // field-width legality: the 2-byte form cannot represent < 256
      // (the +256 bias) and the single-segment 1-byte form cannot
      // represent > 255 — both fall back to the 4-byte field
      val fcsUse = fcsFlag match {
        case 1 if contentLen < 256 => 2
        case 0 if single && contentLen > 255 => 2
        case f => f
      }
      val fhd = (fcsUse << 6) | (if (single) 0x20 else 0) |
        (if (checksum) 0x04 else 0) | (if (dict) 0x3 else 0)
      out.write(Bin.le32(0xFD2FB528L))
      out.write(fhd)
      if (!single) out.write(0x70) // window descriptor
      if (dict) out.write(Bin.le32((d % 100000) + 1))
      fcsUse match {
        case 0 => if (single) out.write(contentLen & 0xff)
        case 1 =>
          val v = contentLen - 256
          out.write(Bin.le16(v))
        case 2 => out.write(Bin.le32(contentLen.toLong))
        case _ => out.write(Bin.le32(contentLen.toLong)); out.write(Bin.le32(0L))
      }
      blocks.zipWithIndex.foreach { case ((kind, data), k) =>
        val lastBit = if (k == nb - 1) 1 else 0
        if (kind == "raw") {
          val hdr = (data.length << 3) | (0 << 1) | lastBit
          out.write(Bin.le24(hdr))
          out.write(data, 0, data.length)
        } else {
          val hdr = (data.length << 3) | (1 << 1) | lastBit
          out.write(Bin.le24(hdr))
          out.write(data(0))
        }
      }
      if (checksum) {
        val fc = blocks.flatMap(_._2).toArray
        out.write(Bin.le32(xxh64(fc, 0, fc.length, 0L) & 0xffffffffL))
      }
    }
    out.toByteArray
  }

  // ------------------------------------------ compressed-block encoder

  private def llCodeOf(ll: Int): Int =
    if (ll < 16) ll
    else { var c = 35; while (LLBase(c) > ll) c -= 1; c }
  private def mlCodeOf(ml: Int): Int =
    if (ml - 3 < 32) ml - 3
    else { var c = 52; while (MLBase(c) > ml) c -= 1; c }

  /** Normalize a code histogram onto a 2^log table (every present
    * symbol gets >= 1; drift lands on the most frequent). */
  private def normalize(hist: Map[Int, Int], log: Int): Array[Int] = {
    val size = 1 << log
    val total = hist.values.sum
    val norm = new Array[Int](hist.keys.max + 1)
    var assigned = 0
    hist.toSeq.sortBy(_._1).foreach { case (s, c) =>
      val n = math.max(1, (c.toLong * size / total).toInt)
      norm(s) = n; assigned += n
    }
    val top = hist.maxBy(_._2)._1
    norm(top) += size - assigned
    require(norm(top) >= 1, "zstd: normalization drift emptied a symbol")
    norm
  }

  /** Encoder-side per-frame state mirroring FrameState. */
  private final class EncState {
    var huff: Option[HuffTable] = None
    var llT: Option[FseTable] = None
    var ofT: Option[FseTable] = None
    var mlT: Option[FseTable] = None
  }

  /** Encode one compressed block: literals (raw / 1-stream uniform /
    * 4-stream skewed / Treeless Huffman — alphabet must be 0..15) and
    * sequences (predefined / FSE_Compressed / OF-RLE / Repeat). */
  private def encodeCompressedBlock(lits: Array[Byte],
      seqs: Array[(Int, Int, Long)], litKind: String, seqMode: String,
      st: EncState): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    // ------- literals section
    litKind match {
      case "raw" =>
        val n = lits.length
        require(n < (1 << 12), "zstd-enc: raw literal run too long")
        if (n <= 31) out.write((n << 3) | 0)
        else {
          out.write(((n & 0xf) << 4) | (1 << 2) | 0)
          out.write((n >> 4) & 0xff)
        }
        out.write(lits, 0, lits.length)
      case _ =>
        val table = litKind match {
          case "treeless" => st.huff.getOrElse(
            throw new IllegalArgumentException(
              "zstd-enc: treeless without a previous tree"))
          case "c4s" =>
            val t = huffBuild(2 +: Array.fill(14)(1)) // sym15 implicit w=5
            st.huff = Some(t); t
          case _ =>
            val t = huffBuild(Array.fill(15)(1)) // uniform, sym15 w=1
            st.huff = Some(t); t
        }
        val treeBytes: Array[Byte] =
          if (litKind == "treeless") Array.empty
          else {
            val ws = if (litKind == "c4s") 2 +: Array.fill(14)(1)
              else Array.fill(15)(1)
            val tb = new java.io.ByteArrayOutputStream()
            tb.write(127 + ws.length)
            var i = 0
            while (i < ws.length) {
              val hi = ws(i)
              val lo = if (i + 1 < ws.length) ws(i + 1) else 0
              tb.write((hi << 4) | lo)
              i += 2
            }
            tb.toByteArray
          }
        def enc(sub: Array[Byte]): Array[Byte] = {
          val bw = new BackWriter
          sub.foreach { lb =>
            val (code, nb) = table.codeOf(lb & 0xff)
            bw.add(code, nb)
          }
          bw.finish()
        }
        val n = lits.length
        val fourStream = litKind == "c4s"
        val streamsBytes: Array[Byte] =
          if (fourStream) {
            val r1 = (n + 3) / 4
            val r4 = n - 3 * r1
            require(r4 > 0, "zstd-enc: four-stream split needs 4+ literals")
            val parts = Array(
              lits.slice(0, r1), lits.slice(r1, 2 * r1),
              lits.slice(2 * r1, 3 * r1), lits.slice(3 * r1, n)).map(enc)
            val sb = new java.io.ByteArrayOutputStream()
            parts.take(3).foreach { pt =>
              sb.write(pt.length & 0xff); sb.write((pt.length >> 8) & 0xff)
            }
            parts.foreach(pt => sb.write(pt, 0, pt.length))
            sb.toByteArray
          } else enc(lits)
        val comp = treeBytes.length + streamsBytes.length
        val tpe = if (litKind == "treeless") 3 else 2
        if (fourStream) { // size format 2: 14-bit fields, 4 header bytes
          require(n < (1 << 14) && comp < (1 << 14), "zstd-enc: sf2 overflow")
          val h = tpe.toLong | (2L << 2) | (n.toLong << 4) | (comp.toLong << 18)
          (0 until 4).foreach(i => out.write(((h >> (8 * i)) & 0xff).toInt))
        } else { // size format 0: one stream, 10-bit fields, 3 bytes
          require(n < (1 << 10) && comp < (1 << 10), "zstd-enc: sf0 overflow")
          val h = tpe.toLong | (n.toLong << 4) | (comp.toLong << 14)
          (0 until 3).foreach(i => out.write(((h >> (8 * i)) & 0xff).toInt))
        }
        out.write(treeBytes, 0, treeBytes.length)
        out.write(streamsBytes, 0, streamsBytes.length)
    }
    // ------- sequences section
    val nbSeq = seqs.length
    require(nbSeq > 0 && nbSeq < 128, "zstd-enc: sequence count")
    out.write(nbSeq)
    val llCodes = seqs.map(s => llCodeOf(s._1))
    val mlCodes = seqs.map(s => mlCodeOf(s._2))
    val ofCodes = seqs.map(s =>
      63 - java.lang.Long.numberOfLeadingZeros(s._3).toInt)
    def hist(xs: Array[Int]): Map[Int, Int] =
      xs.groupBy(identity).map { case (s, v) => s -> v.length }
    var llDesc: Array[Byte] = Array.empty
    var ofDesc: Array[Byte] = Array.empty
    var mlDesc: Array[Byte] = Array.empty
    val (llMode, llT) = seqMode match {
      case "fse" =>
        val nm = normalize(hist(llCodes), 6)
        llDesc = fseWriteNCount(nm, 6); (2, fseBuild(nm, 6))
      case "rep" => (3, st.llT.getOrElse(
        throw new IllegalArgumentException(
          "zstd-enc: LL repeat without a previous table")))
      case _ => (0, fseBuild(LLDefNorm, 6))
    }
    val (ofMode, ofT) = seqMode match {
      case "fse" =>
        val nm = normalize(hist(ofCodes), 5)
        ofDesc = fseWriteNCount(nm, 5); (2, fseBuild(nm, 5))
      case "rleof" =>
        require(ofCodes.distinct.length == 1, "zstd-enc: OF-RLE needs one code")
        ofDesc = Array(ofCodes(0).toByte); (1, fseRle(ofCodes(0)))
      case "rep" => (3, st.ofT.getOrElse(
        throw new IllegalArgumentException(
          "zstd-enc: OF repeat without a previous table")))
      case _ => (0, fseBuild(OFDefNorm, 5))
    }
    val (mlMode, mlT) = seqMode match {
      case "fse" =>
        val nm = normalize(hist(mlCodes), 6)
        mlDesc = fseWriteNCount(nm, 6); (2, fseBuild(nm, 6))
      case "rep" => (3, st.mlT.getOrElse(
        throw new IllegalArgumentException(
          "zstd-enc: ML repeat without a previous table")))
      case _ => (0, fseBuild(MLDefNorm, 6))
    }
    st.llT = Some(llT); st.ofT = Some(ofT); st.mlT = Some(mlT)
    out.write((llMode << 6) | (ofMode << 4) | (mlMode << 2))
    out.write(llDesc, 0, llDesc.length)
    out.write(ofDesc, 0, ofDesc.length)
    out.write(mlDesc, 0, mlDesc.length)
    val (llInit, llSteps) = fseEncodeChain(llT, llCodes)
    val (ofInit, ofSteps) = fseEncodeChain(ofT, ofCodes)
    val (mlInit, mlSteps) = fseEncodeChain(mlT, mlCodes)
    val bw = new BackWriter
    bw.add(llInit, llT.log); bw.add(ofInit, ofT.log); bw.add(mlInit, mlT.log)
    var i = 0
    while (i < nbSeq) {
      val (ll, ml, ofVal) = seqs(i)
      val ofC = ofCodes(i)
      if (ofC > 0) bw.add((ofVal - (1L << ofC)).toInt, ofC)
      if (MLBits(mlCodes(i)) > 0)
        bw.add(ml - MLBase(mlCodes(i)), MLBits(mlCodes(i)))
      if (LLBits(llCodes(i)) > 0)
        bw.add(ll - LLBase(llCodes(i)), LLBits(llCodes(i)))
      if (i < nbSeq - 1) {
        bw.add(llSteps(i)._1, llSteps(i)._2)
        bw.add(mlSteps(i)._1, mlSteps(i)._2)
        bw.add(ofSteps(i)._1, ofSteps(i)._2)
      }
      i += 1
    }
    val bits = bw.finish()
    out.write(bits, 0, bits.length)
    out.toByteArray
  }

  // --------------------------- compressed-block fixture closed forms

  def cFrames(d: Long): Int = (1 + d % 2).toInt
  /** rep-mode blocks (k=1 on odd d+j) pin their LENGTH parameters to
    * block 0 so the repeated FSE tables cover their codes. */
  private def paramK(d: Long, j: Int, k: Int): Int =
    if (k == 1 && (d + j) % 2 == 1) 0 else k
  def cV(d: Long, j: Int, k: Int): Int = ((d + j + k) % 16).toInt
  def cL1(d: Long, j: Int, k: Int): Int =
    (24 + (d + 7 * j + 13 * paramK(d, j, k)) % 16).toInt
  def cMl1(d: Long, j: Int, k: Int): Int =
    (4 + (d + paramK(d, j, k)) % 9).toInt
  def cLT1(d: Long, j: Int): Int = (5 + (d + j) % 6).toInt
  def cMl2(d: Long, j: Int, k: Int): Int =
    (3 + (d + 2 * j + paramK(d, j, k)) % 7).toInt
  def cLT2(d: Long, j: Int, k: Int): Int =
    (4 + (d + 3 * j + paramK(d, j, k)) % 5).toInt
  def cOff(d: Long, j: Int, k: Int): Int =
    cLT1(d, j) + cMl2(d, j, k) + ((d + paramK(d, j, k)) % 4).toInt
  /** seq-2 offset kind: 0 = repeat-offset-1 (the offset seq-1 just
    * set — history-safe across blocks), 1 = explicit, 2 = an EXPLICIT
    * distance-1 offset (copies the last tail byte — the RLE-style
    * overlap idiom; repeat-offset-2/3 history is exercised by the
    * reference-codec conformance tests instead, because the history
    * carries across blocks and would couple every block's closed form
    * to its predecessors). The OF-RLE block (k'==0 and (d+j)%3==2)
    * forces explicit-same-code. */
  def cM2(d: Long, j: Int, k: Int): Int = {
    val kp = paramK(d, j, k)
    if (kp == 0 && (d + j) % 3 == 2) 1 else ((d + j + kp) % 3).toInt
  }
  def cTail(d: Long, j: Int, k: Int, p: Int): Int =
    ((d + 3 * j + 5 * k + p) % 16).toInt

  /** Closed-form stream of compressed-block frames: 1 + d%2 frames of
    * two blocks each, literal layouts rotating (1-stream uniform /
    * 4-stream skewed / raw, then Treeless), sequence-table modes
    * rotating (predefined / FSE_Compressed / OF-RLE, then Repeat),
    * each block two sequences exercising explicit offsets and the
    * repeat-offset history, content checksum always on. */
  def synthCompressed(d: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    for (j <- 0 until cFrames(d)) {
      val st = new EncState
      val bodies = collection.mutable.ArrayBuffer.empty[Array[Byte]]
      val content = new java.io.ByteArrayOutputStream()
      for (k <- 0 until 2) {
        val v = cV(d, j, k); val l1 = cL1(d, j, k); val ml1 = cMl1(d, j, k)
        val lt1 = cLT1(d, j); val ml2 = cMl2(d, j, k)
        val lt2 = cLT2(d, j, k); val off = cOff(d, j, k)
        val m2 = cM2(d, j, k)
        val lits = Array.tabulate(l1 + lt1 + lt2)(p =>
          (if (p < l1) v else cTail(d, j, k, p)).toByte)
        val ofVal2: Long = m2 match {
          case 0 => 1L            // repeat-offset 1 = off
          case 2 => 4L            // explicit offset 1 (last byte)
          case _ =>
            val kp = paramK(d, j, k)
            if (kp == 0 && (d + j) % 3 == 2) off.toLong + 3 // OF-RLE: same code
            else (cLT1(d, j) + ml2 + ((d + j) % 3)).toLong + 3
        }
        val seqs = Array(
          (l1, ml1, off.toLong + 3),
          (lt1, ml2, ofVal2))
        val litKind: String =
          if (k == 0) Seq("c1u", "c4s", "raw")(((d + j) % 3).toInt)
          else if ((d + j) % 3 != 2)
            (if ((d + j) % 2 == 0) "treeless" else "c4s")
          else "c1u"
        val seqMode: String =
          if (k == 0) Seq("pre", "fse", "rleof")(((d + j) % 3).toInt)
          else if ((d + j) % 2 == 1) "rep"
          else "fse"
        bodies += encodeCompressedBlock(lits, seqs, litKind, seqMode, st)
        // the decoded content this block contributes (for FCS + XXH64)
        (0 until l1 + ml1).foreach(_ => content.write(v))
        (l1 until l1 + lt1).foreach(p => content.write(cTail(d, j, k, p)))
        val c2 = m2 match {
          case 2 => cTail(d, j, k, l1 + lt1 - 1)
          case _ => v
        }
        (0 until ml2).foreach(_ => content.write(c2))
        (l1 + lt1 until l1 + lt1 + lt2).foreach(p =>
          content.write(cTail(d, j, k, p)))
      }
      val fc = content.toByteArray
      // frame header: FCS 4-byte field, window descriptor, checksum on
      out.write(Bin.le32(0xFD2FB528L))
      out.write((2 << 6) | 0x04)
      out.write(0x70) // window descriptor: far above any fixture frame
      out.write(Bin.le32(fc.length.toLong))
      bodies.zipWithIndex.foreach { case (body, k) =>
        val hdr = (body.length << 3) | (2 << 1) | (if (k == 1) 1 else 0)
        out.write(Bin.le24(hdr))
        out.write(body, 0, body.length)
      }
      out.write(Bin.le32(xxh64(fc, 0, fc.length, 0L) & 0xffffffffL))
    }
    out.toByteArray
  }

  /** A structurally well-formed frame whose single match offset
    * EXCEEDS its declared window — the RFC 8878 §3.1.1.1.2 violation
    * the window check exists for: 1400 raw literals under a 1 KiB
    * window (descriptor 0x00), then a match reaching back 1200 bytes.
    * An in-memory decoder HOLDS that history, so only the declared-
    * window check can catch the lie (the reference codec rejects the
    * same stream; ZstdSpec pins both). Test fixture only. */
  private[graft] def synthOverWindowFrame(): Array[Byte] = {
    val lits = Array.tabulate(1400)(i => (i % 251).toByte)
    val seqs = Array((1400, 3, 1200L + 3))
    val body = encodeCompressedBlock(lits, seqs, "raw", "pre", new EncState)
    val out = new java.io.ByteArrayOutputStream()
    out.write(Bin.le32(0xFD2FB528L))
    out.write(2 << 6)  // FCS 4 bytes, no checksum, no dict id
    out.write(0x00)    // window descriptor: wlog 10 → 1 KiB
    out.write(Bin.le32(1403L))
    val hdr = (body.length << 3) | (2 << 1) | 1
    out.write(Bin.le24(hdr))
    out.write(body, 0, body.length)
    out.toByteArray
  }

  /** One-frame stream whose content is `base` repeated `reps` times:
    * raw literals carry the base once, then reps-1 sequences each
    * match-copy the full base at offset |base| (ll=0, explicit
    * offset — the dictionary-free way real zstd encodes repetition).
    * Predefined sequence tables, 4-byte FCS, content checksum on —
    * the compressed-text corpus shape etl_zstd_corpus decompresses
    * inside its curation DAG. */
  def synthRepeated(base: Array[Byte], reps: Int): Array[Byte] = {
    require(base.length >= 3 && reps >= 2, "zstd: degenerate repetition")
    val l = base.length
    val seqs = Array((l, l, l.toLong + 3)) ++
      Array.fill(reps - 2)((0, l, l.toLong + 3))
    val body = encodeCompressedBlock(base, seqs, "raw", "pre", new EncState)
    val out = new java.io.ByteArrayOutputStream()
    out.write(Bin.le32(0xFD2FB528L))
    out.write((2 << 6) | 0x04)
    out.write(0x70)
    out.write(Bin.le32(l.toLong * reps))
    val hdr = (body.length << 3) | (2 << 1) | 1
    out.write(Bin.le24(hdr))
    out.write(body, 0, body.length)
    val fc = new Array[Byte](l * reps)
    (0 until reps).foreach(i => System.arraycopy(base, 0, fc, i * l, l))
    out.write(Bin.le32(xxh64(fc, 0, fc.length, 0L) & 0xffffffffL))
    out.toByteArray
  }

  // ----------------------------------------- dictionary fixture

  def dictIdOf(d: Long): Long = 1000L + d % 9000
  def dictContentLen(d: Long): Int = (32 + d % 32).toInt
  /** Dictionary content byte i — alphabet 0..15 so the dictionary's
    * Huffman table covers frame literals and dictionary bytes alike. */
  def dictByte(d: Long, i: Int): Int = ((3 + d + 7 * i) % 16).toInt
  def dRep1(d: Long): Long = 1L + d % 8
  // dict-fed frame closed forms: two literal runs + a tail, one match
  // reaching INTO dictionary content, one through the repeat-offset
  // history the dictionary seeded
  def dN1(d: Long): Int = (9 + d % 7).toInt
  def dM1(d: Long): Int = (3 + d % 3).toInt
  def dBack(d: Long): Int = (5 + d % 10).toInt
  def dN2(d: Long): Int = (10 + d % 6).toInt
  val dM2 = 3
  def dN3(d: Long): Int = (4 + d % 4).toInt
  def dLit(d: Long, p: Int): Int = ((d + 5 * p) % 16).toInt

  private def dictNorms(d: Long): (Array[Int], Array[Int], Array[Int]) = {
    val llCodes = Array(llCodeOf(dN1(d)), llCodeOf(dN2(d)))
    val ofCodes = Array(
      63 - java.lang.Long.numberOfLeadingZeros(dN1(d) + dBack(d) + 3L).toInt,
      1) // ofVal 2 (repeat slot) has code 1
    val mlCodes = Array(mlCodeOf(dM1(d)), mlCodeOf(dM2))
    def hist(xs: Array[Int]): Map[Int, Int] =
      xs.groupBy(identity).map { case (s, v) => s -> v.length }
    (normalize(hist(llCodes), 6), normalize(hist(ofCodes), 5),
      normalize(hist(mlCodes), 6))
  }

  /** From-spec STRUCTURED dictionary (RFC 8878 §5): magic, id, the
    * Huffman table (uniform direct weights over the 0..15 alphabet),
    * FSE tables in OF/ML/LL order sized to the frame's own code
    * histograms (so Repeat-mode coverage is guaranteed — the rep-block
    * discipline), three closed-form repeat offsets, then content. */
  def synthDict(d: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Bin.le32(DictMagic))
    out.write(Bin.le32(dictIdOf(d)))
    // Huffman tree description, direct form: 15 explicit weight-1
    // symbols, symbol 15 implicit — the c1u table
    val ws = Array.fill(15)(1)
    out.write(127 + ws.length)
    var i = 0
    while (i < ws.length) {
      val hi = ws(i)
      val lo = if (i + 1 < ws.length) ws(i + 1) else 0
      out.write((hi << 4) | lo)
      i += 2
    }
    val (llN, ofN, mlN) = dictNorms(d)
    val of = fseWriteNCount(ofN, 5)
    val ml = fseWriteNCount(mlN, 6)
    val ll = fseWriteNCount(llN, 6)
    out.write(of, 0, of.length)
    out.write(ml, 0, ml.length)
    out.write(ll, 0, ll.length)
    out.write(Bin.le32(dRep1(d))); out.write(Bin.le32(dRep1(d) + 2))
    out.write(Bin.le32(dRep1(d) + 5))
    (0 until dictContentLen(d)).foreach(i => out.write(dictByte(d, i)))
    out.toByteArray
  }

  /** The dict-fed frame's decoded content, straight from the closed
    * forms (never from the decoder — the oracle recomputes this in
    * SQL): lits1, a match copied out of DICTIONARY content, lits2, a
    * match through the dictionary-seeded repeat-offset history
    * (overlap-correct when rep1 < 3), tail literals. */
  def dictFrameContent(d: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val n1 = dN1(d); val m1 = dM1(d); val back = dBack(d)
    val n2 = dN2(d); val n3 = dN3(d)
    val lc = dictContentLen(d)
    val r = dRep1(d).toInt
    (0 until n1).foreach(p => out.write(dLit(d, p)))
    (0 until m1).foreach(t => out.write(dictByte(d, lc - back + t)))
    (0 until n2).foreach(p => out.write(dLit(d, n1 + p)))
    (0 until dM2).foreach(t => out.write(dLit(d, n1 + n2 - r + (t % r))))
    (0 until n3).foreach(p => out.write(dLit(d, n1 + n2 + p)))
    out.toByteArray
  }

  /** One dictionary-fed frame: 4-byte dictionary id in the header,
    * ONE compressed block whose literals are Treeless (dictionary
    * Huffman table), whose sequence tables are all Repeat mode
    * (dictionary FSE tables), whose first match reaches into the
    * dictionary's content window, and whose second rides the
    * dictionary-seeded repeat-offset history — all three RFC 8878 §5
    * inheritance channels in one frame. FCS + content checksum on. */
  def synthDictFrame(d: Long): Array[Byte] = {
    val st = new EncState
    // seed the encoder state exactly as a dictionary-loading decoder
    // seeds FrameState
    st.huff = Some(huffBuild(Array.fill(15)(1)))
    val (llN, ofN, mlN) = dictNorms(d)
    st.llT = Some(fseBuild(llN, 6))
    st.ofT = Some(fseBuild(ofN, 5))
    st.mlT = Some(fseBuild(mlN, 6))
    val n1 = dN1(d); val n2 = dN2(d); val n3 = dN3(d)
    val lits = Array.tabulate(n1 + n2 + n3)(p => dLit(d, p).toByte)
    val seqs = Array(
      (n1, dM1(d), (n1 + dBack(d)).toLong + 3), // explicit, into dict
      (n2, dM2, 2L)) // repeat slot 2 → the dictionary's rep1
    val body = encodeCompressedBlock(lits, seqs, "treeless", "rep", st)
    val fc = dictFrameContent(d)
    val out = new java.io.ByteArrayOutputStream()
    out.write(Bin.le32(0xFD2FB528L))
    out.write((2 << 6) | 0x04 | 0x3) // FCS 4B, checksum, dict id 4B
    out.write(0x70) // window descriptor
    out.write(Bin.le32(dictIdOf(d)))
    out.write(Bin.le32(fc.length.toLong))
    val hdr = (body.length << 3) | (2 << 1) | 1
    out.write(Bin.le24(hdr))
    out.write(body, 0, body.length)
    out.write(Bin.le32(xxh64(fc, 0, fc.length, 0L) & 0xffffffffL))
    out.toByteArray
  }

  /** The SHARED-dictionary frame content: structural shapes (lengths,
    * match targets, repeat history) keyed on the SHARD seed `g` —
    * they must agree with dictionary g's tables and content — while
    * the literal payload varies per document `d`. The per-doc twin
    * (dictFrameContent) is the g == d case. */
  def sharedDictFrameContent(d: Long, g: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val n1 = dN1(g); val m1 = dM1(g); val back = dBack(g)
    val n2 = dN2(g); val n3 = dN3(g)
    val lc = dictContentLen(g)
    val r = dRep1(g).toInt
    (0 until n1).foreach(p => out.write(dLit(d, p)))
    (0 until m1).foreach(t => out.write(dictByte(g, lc - back + t)))
    (0 until n2).foreach(p => out.write(dLit(d, n1 + p)))
    (0 until dM2).foreach(t => out.write(dLit(d, n1 + n2 - r + (t % r))))
    (0 until n3).foreach(p => out.write(dLit(d, n1 + n2 + p)))
    out.toByteArray
  }

  /** A dict-fed frame for document `d` against SHARD dictionary `g`:
    * identical inheritance channels to synthDictFrame (Treeless
    * literals, Repeat-mode tables, a match into dictionary content,
    * one through the seeded repeat history), but the literal bytes
    * vary per doc while every dictionary-coupled shape comes from g —
    * the realistic corpus layout where thousands of frames share one
    * trained dictionary. */
  def synthSharedDictFrame(d: Long, g: Long): Array[Byte] = {
    val st = new EncState
    st.huff = Some(huffBuild(Array.fill(15)(1)))
    val (llN, ofN, mlN) = dictNorms(g)
    st.llT = Some(fseBuild(llN, 6))
    st.ofT = Some(fseBuild(ofN, 5))
    st.mlT = Some(fseBuild(mlN, 6))
    val n1 = dN1(g); val n2 = dN2(g); val n3 = dN3(g)
    val lits = Array.tabulate(n1 + n2 + n3)(p => dLit(d, p).toByte)
    val seqs = Array(
      (n1, dM1(g), (n1 + dBack(g)).toLong + 3), // explicit, into dict
      (n2, dM2, 2L)) // repeat slot 2 → the dictionary's rep1
    val body = encodeCompressedBlock(lits, seqs, "treeless", "rep", st)
    val fc = sharedDictFrameContent(d, g)
    val out = new java.io.ByteArrayOutputStream()
    out.write(Bin.le32(0xFD2FB528L))
    out.write((2 << 6) | 0x04 | 0x3) // FCS 4B, checksum, dict id 4B
    out.write(0x70) // window descriptor
    out.write(Bin.le32(dictIdOf(g)))
    out.write(Bin.le32(fc.length.toLong))
    val hdr = (body.length << 3) | (2 << 1) | 1
    out.write(Bin.le24(hdr))
    out.write(body, 0, body.length)
    out.write(Bin.le32(xxh64(fc, 0, fc.length, 0L) & 0xffffffffL))
    out.toByteArray
  }

  private val dictFeatureSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("dict_id", LongType),
    StructField("dict_content_bytes", IntegerType),
    StructField("n_blocks", IntegerType),
    StructField("n_sequences", IntegerType),
    StructField("content_bytes", LongType),
    StructField("content_sum", LongType),
    StructField("n_checksummed", IntegerType)))

  /** ids -> dictionary + dict-fed frame -> dictionary-aware walk.
    * Per-doc map work — scan-stage cost at any corpus size. */
  def dictFeatures(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, dictFeatureSchema) { d =>
      val m = walk(synthDictFrame(d), synthDict(d))
      Iterator.single(Row(d, m.dictId, dictContentLen(d), m.nBlocks,
        m.nSequences, m.contentBytes, m.contentSum, m.checksummed))
    }

  /** ids → SHARD dictionary (one per `shardSize` ids) + per-doc
    * dict-fed frames → dictionary-aware walk, the dictionary PARSED
    * ONCE per (partition, shard) and reused across every frame — the
    * 100 TB deployment shape: a trained dictionary is a table-level
    * artifact, so per-row dictionary parsing (the dictFeatures
    * worst-case row) is amortized to scan noise. */
  def sharedDictFeatures(ids: DataFrame, shardSize: Int = 4096): DataFrame = {
    require(shardSize >= 1, s"zstd: absurd shard size $shardSize")
    // the dictionary cache lives per partition
    PerDoc.partitions(ids, dictFeatureSchema) { rows =>
      val cache = collection.mutable.LongMap.empty[ParsedDict]
      rows.map { r =>
        val d = r.getLong(0)
        val g = d / shardSize
        val pd = cache.getOrElseUpdate(g, parseDictionary(synthDict(g)))
        val m = walk(synthSharedDictFrame(d, g), pd)
        Row(d, m.dictId, dictContentLen(g), m.nBlocks, m.nSequences,
          m.contentBytes, m.contentSum, m.checksummed)
      }
    }
  }

  private val decodeSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("n_frames", IntegerType),
    StructField("n_blocks", IntegerType),
    StructField("n_compressed", IntegerType),
    StructField("n_sequences", IntegerType),
    StructField("content_bytes", LongType),
    StructField("content_sum", LongType),
    StructField("n_checksummed", IntegerType)))

  /** ids -> compressed-block fixture -> full decode walk. */
  def decodeFeatures(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, decodeSchema) { d =>
      val m = walk(synthCompressed(d))
      Iterator.single(Row(d, m.nFrames, m.nBlocks, m.nCompressedBlocks,
        m.nSequences, m.contentBytes, m.contentSum, m.checksummed))
    }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("n_frames", IntegerType),
    StructField("n_skippable", IntegerType),
    StructField("n_blocks", IntegerType),
    StructField("n_rle_blocks", IntegerType),
    StructField("content_bytes", LongType),
    StructField("content_sum", LongType),
    StructField("n_checksummed", IntegerType),
    StructField("dict_id", LongType)))

  /** ids -> closed-form stream -> frame walk + block decode. */
  def features(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, schema) { d =>
      val m = walk(synth(d))
      Iterator.single(Row(d, m.nFrames, m.nSkippable, m.nBlocks, m.nRleBlocks,
        m.contentBytes, m.contentSum, m.checksummed,
        if (m.dictId < 0) null else Long.box(m.dictId)))
    }
}
