package graft.operators

/** The one bounds-checked way the binary walkers read and write bytes
  * and bits: fixed-width big- and little-endian integers at an offset,
  * a sequential byte cursor with the LEB128 varint, and MSB-first /
  * LSB-first bit readers and writers.
  *
  * Every check is overflow-safe (`o >= 0 && o <= end - n`, never
  * `o + n <= end`), so an offset taken from hostile input near
  * `Int.MaxValue` fails like any other overrun. Every failure is an
  * `IllegalArgumentException` whose message starts with the caller's
  * `what` label; the message is only built when the check fails.
  *
  * Format-specific bit streams stay with their format: JPEG's 0xFF00
  * stuffing (`Codecs.BitReader`/`BitWriter`) and zstd's reverse
  * bitstream (`Zstd.BackBits`/`BackWriter`). */
object Bin {

  private def overrun(what: String, n: Long, o: Long, end: Long): Nothing =
    throw new IllegalArgumentException(
      s"$what: $n bytes at offset $o overruns the end at $end " +
        "(input truncated or corrupt)")

  /** Require `[off, off + len)` inside `[0, end)`; Long arithmetic so
    * u32 fields and sums of Int offsets cannot wrap. */
  def checkRange(off: Long, len: Long, end: Long, what: String): Unit =
    if (off < 0 || len < 0 || off > end - len) overrun(what, len, off, end)

  @inline private def at(b: Array[Byte], o: Int, n: Int, end: Int,
      what: String): Unit =
    if (o < 0 || o > end - n || end > b.length) overrun(what, n, o, end)

  private final val Input = "binary input"

  // ------------------------------------------------ reads at an offset

  def u8(b: Array[Byte], o: Int, end: Int, what: String = Input): Int = {
    at(b, o, 1, end, what); b(o) & 0xff
  }
  def u16be(b: Array[Byte], o: Int, end: Int, what: String = Input): Int = {
    at(b, o, 2, end, what); ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
  }
  def u16le(b: Array[Byte], o: Int, end: Int, what: String = Input): Int = {
    at(b, o, 2, end, what); (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  }
  def u24be(b: Array[Byte], o: Int, end: Int, what: String = Input): Int = {
    at(b, o, 3, end, what)
    ((b(o) & 0xff) << 16) | ((b(o + 1) & 0xff) << 8) | (b(o + 2) & 0xff)
  }
  def u24le(b: Array[Byte], o: Int, end: Int, what: String = Input): Int = {
    at(b, o, 3, end, what)
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16)
  }
  def u32be(b: Array[Byte], o: Int, end: Int, what: String = Input): Long = {
    at(b, o, 4, end, what)
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xff) << 16) |
      ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
  }
  def u32le(b: Array[Byte], o: Int, end: Int, what: String = Input): Long = {
    at(b, o, 4, end, what)
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16) |
      ((b(o + 3) & 0xffL) << 24)
  }
  def u64be(b: Array[Byte], o: Int, end: Int, what: String = Input): Long = {
    at(b, o, 8, end, what)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (b(o + i) & 0xffL); i += 1 }
    v
  }
  def u64le(b: Array[Byte], o: Int, end: Int, what: String = Input): Long = {
    at(b, o, 8, end, what)
    var v = 0L
    var i = 7
    while (i >= 0) { v = (v << 8) | (b(o + i) & 0xffL); i -= 1 }
    v
  }

  // ------------------------------------------------ writes

  def put16be(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = (v >> 8).toByte; b(o + 1) = v.toByte
  }
  def put16le(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = v.toByte; b(o + 1) = (v >> 8).toByte
  }
  def put24be(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = (v >> 16).toByte; put16be(b, o + 1, v)
  }
  def put24le(b: Array[Byte], o: Int, v: Int): Unit = {
    put16le(b, o, v); b(o + 2) = (v >> 16).toByte
  }
  def put32be(b: Array[Byte], o: Int, v: Long): Unit = {
    put16be(b, o, (v >> 16).toInt); put16be(b, o + 2, v.toInt)
  }
  def put32le(b: Array[Byte], o: Int, v: Long): Unit = {
    put16le(b, o, v.toInt); put16le(b, o + 2, (v >> 16).toInt)
  }
  def put64be(b: Array[Byte], o: Int, v: Long): Unit = {
    put32be(b, o, v >>> 32); put32be(b, o + 4, v)
  }
  def put64le(b: Array[Byte], o: Int, v: Long): Unit = {
    put32le(b, o, v); put32le(b, o + 4, v >>> 32)
  }

  def be16(v: Int): Array[Byte] = { val a = new Array[Byte](2); put16be(a, 0, v); a }
  def le16(v: Int): Array[Byte] = { val a = new Array[Byte](2); put16le(a, 0, v); a }
  def le24(v: Int): Array[Byte] = { val a = new Array[Byte](3); put24le(a, 0, v); a }
  def be32(v: Long): Array[Byte] = { val a = new Array[Byte](4); put32be(a, 0, v); a }
  def le32(v: Long): Array[Byte] = { val a = new Array[Byte](4); put32le(a, 0, v); a }
  def be64(v: Long): Array[Byte] = { val a = new Array[Byte](8); put64be(a, 0, v); a }
  def le64(v: Long): Array[Byte] = { val a = new Array[Byte](8); put64le(a, 0, v); a }

  // ------------------------------------------------ byte cursor

  /** Sequential reads over `b[from, until)`. */
  final class Cursor(val b: Array[Byte], from: Int, val until: Int,
      what: String) {
    checkRange(from, until.toLong - from, b.length, what)
    var pos: Int = from
    def remaining: Int = until - pos
    def hasMore: Boolean = pos < until

    /** Advance by `n`, returning the offset the `n` bytes start at. */
    private def take(n: Int): Int = {
      val o = pos
      if (o > until - n) overrun(what, n, o, until)
      pos = o + n
      o
    }
    def u8(): Int = b(take(1)) & 0xff
    def u16be(): Int = Bin.u16be(b, take(2), until, what)
    def u16le(): Int = Bin.u16le(b, take(2), until, what)
    def u24le(): Int = Bin.u24le(b, take(3), until, what)
    def u32be(): Long = Bin.u32be(b, take(4), until, what)
    def u32le(): Long = Bin.u32le(b, take(4), until, what)
    def u64be(): Long = Bin.u64be(b, take(8), until, what)
    def u64le(): Long = Bin.u64le(b, take(8), until, what)

    /** LEB128 base-128 varint, low group first, at most 10 bytes. */
    def varint(): Long = {
      var acc = 0L
      var shift = 0
      var v = 0
      while ({
        if (shift > 63)
          throw new IllegalArgumentException(
            s"$what: varint longer than 10 bytes at offset $pos")
        v = u8()
        acc |= (v & 0x7fL) << shift
        shift += 7
        (v & 0x80) != 0
      }) ()
      acc
    }
    /** A varint with the zigzag sign mapping undone. */
    def zigzag(): Long = { val v = varint(); (v >>> 1) ^ -(v & 1) }

    def bytes(n: Long): Array[Byte] = {
      skip(n); java.util.Arrays.copyOfRange(b, pos - n.toInt, pos)
    }
    def skip(n: Long): Unit = {
      checkRange(pos, n, until, what)
      pos += n.toInt
    }
  }

  // ------------------------------------------------ bit readers

  /** Shared bounds of the two bit readers: `b[from, until)` as a bit
    * range, read position `bitPos` (absolute, in bits). */
  sealed abstract class Bits(b: Array[Byte], from: Int, until: Int,
      what: String) {
    checkRange(from, until.toLong - from, b.length, what)
    protected var bit: Long = from.toLong * 8
    protected val limit: Long = until.toLong * 8
    def bitPos: Long = bit
    def remaining: Long = limit - bit
    /** Skip to the next byte boundary. */
    def align(): Unit = bit = math.min((bit + 7) & ~7L, limit)
    protected final def need(n: Int): Unit =
      if (n < 0 || n > 32 || bit > limit - n)
        throw new IllegalArgumentException(
          s"$what truncated: $n-bit read at bit $bit overruns the end " +
            s"at bit $limit")
  }

  /** MSB-first bit reader (H.264/HEVC RBSPs, FLAC, MPEG audio, TIFF
    * LZW and CCITT, VP9 headers). */
  final class MsbReader(b: Array[Byte], from: Int, until: Int, what: String)
      extends Bits(b, from, until, what) {
    def this(b: Array[Byte], what: String) = this(b, 0, b.length, what)
    def u(n: Int): Int = {
      need(n)
      var v = 0
      var k = 0
      while (k < n) {
        v = (v << 1) | ((b((bit >> 3).toInt) >> (7 - (bit & 7).toInt)) & 1)
        bit += 1; k += 1
      }
      v
    }
    /** Exp-Golomb ue(v); a leading-zero run is capped at 31 (the 32-bit
      * codeNum bound) so a zero-filled buffer cannot spin. */
    def ue(): Int = {
      var zeros = 0
      while (u(1) == 0) {
        zeros += 1
        if (zeros > 31)
          throw new IllegalArgumentException(
            s"$what: Exp-Golomb run exceeds 32-bit bound at bit $bit")
      }
      (1 << zeros) - 1 + u(zeros)
    }
    def se(): Int = {
      val k = ue()
      if (k % 2 == 0) -(k / 2) else (k + 1) / 2
    }
  }

  /** LSB-first bit reader (DEFLATE convention: VP8L, FSE tables). */
  final class LsbReader(b: Array[Byte], from: Int, until: Int, what: String)
      extends Bits(b, from, until, what) {
    def u(n: Int): Int = {
      need(n)
      var v = 0
      var k = 0
      while (k < n) {
        v |= ((b((bit >> 3).toInt) >> (bit & 7).toInt) & 1) << k
        bit += 1; k += 1
      }
      v
    }
  }

  // ------------------------------------------------ bit writers

  /** Shared byte buffer of the two bit writers; `toBytes` zero-pads the
    * last partial byte. */
  sealed abstract class BitSink {
    private var buf = new Array[Byte](64)
    private var len = 0
    protected var cur = 0
    protected var nCur = 0
    protected final def emit(): Unit = {
      if (len == buf.length) buf = java.util.Arrays.copyOf(buf, len * 2)
      buf(len) = cur.toByte; len += 1; cur = 0; nCur = 0
    }
    def u(v: Int, n: Int): Unit
    def bitPos: Long = len * 8L + nCur
    def align(): Unit = if (nCur > 0) u(0, 8 - nCur)
    def toBytes: Array[Byte] = { align(); java.util.Arrays.copyOf(buf, len) }
  }

  final class MsbWriter extends BitSink {
    def u(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >> i) & 1)
        nCur += 1
        if (nCur == 8) emit()
        i -= 1
      }
    }
    def ue(v: Int): Unit = {
      val zeros = 31 - Integer.numberOfLeadingZeros(v + 1)
      u(0, zeros); u(v + 1, zeros + 1)
    }
    def se(v: Int): Unit = ue(if (v > 0) 2 * v - 1 else -2 * v)
  }

  final class LsbWriter extends BitSink {
    def u(v: Int, n: Int): Unit = {
      var i = 0
      while (i < n) {
        cur |= ((v >> i) & 1) << nCur
        nCur += 1
        if (nCur == 8) emit()
        i += 1
      }
    }
  }
}
