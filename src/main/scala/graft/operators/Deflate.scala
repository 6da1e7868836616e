package graft.operators

import java.util.zip.{DataFormatException, Deflater, GZIPOutputStream, Inflater}

/** The one way the walkers and synths use DEFLATE (RFC 1951), bare
  * ("raw") or in its zlib wrapper (RFC 1950): PNG `IDAT`, PDF
  * `/FlateDecode`, ZIP/EPUB members, Avro's `deflate` codec and gzip
  * members. The gzip framing itself (RFC 1952) is read by `Gzip`.
  *
  * Every inflate is bounded twice. DEFLATE cannot expand past about
  * 1032:1, so output beyond `1032 · inputLen + 64` is a bomb, never a
  * valid stream; a caller that knows more passes a tighter `cap`
  * (PNG's exact scanline size, a ZIP member's directory size, 64 MiB
  * for an Avro block or a WARC file). The output array starts at
  * `min(limit, max(4 · inputLen, 8 KiB))` bytes and doubles up to the
  * limit (never past the largest JVM array), so an exact cap under
  * that start is one allocation and no copy.
  *
  * Every failure — a corrupt stream, a truncated one that stalls, a
  * zlib preset-dictionary header, output past the limit — is an
  * `IllegalArgumentException` whose message starts with the caller's
  * `label`. The native zlib context is always released. */
object Deflate {

  /** The most output a valid DEFLATE stream of `inLen` bytes can have. */
  def bound(inLen: Int): Long = 1032L * inLen + 64

  // the largest byte array the JVM allocates
  private final val MaxArray = Int.MaxValue - 8

  /** Default-level DEFLATE of `b`, raw or zlib-wrapped. */
  def deflate(b: Array[Byte], raw: Boolean): Array[Byte] = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, raw)
    try {
      d.setInput(b); d.finish()
      val out = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** One gzip member of `b[from, from + len)` with the JDK's header. */
  def gzip(b: Array[Byte], from: Int, len: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(len / 2 + 64)
    val gz = new GZIPOutputStream(out)
    try gz.write(b, from, len) finally gz.close()
    out.toByteArray
  }

  /** Inflate the stream in `b[from, from + len)`; see `inflatePrefix`. */
  def inflate(b: Array[Byte], from: Int, len: Int, raw: Boolean,
      label: String, cap: Long = Long.MaxValue): Array[Byte] =
    inflatePrefix(b, from, len, raw, label, cap)._1

  /** Inflate the stream that starts at `from` and ends somewhere in
    * `b[from, from + len)`: its output, and how many input bytes it
    * used (gzip's trailer follows the deflate data directly). */
  def inflatePrefix(b: Array[Byte], from: Int, len: Int, raw: Boolean,
      label: String, cap: Long = Long.MaxValue): (Array[Byte], Int) = {
    Bin.checkRange(from, len, b.length, label)
    val limit = math.min(math.min(cap, bound(len)), MaxArray)
    def fail(why: String): Nothing =
      throw new IllegalArgumentException(s"$label: $why")
    val inf = new Inflater(raw)
    try {
      inf.setInput(b, from, len)
      var out = new Array[Byte](math.min(limit, math.max(4L * len, 8192)).toInt)
      var got = 0
      val probe = new Array[Byte](1)
      while (!inf.finished()) {
        if (got == out.length && out.length < limit)
          out = java.util.Arrays.copyOf(out,
            math.min(limit, 2L * out.length).toInt)
        val room = out.length - got
        // full at the limit: one more byte of output is over it
        val n =
          try if (room > 0) inf.inflate(out, got, room) else inf.inflate(probe)
          catch {
            case e: DataFormatException =>
              fail(s"corrupt deflate stream: ${e.getMessage}")
          }
        if (room == 0 && n > 0)
          fail(s"inflates past $limit bytes from $len input bytes " +
            "— decompression bomb")
        // inflate() == 0 without finishing is a stream that can make
        // no progress; needsInput() does not report the FDICT case
        if (n == 0 && !inf.finished())
          fail(if (inf.needsDictionary()) "preset-dictionary stream unsupported"
            else "truncated deflate stream")
        got += n
      }
      val bytes = if (got == out.length) out else java.util.Arrays.copyOf(out, got)
      (bytes, len - inf.getRemaining)
    } finally inf.end()
  }
}
