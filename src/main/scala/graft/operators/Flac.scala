package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** FLAC metadata walk — the lossless member of the audio family
  * (WAV = llm_audio_decode, MP3 = llm_audio_mp3_meta, AAC-in-MP4 =
  * llm_audio_mp4a_meta). Same filter-before-decode posture as all the
  * media walks: everything an audio curation pass gates on (sample
  * rate, channels, bit depth, duration, tags) lives in the metadata
  * blocks before the first audio frame, so the walk never touches
  * entropy-coded subframes (the documented audio stub boundary).
  *
  * From the public FLAC format spec:
  *   - `fLaC` magic, then metadata blocks: a 1-byte header (bit 7 =
  *     last-block flag, bits 0-6 = type) + 24-bit big-endian length;
  *   - STREAMINFO (type 0, 34 bytes, REQUIRED FIRST by spec — a
  *     stream violating that fails loudly): min/max blocksize u16,
  *     min/max framesize u24, then 64 bits packed as sample rate (20)
  *     | channels-1 (3) | bits-per-sample-1 (5) | total samples (36),
  *     then the 16-byte unencoded-audio MD5;
  *   - VORBIS_COMMENT (type 4): little-endian u32 lengths (the one
  *     corner of FLAC that is LE, inherited from Ogg) — vendor string,
  *     comment count, `KEY=value` entries.
  *
  * Malformed input fails loudly (require → IllegalArgumentException):
  * truncated blocks, a non-STREAMINFO first block, a block length
  * overrunning the file, comment lengths overrunning their block.
  */
object Flac {

  final case class FlacMeta(sampleRate: Int, channels: Int,
      bitsPerSample: Int, totalSamples: Long, durationMs: Long,
      nBlocks: Int, title: String)

  def meta(bytes: Array[Byte]): FlacMeta = {
    require(bytes.length >= 4 + 4 + 34 &&
      bytes(0) == 'f' && bytes(1) == 'L' && bytes(2) == 'a' &&
      bytes(3) == 'C', "not a FLAC payload")
    var off = 4
    var nBlocks = 0
    var last = false
    var sr = -1; var ch = -1; var bps = -1; var total = -1L
    var title: String = null
    while (!last) {
      require(off + 4 <= bytes.length, "truncated FLAC block header")
      val hdr = bytes(off) & 0xff
      last = (hdr & 0x80) != 0
      val typ = hdr & 0x7f
      val len = Bin.u24be(bytes, off + 1, bytes.length)
      val body = off + 4
      Bin.checkRange(body, len, bytes.length, "FLAC block")
      if (nBlocks == 0) require(typ == 0,
        s"first FLAC block must be STREAMINFO, got type $typ")
      typ match {
        case 0 =>
          require(len == 34, s"STREAMINFO must be 34 bytes, got $len")
          require(sr < 0, "duplicate STREAMINFO block")
          // 10 bytes of blocksize/framesize bounds, then the packed 64
          val p = body + 10
          sr = Bin.u24be(bytes, p, bytes.length) >> 4
          ch = ((bytes(p + 2) >> 1) & 0x7) + 1
          bps = (((bytes(p + 2) & 0x1) << 4) |
            ((bytes(p + 3) & 0xff) >> 4)) + 1
          total = ((bytes(p + 3) & 0xfL) << 32) |
            Bin.u32be(bytes, p + 4, bytes.length)
          require(sr > 0, "STREAMINFO sample rate is zero")
        case 4 =>
          // Vorbis comment: LE-length vendor, LE count, KEY=value runs
          var p = body
          def readLen(): Int = {
            val v = Bin.u32le(bytes, p, body + len, "vorbis length"); p += 4
            Bin.checkRange(p, v, body + len, "vorbis field")
            v.toInt
          }
          // NB: not `p += readLen()` — that reads the old p before
          // readLen() advances it past the length field.
          val vendLen = readLen(); p += vendLen // vendor string skipped
          val n = Bin.u32le(bytes, p, body + len, "vorbis comment count")
            .toInt; p += 4
          require(n >= 0 && n <= len, s"absurd vorbis comment count $n")
          (0 until n).foreach { _ =>
            val l = readLen()
            val c = new String(bytes, p, l, "UTF-8"); p += l
            val eq = c.indexOf('=')
            require(eq > 0, s"vorbis comment without '=': $c")
            // field names are case-insensitive ASCII per spec
            if (c.substring(0, eq)
                .toUpperCase(java.util.Locale.ROOT) == "TITLE")
              title = c.substring(eq + 1)
          }
        case t =>
          require(t != 127, "invalid FLAC block type 127")
          // PADDING/SEEKTABLE/APPLICATION/... — skippable by length
      }
      nBlocks += 1
      off = body + len
    }
    require(sr > 0, "FLAC missing STREAMINFO")
    FlacMeta(sr, ch, bps, total, total * 1000L / sr, nBlocks, title)
  }

  /** Closed-form FLAC shell for id d: STREAMINFO (sr by d%3, channels
    * 1+d%2, bps 16/24 by d%2, total samples 10000 + 37*d % 50000),
    * a PADDING block (even ids — varies the block count), and a
    * VORBIS_COMMENT carrying TITLE=t{d%20} as the last block. */
  def synth(d: Long): Array[Byte] = {
    val sr = (d % 3) match {
      case 0 => 44100; case 1 => 48000; case _ => 96000
    }
    val ch = (1 + d % 2).toInt
    val bps = if (d % 2 == 0) 16 else 24
    val total = 10000L + 37 * d % 50000
    val out = new java.io.ByteArrayOutputStream(256)
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    // STREAMINFO
    out.write(0x00); out.write(0); out.write(0); out.write(34)
    val si = new Array[Byte](34)
    Bin.put16be(si, 0, 4096); Bin.put16be(si, 2, 4096)
    Bin.put24be(si, 4, (14 + d % 100).toInt)
    Bin.put24be(si, 7, (2000 + d % 500).toInt)
    si(10) = (sr >> 12).toByte
    si(11) = ((sr >> 4) & 0xff).toByte
    si(12) = (((sr & 0xf) << 4) | ((ch - 1) << 1) |
      ((bps - 1) >> 4)).toByte
    si(13) = ((((bps - 1) & 0xf) << 4) | ((total >> 32) & 0xf)).toInt.toByte
    si(14) = ((total >> 24) & 0xff).toByte
    si(15) = ((total >> 16) & 0xff).toByte
    si(16) = ((total >> 8) & 0xff).toByte
    si(17) = (total & 0xff).toByte
    // bytes 18-33: unencoded-audio MD5, zero in a metadata shell
    out.write(si, 0, 34)
    if (d % 2 == 0) { // PADDING block, varies n_blocks
      val padLen = (3 + d % 5).toInt
      out.write(0x01); out.write(0); out.write(0); out.write(padLen)
      (0 until padLen).foreach(_ => out.write(0))
    }
    // VORBIS_COMMENT (last block)
    val vendor = "graft0".getBytes("UTF-8")
    val comment = s"TITLE=t${d % 20}".getBytes("UTF-8")
    val vcLen = 4 + vendor.length + 4 + 4 + comment.length
    out.write(0x80 | 0x04); out.write(0); out.write(Bin.be16(vcLen))
    out.write(Bin.le32(vendor.length)); out.write(vendor, 0, vendor.length)
    out.write(Bin.le32(1))
    out.write(Bin.le32(comment.length)); out.write(comment, 0, comment.length)
    out.toByteArray
  }

  // ---------------------------------------------------------------
  // FRAME DECODE (VERDICT r12 #2, extended r14 per VERDICT r13 #3) —
  // the audio stub boundary shrunk the same way PNG/JPEG/GIF were:
  // the decode subset is bounded integer arithmetic straight from the
  // public spec (RFC 9639), no libm. Supported: independent
  // multichannel (1-8 channels, assignment codes 0-7) AND decorrelated
  // stereo in all three modes (left/side, right/side, mid/side — the
  // +1-bit side channel included) with per-frame channel-assignment
  // switching, 16-bit, 256-sample blocks plus a SHORT LAST block
  // declared inline (codes 0110/0111, 8/16-bit size−1 after the coded
  // number — validated as exactly the remaining sample count), BOTH
  // blocksize strategies (fixed = frame numbers, variable = sample
  // numbers; UTF-8-coded numbers validated against the running
  // position either way), CONSTANT / VERBATIM / FIXED(orders 0-4) /
  // LPC(quantized integer coefficients + shift) subframes, wasted-bits
  // headers (detected from common trailing zeros, like real encoders),
  // 4-bit Rice residuals with general partition orders AND escape
  // partitions (verbatim w-bit two's complement). What remains —
  // sample depths other than 16/24-bit, full blocksizes other than
  // 256/4096, and lossy payloads — is rejected with a loud require
  // naming the construct, never silently skipped (24-bit depths,
  // 4096-sample blocks, inline rate codes, short tail blocks, and
  // 1-4 channels are all DECODED). Both CRCs (CRC-8 header,
  // CRC-16 frame) are verified on every frame, so a desynced walk
  // cannot limp along.
  // ---------------------------------------------------------------

  /** CRC-8, poly 0x07, init 0 (the FLAC frame-header CRC). */
  private def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) {
      c ^= (b(i) & 0xff)
      var k = 0
      while (k < 8) {
        c = if ((c & 0x80) != 0) ((c << 1) ^ 0x07) & 0xff else (c << 1) & 0xff
        k += 1
      }
      i += 1
    }
    c
  }

  /** CRC-16, poly 0x8005, init 0, unreflected (the FLAC frame CRC). */
  private def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) {
      c ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) {
        c = if ((c & 0x8000) != 0) ((c << 1) ^ 0x8005) & 0xffff
            else (c << 1) & 0xffff
        k += 1
      }
      i += 1
    }
    c
  }

  // FLAC's own codes over the shared MSB-first bit reader and writer.

  private def signed(v: Int, n: Int): Int = (v << (32 - n)) >> (32 - n)

  private def readUnary(r: Bin.MsbReader): Int = {
    var q = 0
    while (r.u(1) == 0) {
      q += 1
      require(q <= (1 << 20), "absurd unary quotient — desynced stream")
    }
    q
  }

  /** FLAC's UTF-8-style coded number (RFC 9639 §9.1.5): the frame /
    * sample number, 1-7 bytes, extended past Unicode's 4-byte cap to
    * 36 bits. Continuation bytes must carry the 0b10 prefix. */
  private def readUtf8Coded(r: Bin.MsbReader): Long = {
    val b0 = r.u(8)
    var n = 0
    while (n < 8 && ((b0 << n) & 0x80) != 0) n += 1
    if (n == 0) return b0.toLong
    require(n >= 2 && n <= 7,
      s"invalid UTF-8-coded number lead byte 0x${b0.toHexString}")
    var v = (b0 & (0x7f >> n)).toLong
    var k = 1
    while (k < n) {
      val c = r.u(8)
      require((c & 0xc0) == 0x80,
        s"invalid UTF-8-coded number continuation 0x${c.toHexString}")
      v = (v << 6) | (c & 0x3f)
      k += 1
    }
    v
  }

  private def alignZero(r: Bin.MsbReader): Unit =
    while (r.bitPos % 8 != 0)
      require(r.u(1) == 0, "nonzero frame padding bits")

  private def writeUnary(w: Bin.MsbWriter, q: Int): Unit = {
    var i = 0
    while (i < q) { w.u(0, 1); i += 1 }
    w.u(1, 1)
  }

  /** The write side of readUtf8Coded — minimal-length encoding. */
  private def writeUtf8Coded(w: Bin.MsbWriter, v: Long): Unit = {
    require(v >= 0 && v < (1L << 36), s"coded number $v out of 36-bit range")
    if (v < 0x80) w.u(v.toInt, 8)
    else {
      // payload capacity of the n-byte form: (7-n) + 6(n-1) = 5n+1 bits
      var n = 2
      while (n < 7 && v >= (1L << (5 * n + 1))) n += 1
      w.u((0xff << (8 - n)) & 0xff | (v >> (6 * (n - 1))).toInt, 8)
      var k = n - 2
      while (k >= 0) {
        w.u(0x80 | ((v >> (6 * k)) & 0x3f).toInt, 8)
        k -= 1
      }
    }
  }

  private val AudioBlock = 256

  /** Per-doc stream blocksize: d%11==10 docs use 4096 — the default
    * blocksize real encoders write (blocksize code 1100) — in ONE
    * frame; everyone else keeps 256-sample blocks. */
  def audioBlockOf(d: Long): Int = if (d % 11 == 10) 4096 else 256

  /** Closed-form PRIMARY-channel signal for doc d, frame f, sample j —
    * the contract shared by synthAudio (which ENCODES it), decodeAudio
    * (which must get it back bit-exactly), and the DuckDB oracle
    * (which recomputes it in SQL). Frame f%4 cycles the subframe
    * type: 0 CONSTANT, 1 VERBATIM, 2 FIXED(order 1 + d%4),
    * 3 LPC(order 2, coefficients lpcCoefs(d), shift 5). The LPC case
    * still has a CLOSED FORM because the coefficients only shape the
    * RESIDUALS the encoder writes — the reconstructed signal is this
    * function either way. For stereo ids (d odd) the primary channel
    * is left / right / mid by the frame's decorrelation mode f%3. */
  def sampleAt(d: Long, f: Int, j: Int): Int = ((f % 4) match {
    case 0 => ((d * 31 + f * 7) % 2001) - 1000
    case 1 => ((j * (37 + d % 13) + d + f) % 2001) - 1000
    case 2 => ((d % 200) - 100) + ((j * (1 + d % 5)) % 40) - 20
    case _ => ((j * (3 + d % 7) + 5 * f) % 200) - 100
  }).toInt

  /** Closed-form SIDE-channel signal (stereo ids only): |side| ≤ 128,
    * well inside the 17-bit side-channel width. */
  def sideAt(d: Long, f: Int, j: Int): Int =
    ((j * (2 + d % 3) + d + 2 * f) % 257).toInt - 128

  /** Quantized LPC predictor for the f%4==3 subframes: order 2,
    * precision 5 (coefficients in [-16, 15]), shift 5 —
    * pred(j) = (c1·s(j-1) + c2·s(j-2)) >> 5 (arithmetic shift, per
    * RFC 9639 §9.2.5 with coefficient 0 applying to the most recent
    * sample). */
  def lpcCoefs(d: Long): (Int, Int) =
    ((3 + d % 4).toInt, -(1 + d % 3).toInt)
  private val LpcShift = 5
  private val LpcPrecision = 5

  def audioFrames(d: Long): Int =
    if (d % 11 == 10) 1 else (2 + d % 3).toInt

  /** 1-4 channels: 1 mono, 2 stereo (decorrelated, with per-frame
    * independent switching), 3-4 independent multichannel (channel
    * assignment code = channels − 1, each coded on its own). */
  def audioChannels(d: Long): Int = (1 + d % 4).toInt

  /** Container bit depth: d%9==8 docs are 24-BIT (the studio/lossless
    * standard; ssz code 110, 3-byte MD5 samples, bps+1=25-bit side
    * channels). The sample VALUES are the same closed forms — depth
    * bounds the range, it does not scale the integers — so this is
    * one more PCM-invariant layout axis the oracle never sees. */
  def audioBits(d: Long): Int = if (d % 9 == 8) 24 else 16

  /** Closed-form signal for channel c of a ≥3-channel doc — frame
    * (f+c)%4 == 0 channels are j-constant so CONSTANT subframes stay
    * live on the multichannel path. */
  def chanAt(d: Long, c: Int, f: Int, j: Int): Int =
    (if ((f + c) % 4 == 0) ((d * 13 + f * 7 + c * 29) % 1601) - 800
     else ((j * (2 + (c + d) % 5) + d + f * (c + 1) + 7 * c) % 1601)
       - 800).toInt

  /** Short LAST block (RFC 9639 §8.2 allows the final block below the
    * stream blocksize without the variable strategy): d%6==5 docs
    * append a 64-142-sample tail frame, declared via blocksize code 6
    * (8-bit size−1) or 7 (16-bit) by d%4. 0 = no tail. */
  def tailLen(d: Long): Int =
    if (d % 6 == 5 && d % 11 != 10) (64 + (d % 7) * 13).toInt else 0

  // -- bitstream-layout choices (PCM-invariant, so the DuckDB oracle
  //    never changes when these rules do). Public so FlacSpec can
  //    prove each path genuinely fires inside the fixture id range. --

  /** Rice partition order for (d, f): cycles 0/1/2, so multi-partition
    * residual decode runs on two thirds of residual-bearing subframes.
    * Callers clamp so partition 0 keeps at least one sample. */
  def partitionOrderOf(d: Long, f: Int): Int = ((d + f) % 3).toInt

  /** Escape-coded partitions (RFC 9639 §9.2.7.1: parameter 0b1111 +
    * 5-bit width + verbatim two's-complement residuals) — d%7==3 docs
    * escape alternating partitions, so escaped and Rice-coded
    * partitions coexist inside one subframe. */
  def escapePartition(d: Long, f: Int, pi: Int): Boolean =
    d % 7 == 3 && (pi + f) % 2 == 0

  /** Stereo frames coded as two INDEPENDENT subframes (channel
    * assignment 1) instead of a decorrelated pair — real encoders
    * switch per frame when decorrelation doesn't pay. */
  def independentStereoFrame(d: Long, f: Int): Boolean =
    d % 5 == 2 && f == 1

  /** Docs using the variable-blocksize STRATEGY bit: the frame header
    * carries the first SAMPLE number (f·256 here — multibyte UTF-8
    * from frame 1 on) instead of the frame number. */
  def variableStrategy(d: Long): Boolean = d % 5 == 4

  /** Frame sample-rate coding choice (RFC 9639 §9.1.2) — another
    * PCM-invariant layout axis. (code, inline field width, inline
    * value): 0 = from STREAMINFO; the fixed-table code for the doc's
    * rate; or one of the three end-of-header forms (1100 kHz / 1101
    * Hz / 1110 daHz) where the rate fits the field. */
  def srCodeOf(d: Long, f: Int, rate: Int): (Int, Int, Int) =
    ((d + f) % 4) match {
      case 0 => (0, 0, 0)
      case 1 => rate match { // fixed table entries for fixture rates
        case 44100 => (9, 0, 0)
        case 48000 => (10, 0, 0)
        case _     => (11, 0, 0)
      }
      case 2 =>
        if (rate <= 0xffff) (13, 16, rate) // 16-bit Hz
        else (14, 16, rate / 10) // 16-bit tens of Hz
      case _ =>
        if (rate % 1000 == 0 && rate / 1000 <= 0xff) (12, 8, rate / 1000)
        else (14, 16, rate / 10)
    }

  /** Closed-form decoded (left, right) pair — right is meaningless for
    * mono ids. Derives L/R from (primary, side) exactly as the three
    * decorrelation modes do, including mid/side's carried LSB. */
  def lrAt(d: Long, f: Int, j: Int): (Int, Int) = {
    val p = sampleAt(d, f, j)
    if (d % 2 == 0) (p, 0)
    else {
      val s = sideAt(d, f, j)
      (f % 3) match {
        case 0 => (p, p - s) // left/side
        case 1 => (p + s, p) // right/side
        case _ => // mid/side: mid2 = 2·mid + (side & 1)
          val mid2 = 2 * p + (s & 1)
          ((mid2 + s) >> 1, (mid2 - s) >> 1)
      }
    }
  }

  /** Fixed-predictor value for sample j (RFC 9639 §9.2.4 polynomial
    * predictors, orders 0-4) — shared by the encoder's residual
    * computation and the decoder's reconstruction. */
  private def fixedPredict(s: Array[Int], j: Int, order: Int): Int =
    order match {
      case 0 => 0
      case 1 => s(j - 1)
      case 2 => 2 * s(j - 1) - s(j - 2)
      case 3 => 3 * s(j - 1) - 3 * s(j - 2) + s(j - 3)
      case _ => 4 * s(j - 1) - 6 * s(j - 2) + 4 * s(j - 3) - s(j - 4)
    }

  /** Rice-code `resid` (the subframe's AudioBlock − order residuals)
    * under the (d, f) layout rules: partition order from
    * partitionOrderOf (clamped so partition 0 is non-empty), each
    * partition either escape-coded verbatim (escapePartition) or Rice
    * with the smallest per-partition 4-bit parameter keeping every
    * quotient under 64. */
  private def writeRice(body: Bin.MsbWriter, resid: Seq[Int], order: Int,
      d: Long, f: Int, bs: Int): Unit = {
    var po = partitionOrderOf(d, f)
    while (po > 0 && ((bs >> po) << po != bs || (bs >> po) <= order))
      po -= 1
    require((bs >> po) > order, s"blocksize $bs too small for order $order")
    body.u(0, 2) // residual method 0: 4-bit Rice
    body.u(po, 4)
    val all = resid.toArray
    var pi = 0
    var idx = 0
    while (pi < (1 << po)) {
      val cnt = (bs >> po) - (if (pi == 0) order else 0)
      val part = java.util.Arrays.copyOfRange(all, idx, idx + cnt)
      if (escapePartition(d, f, pi)) {
        var w = 1
        part.foreach { r =>
          val bits = 33 - Integer.numberOfLeadingZeros(if (r < 0) ~r else r)
          if (bits > w) w = bits
        }
        body.u(15, 4)
        body.u(w, 5)
        part.foreach(r => body.u(r & ((1 << w) - 1), w))
      } else {
        val zz = part.map(r => (r << 1) ^ (r >> 31))
        var p = 0
        while (p < 14 && zz.exists(z => (z >>> p) >= 64)) p += 1
        body.u(p, 4)
        zz.foreach { z =>
          writeUnary(body, z >>> p)
          if (p > 0) body.u(z & ((1 << p) - 1), p)
        }
      }
      idx += cnt
      pi += 1
    }
  }

  /** Common trailing-zero count across a block's samples — the wasted
    * bits a real encoder detects and strips (RFC 9639 §9.2.2; e.g.
    * 12-bit audio shipped in a 16-bit container). 0 when any sample
    * has an odd value or every sample is zero; capped below the
    * sample width. Public so FlacSpec can prove the fixture genuinely
    * exercises the path. */
  def wastedBitsOf(samples: Array[Int], bits: Int): Int = {
    var k = bits - 1
    var any = false
    var i = 0
    while (i < samples.length && k > 0) {
      val v = samples(i)
      if (v != 0) {
        any = true
        val tz = Integer.numberOfTrailingZeros(v)
        if (tz < k) k = tz
      }
      i += 1
    }
    if (any) k else 0
  }

  /** One subframe at sample width `bits`. kind: 0 CONSTANT,
    * 1 VERBATIM, 2 FIXED(order), 3 LPC(order 2). When the block's
    * samples share k > 0 trailing zero bits, the subframe is coded
    * with the wasted-bits header (flag 1 + unary k−1) at width
    * bits−k over the shifted-down values — the decoder shifts back. */
  private def writeSubframe(body: Bin.MsbWriter, samples: Array[Int],
      bits: Int, kind: Int, fixedOrder: Int, d: Long, f: Int): Unit = {
    val bs = samples.length
    val k = wastedBitsOf(samples, bits)
    val eb = bits - k
    val s = if (k == 0) samples else samples.map(_ >> k)
    def header(typ: Int): Unit = {
      body.u(0, 1); body.u(typ, 6)
      if (k == 0) body.u(0, 1)
      else { body.u(1, 1); writeUnary(body, k - 1) }
    }
    kind match {
      case 0 =>
        header(0)
        body.u(s(0) & ((1 << eb) - 1), eb)
      case 1 =>
        header(1)
        s.foreach(v => body.u(v & ((1 << eb) - 1), eb))
      case 2 =>
        val order = fixedOrder
        header(8 + order)
        (0 until order).foreach(j =>
          body.u(s(j) & ((1 << eb) - 1), eb))
        writeRice(body, (order until bs).map(j =>
          s(j) - fixedPredict(s, j, order)), order, d, f, bs)
      case _ =>
        val order = 2
        val (c1, c2) = lpcCoefs(d)
        header(32 + (order - 1))
        (0 until order).foreach(j =>
          body.u(s(j) & ((1 << eb) - 1), eb))
        body.u(LpcPrecision - 1, 4)
        body.u(LpcShift, 5)
        body.u(c1 & ((1 << LpcPrecision) - 1), LpcPrecision)
        body.u(c2 & ((1 << LpcPrecision) - 1), LpcPrecision)
        writeRice(body, (order until bs).map { j =>
          val pred = (c1.toLong * s(j - 1) +
            c2.toLong * s(j - 2)) >> LpcShift
          s(j) - pred.toInt
        }, order, d, f, bs)
    }
  }

  /** Real FLAC with audio frames for id d: 16-bit, sr by d%3, channels
    * 1 + d%2, audioFrames(d) fixed-256 blocks. The PRIMARY channel's
    * subframe cycles CONSTANT / VERBATIM / FIXED(order 1+d%4) /
    * LPC(order 2) by f%4; stereo ids cycle the decorrelation mode
    * left/side / right/side / mid/side by f%3 (the side subframe is
    * FIXED(1) at the 17-bit side width, so Rice + warmups run on the
    * widened channel too). Both CRCs are computed for real —
    * decodeAudio verifies them. */
  def synthAudio(d: Long): Array[Byte] = {
    val sr = (d % 3) match {
      case 0 => 44100; case 1 => 48000; case _ => 96000
    }
    val n = audioFrames(d)
    val ch = audioChannels(d)
    val bits = audioBits(d)
    val tail = tailLen(d)
    val blockLen = audioBlockOf(d)
    val total = n.toLong * blockLen + tail
    val out = new java.io.ByteArrayOutputStream(4096)
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    // STREAMINFO, the LAST metadata block here (no tags on the audio
    // fixture — llm_audio_flac_meta owns the tag walk)
    out.write(0x80); out.write(0); out.write(0); out.write(34)
    // MD5 of the unencoded PCM (RFC 9639 §8.2: interleaved,
    // little-endian, whole-byte samples) — computed in a pre-pass
    // over the same closed forms the frames encode, so decodeAudio's
    // end-of-stream MD5 verification is a real integrity check
    val md5 = java.security.MessageDigest.getInstance("MD5")
    locally {
      val nF = n + (if (tail > 0) 1 else 0)
      var f = 0
      while (f < nF) {
        val bs = if (f < n) blockLen else tail
        var j = 0
        while (j < bs) {
          var c = 0
          while (c < ch) {
            val v =
              if (ch == 1) sampleAt(d, f, j)
              else if (ch == 2) {
                val (l, r) = lrAt(d, f, j); if (c == 0) l else r
              } else chanAt(d, c, f, j)
            md5.update((v & 0xff).toByte)
            md5.update(((v >> 8) & 0xff).toByte)
            if (bits == 24) md5.update(((v >> 16) & 0xff).toByte)
            c += 1
          }
          j += 1
        }
        f += 1
      }
    }
    val si = new Array[Byte](34)
    System.arraycopy(md5.digest(), 0, si, 18, 16)
    Bin.put16be(si, 0, blockLen)
    Bin.put16be(si, 2, blockLen)
    si(10) = (sr >> 12).toByte
    si(11) = ((sr >> 4) & 0xff).toByte
    si(12) = (((sr & 0xf) << 4) | ((ch - 1) << 1) |
      ((bits - 1) >> 4)).toByte
    si(13) = ((((bits - 1) & 0xf) << 4) | ((total >> 32) & 0xf)).toInt.toByte
    si(14) = ((total >> 24) & 0xff).toByte
    si(15) = ((total >> 16) & 0xff).toByte
    si(16) = ((total >> 8) & 0xff).toByte
    si(17) = (total & 0xff).toByte
    out.write(si, 0, 34)
    val nFrames = n + (if (tail > 0) 1 else 0)
    var f = 0
    while (f < nFrames) {
      val bs = if (f < n) blockLen else tail
      // channel code: 0000 mono; 0001-0011 = 2-4 independent
      // channels; 1000/1001/1010 = left/side, right/side, mid/side
      val indep = ch == 2 && independentStereoFrame(d, f)
      val chanCode =
        if (ch == 1) 0
        else if (ch >= 3) ch - 1
        else if (indep) 1
        else 8 + (f % 3)
      val variable = variableStrategy(d)
      // blocksize code: 1000 (=256) for full blocks; the short tail
      // block is declared inline — 0110 (8-bit size−1) or 0111
      // (16-bit size−1) so both end-of-header field widths are live
      val bsCode =
        if (bs == 256) 0x8
        else if (bs == 4096) 0xc
        else if (d % 4 == 1) 0x6 else 0x7
      val (srCode, srBits, srVal) = srCodeOf(d, f, sr)
      val w = new Bin.MsbWriter
      // header: sync(14) 11111111111110, reserved 0, blocksize
      // strategy bit, blocksize code, sr code (cycling STREAMINFO /
      // fixed-table / end-of-header forms per srCodeOf), channel
      // code, sample size 100 (16), reserved 0
      w.u(0x3ffe, 14); w.u(0, 1)
      w.u(if (variable) 1 else 0, 1)
      w.u(bsCode, 4); w.u(srCode, 4)
      w.u(chanCode, 4)
      w.u(if (bits == 24) 0x6 else 0x4, 3); w.u(0, 1)
      // UTF-8-coded number: frame index under the fixed strategy, the
      // first SAMPLE number under the variable strategy (multibyte
      // from frame 1 on — 256 needs the 2-byte form)
      writeUtf8Coded(w, if (variable) f.toLong * blockLen else f.toLong)
      // inline blocksize then sample-rate fields follow the coded
      // number, in that order (RFC 9639 §9.1.1: "get from end of
      // header")
      if (bsCode == 0x6) w.u(bs - 1, 8)
      else if (bsCode == 0x7) w.u(bs - 1, 16)
      if (srBits > 0) w.u(srVal, srBits)
      w.align()
      val hdr = w.toBytes
      val body = new Bin.MsbWriter
      val kind = f % 4
      val fixedOrder = (1 + d % 4).toInt
      if (ch == 1) {
        val primary = Array.tabulate(bs)(j => sampleAt(d, f, j))
        writeSubframe(body, primary, bits, kind, fixedOrder, d, f)
      } else if (ch >= 3) {
        // independent multichannel: each channel its own subframe,
        // kind cycling (f+c)%4 — chanAt keeps (f+c)%4==0 j-constant
        // so CONSTANT subframes stay live here too
        var c = 0
        while (c < ch) {
          val v = Array.tabulate(bs)(j => chanAt(d, c, f, j))
          writeSubframe(body, v, bits, (f + c) % 4, fixedOrder, d, f)
          c += 1
        }
      } else if (indep) {
        // two independent 16-bit subframes carrying L and R directly;
        // VERBATIM left + FIXED right keeps Rice/escape layouts live
        // on independently-coded frames too
        val l = Array.tabulate(bs)(j => lrAt(d, f, j)._1)
        val r = Array.tabulate(bs)(j => lrAt(d, f, j)._2)
        writeSubframe(body, l, bits, 1, fixedOrder, d, f)
        writeSubframe(body, r, bits, 2, fixedOrder, d, f)
      } else {
        val primary = Array.tabulate(bs)(j => sampleAt(d, f, j))
        val side = Array.tabulate(bs)(j => sideAt(d, f, j))
        (f % 3) match {
          case 0 => // left/side: primary first, side carries bps+1
            writeSubframe(body, primary, bits, kind, fixedOrder, d, f)
            writeSubframe(body, side, bits + 1, 2, 1, d, f)
          case 1 => // right/side: SIDE subframe first (it is channel 0)
            writeSubframe(body, side, bits + 1, 2, 1, d, f)
            writeSubframe(body, primary, bits, kind, fixedOrder, d, f)
          case _ => // mid/side
            writeSubframe(body, primary, bits, kind, fixedOrder, d, f)
            writeSubframe(body, side, bits + 1, 2, 1, d, f)
        }
      }
      body.align()
      val frame = new java.io.ByteArrayOutputStream(hdr.length + 1024)
      frame.write(hdr, 0, hdr.length)
      frame.write(crc8(hdr, 0, hdr.length))
      val bb = body.toBytes
      frame.write(bb, 0, bb.length)
      val fb = frame.toByteArray
      val c16 = crc16(fb, 0, fb.length)
      out.write(fb, 0, fb.length)
      out.write(Bin.be16(c16))
      f += 1
    }
    out.toByteArray
  }

  final case class FlacAudio(sampleRate: Int, channels: Int,
      samples: Array[Int])

  /** Rice-residual decode into a fresh array of AudioBlock − order
    * values: general partition orders, and escape partitions
    * (parameter 0b1111 → 5-bit width w, then verbatim w-bit
    * two's-complement residuals; w == 0 means all-zero). */
  private def readResiduals(r: Bin.MsbReader, order: Int,
      bs: Int): Array[Int] = {
    val res = new Array[Int](bs - order)
    val method = r.u(2)
    require(method == 0,
      s"residual method $method unsupported (4-bit Rice only)")
    val po = r.u(4)
    require((bs >> po) << po == bs && (bs >> po) > order,
      s"invalid partition order $po for blocksize $bs")
    var part = 0
    var idx = 0
    while (part < (1 << po)) {
      val cnt = (bs >> po) - (if (part == 0) order else 0)
      val p = r.u(4)
      if (p == 15) { // escape: unencoded two's complement at w bits
        val w = r.u(5)
        var s2 = 0
        while (s2 < cnt) {
          res(idx) = if (w == 0) 0 else signed(r.u(w), w)
          idx += 1; s2 += 1
        }
      } else {
        var s2 = 0
        while (s2 < cnt) {
          val zz = (readUnary(r) << p) | (if (p > 0) r.u(p) else 0)
          res(idx) = (zz >>> 1) ^ -(zz & 1)
          idx += 1; s2 += 1
        }
      }
      part += 1
    }
    res
  }

  /** One subframe at sample width `bits`: CONSTANT / VERBATIM /
    * FIXED(0-4) / LPC with quantized integer coefficients + shift.
    * Unsupported constructs fail loudly by name. */
  private def decodeSubframe(r: Bin.MsbReader, bits: Int,
      bs: Int): Array[Int] = {
    require(r.u(1) == 0, "subframe padding bit set")
    val typ = r.u(6)
    // wasted bits (RFC 9639 §9.2.2): flag 1 + unary k−1; the subframe
    // decodes at width bits−k and every sample shifts left k at output
    val k = if (r.u(1) == 1) readUnary(r) + 1 else 0
    require(k < bits, s"wasted bits $k exceed the $bits-bit sample width")
    val eb = bits - k
    val block = new Array[Int](bs)
    typ match {
      case 0 =>
        java.util.Arrays.fill(block, signed(r.u(eb), eb))
      case 1 =>
        var j = 0
        while (j < bs) {
          block(j) = signed(r.u(eb), eb); j += 1
        }
      case t if t >= 8 && t <= 12 =>
        val order = t - 8
        var j = 0
        while (j < order) {
          block(j) = signed(r.u(eb), eb); j += 1
        }
        val res = readResiduals(r, order, bs)
        var i = order
        while (i < bs) {
          block(i) = res(i - order) + fixedPredict(block, i, order)
          i += 1
        }
      case t if t >= 32 =>
        // LPC (RFC 9639 §9.2.5): warmups, precision-1 (4), shift
        // (5, signed — negatives invalid), order quantized
        // coefficients, Rice residuals; pred = (Σ cₖ·s(j-1-k)) >> shift
        val order = (t & 31) + 1
        var j = 0
        while (j < order) {
          block(j) = signed(r.u(eb), eb); j += 1
        }
        val precM1 = r.u(4)
        require(precM1 != 15, "invalid LPC coefficient precision 15")
        val prec = precM1 + 1
        val shiftRaw = r.u(5)
        require(shiftRaw < 16,
          s"negative LPC shift ${shiftRaw - 32} is invalid per spec")
        val coefs = Array.fill(order)(signed(r.u(prec), prec))
        val res = readResiduals(r, order, bs)
        var i = order
        while (i < bs) {
          var acc = 0L
          var k = 0
          while (k < order) {
            acc += coefs(k).toLong * block(i - 1 - k); k += 1
          }
          block(i) = res(i - order) + (acc >> shiftRaw).toInt
          i += 1
        }
      case t => throw new IllegalArgumentException(s"reserved subframe type $t")
    }
    if (k > 0) {
      var i = 0
      while (i < bs) { block(i) = block(i) << k; i += 1 }
    }
    block
  }

  /** Decode the supported FLAC subset for real: metadata walk to the
    * first frame, then per frame — header field checks (both blocksize
    * strategies, with the UTF-8-coded frame/sample number validated
    * against the running position), CRC-8, the subframes (CONSTANT /
    * VERBATIM / FIXED 0-4 / LPC with Rice residuals under general
    * partition orders incl. escape partitions; independent channels or
    * one of the three stereo decorrelation modes with the +1-bit side
    * channel), padding, CRC-16. Stereo output is interleaved
    * [L0, R0, L1, R1, …]. Unsupported constructs fail loudly by
    * name. */
  def decodeAudio(bytes: Array[Byte]): FlacAudio = {
    val m = meta(bytes)
    require(m.channels >= 1 && m.channels <= 8,
      s"invalid FLAC channel count ${m.channels}")
    require(m.bitsPerSample == 16 || m.bitsPerSample == 24,
      s"unsupported FLAC bit depth ${m.bitsPerSample} " +
        "(decode subset is 16/24)")
    // re-walk the metadata blocks to find the first frame
    var off = 4
    var last = false
    while (!last) {
      last = (bytes(off) & 0x80) != 0
      off += 4 + Bin.u24be(bytes, off + 1, bytes.length)
    }
    // allocation guard: an all-CONSTANT 4096-sample frame is ~20
    // bytes, so ~512 samples per file byte bounds every legal stream
    // in the subset; the absolute cap keeps a large hostile file from
    // claiming a multi-GB buffer either way — fail loudly instead of
    // OOMing (the same bomb posture as Pdf.inflate / Codecs.zipEntries)
    require(m.totalSamples >= 0 &&
      m.totalSamples <= bytes.length.toLong * 512 &&
      m.totalSamples.toLong * m.channels <= (1L << 26),
      s"STREAMINFO claims ${m.totalSamples} samples from a " +
        s"${bytes.length}-byte file — corrupt or hostile header")
    val outSamples = new Array[Int](m.totalSamples.toInt * m.channels)
    // the stream blocksize governs every frame but a short last one;
    // STREAMINFO is the first block, so min blocksize sits at byte 8
    val streamBs = Bin.u16be(bytes, 8, bytes.length)
    require(streamBs == 256 || streamBs == 4096,
      s"unsupported stream blocksize $streamBs (decode subset is " +
        "256/4096)")
    var got = 0
    var frameIdx = 0L
    while (off < bytes.length) {
      val r = new Bin.MsbReader(bytes, off, bytes.length, "FLAC frame")
      require(r.u(14) == 0x3ffe, "lost FLAC frame sync")
      require(r.u(1) == 0, "reserved frame-header bit set")
      // blocksize strategy: 0 = fixed (header carries the frame
      // number), 1 = variable (header carries the first SAMPLE number)
      val variable = r.u(1) == 1
      val bsCode = r.u(4)
      require(bsCode == 0x8 || bsCode == 0xc || bsCode == 0x6 ||
        bsCode == 0x7,
        s"unsupported blocksize code $bsCode (decode subset is 256, " +
          "4096, and inline-declared short last blocks)")
      val srCode = r.u(4)
      require(srCode != 15, "invalid sample-rate code 1111")
      val chan = r.u(4)
      require(chan <= 10,
        s"reserved channel assignment $chan")
      // 0-7 = chan+1 independent channels; 8-10 = decorrelated stereo
      val nch = if (chan <= 7) chan + 1 else 2
      require(nch == m.channels,
        s"frame channel assignment $chan contradicts STREAMINFO " +
          s"channels ${m.channels}")
      val ssz = r.u(3)
      val frameBits = ssz match {
        case 4 => 16
        case 6 => 24
        case c =>
          throw new IllegalArgumentException(s"unsupported sample-size code $c " +
          "(decode subset is 16/24)")
      }
      require(frameBits == m.bitsPerSample,
        s"frame sample size $frameBits contradicts STREAMINFO " +
          s"${m.bitsPerSample}")
      require(r.u(1) == 0, "reserved frame-header bit set")
      val fno = readUtf8Coded(r)
      if (variable)
        require(fno == got / m.channels,
          s"frame sample number $fno != expected ${got / m.channels}")
      else
        require(fno == frameIdx,
          s"frame number $fno != expected $frameIdx")
      // inline blocksize field (codes 6/7) follows the coded number
      val bs = bsCode match {
        case 0x8 => 256
        case 0xc => 4096
        case 0x6 => r.u(8) + 1
        case _   => r.u(16) + 1
      }
      // inline sample-rate field follows the blocksize field; every
      // form must agree with STREAMINFO (RFC 9639: the frame header
      // repeats the rate for framing resilience, it cannot change it)
      val frameRate = srCode match {
        case 0  => m.sampleRate
        case 12 => r.u(8) * 1000
        case 13 => r.u(16)
        case 14 => r.u(16) * 10
        case c => // fixed table (RFC 9639 §9.1.2)
          Array(0, 88200, 176400, 192000, 8000, 16000, 22050, 24000,
            32000, 44100, 48000, 96000)(c)
      }
      require(frameRate == m.sampleRate,
        s"frame sample rate $frameRate (code $srCode) contradicts " +
          s"STREAMINFO rate ${m.sampleRate}")
      // only the LAST block may be short (RFC 9639 §8.2) — and it
      // must then be exactly the remaining sample count
      val remaining = m.totalSamples - got / m.channels
      require(bs == math.min(streamBs.toLong, remaining),
        s"frame declares blocksize $bs, expected " +
          s"${math.min(streamBs.toLong, remaining)} " +
          s"($remaining samples remaining)")
      val hdrEnd = (r.bitPos / 8).toInt
      require(crc8(bytes, off, hdrEnd) == r.u(8),
        s"FLAC frame $fno header CRC-8 mismatch")
      if (chan <= 7) {
        // nch independent subframes at the stream bit depth,
        // interleaved on output (mono is the nch == 1 case)
        val chans = Array.fill(nch)(decodeSubframe(r, frameBits, bs))
        Bin.checkRange(got, nch * bs, outSamples.length,
          "more frames than STREAMINFO total samples")
        var j = 0
        while (j < bs) {
          var c = 0
          while (c < nch) {
            outSamples(got + nch * j + c) = chans(c)(j); c += 1
          }
          j += 1
        }
        got += nch * bs
      } else {
        // the side channel carries bps+1 bits: channel 1 in
        // left/side (8) and mid/side (10), channel 0 in right/side (9)
        val bits0 = if (chan == 9) frameBits + 1 else frameBits
        val bits1 = if (chan == 9) frameBits else frameBits + 1
        val c0 = decodeSubframe(r, bits0, bs)
        val c1 = decodeSubframe(r, bits1, bs)
        Bin.checkRange(got, 2 * bs, outSamples.length,
          "more frames than STREAMINFO total samples")
        var j = 0
        while (j < bs) {
          val (lv, rv) = chan match {
            case 8 => (c0(j), c0(j) - c1(j)) // left/side
            case 9 => (c1(j) + c0(j), c1(j)) // right/side
            case _ => // mid/side: the side's LSB rides with the mid
              val mid2 = (c0(j) << 1) | (c1(j) & 1)
              ((mid2 + c1(j)) >> 1, (mid2 - c1(j)) >> 1)
          }
          outSamples(got + 2 * j) = lv
          outSamples(got + 2 * j + 1) = rv
          j += 1
        }
        got += 2 * bs
      }
      alignZero(r)
      val frameEnd = (r.bitPos / 8).toInt
      require(crc16(bytes, off, frameEnd) ==
        Bin.u16be(bytes, frameEnd, bytes.length, "FLAC frame CRC-16"),
        s"FLAC frame $fno CRC-16 mismatch")
      off = frameEnd + 2
      frameIdx += 1
    }
    require(got == outSamples.length,
      s"decoded $got values, STREAMINFO declared ${outSamples.length}")
    // STREAMINFO MD5 (RFC 9639 §8.2): the END-TO-END integrity check —
    // hash the decoded PCM (interleaved, little-endian, whole-byte
    // samples) and compare against the writer's digest. All-zero =
    // unset (legal); the fixture always sets it, so ANY decode bug
    // that survives both frame CRCs still fails here. STREAMINFO is
    // the first block, so its md5 field sits at bytes 26-41.
    val storedMd5 = java.util.Arrays.copyOfRange(bytes, 26, 42)
    if (storedMd5.exists(_ != 0)) {
      val md5 = java.security.MessageDigest.getInstance("MD5")
      var i = 0
      while (i < outSamples.length) {
        md5.update((outSamples(i) & 0xff).toByte)
        md5.update(((outSamples(i) >> 8) & 0xff).toByte)
        if (m.bitsPerSample == 24)
          md5.update(((outSamples(i) >> 16) & 0xff).toByte)
        i += 1
      }
      require(java.util.Arrays.equals(md5.digest(), storedMd5),
        "decoded PCM fails the STREAMINFO MD5 — corrupt stream or " +
          "decoder drift")
    }
    FlacAudio(m.sampleRate, m.channels, outSamples)
  }

  private val audioSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("n_samples", IntegerType),
    StructField("channels", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("peak", IntegerType),
    StructField("zero_cross", LongType),
    StructField("sum_sq", LongType)))

  /** ids → synth real FLAC → decode for real → exact-integer audio
    * features (the llm_audio_decode WAV shape, through the FLAC frame
    * path: Rice + fixed/LPC predictors + stereo decorrelation + both
    * CRCs on the oracle path). Zero crossings are counted PER CHANNEL
    * over the interleaved output and summed. */
  def audioFeatures(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, audioSchema) { d =>
      val a = decodeAudio(synthAudio(d))
      var peak = 0; var zc = 0L; var sq = 0L
      var i = 0
      while (i < a.samples.length) {
        val v = a.samples(i)
        if (math.abs(v) > peak) peak = math.abs(v)
        if (i >= a.channels && a.samples(i - a.channels) < 0 && v >= 0)
          zc += 1
        sq += v.toLong * v
        i += 1
      }
      Iterator.single(Row(d, a.samples.length, a.channels, a.sampleRate, peak,
        zc, sq))
    }

  private val metaSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("bits_per_sample", IntegerType),
    StructField("total_samples", LongType),
    StructField("duration_ms", LongType),
    StructField("n_blocks", IntegerType),
    StructField("title", StringType)))

  /** ids → parsed metadata features over closed-form FLAC shells. */
  def metaFeatures(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, metaSchema) { d =>
      val m = meta(synth(d))
      Iterator.single(Row(d, m.sampleRate, m.channels, m.bitsPerSample,
        m.totalSamples, m.durationMs, m.nBlocks, m.title))
    }
}
