package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Flac

class FlacSpec extends AnyFunSuite {

  test("closed-form fixture parses to the oracle's exact fields") {
    for (d <- 0L to 60L) {
      val m = Flac.meta(Flac.synth(d))
      val sr = (d % 3) match {
        case 0 => 44100; case 1 => 48000; case _ => 96000
      }
      val total = 10000L + 37 * d % 50000
      assert(m.sampleRate == sr, s"d=$d")
      assert(m.channels == (1 + d % 2).toInt, s"d=$d")
      assert(m.bitsPerSample == (if (d % 2 == 0) 16 else 24), s"d=$d")
      assert(m.totalSamples == total, s"d=$d")
      assert(m.durationMs == total * 1000L / sr, s"d=$d")
      assert(m.nBlocks == (if (d % 2 == 0) 3 else 2), s"d=$d")
      assert(m.title == s"t${d % 20}", s"d=$d")
    }
  }

  test("bit-packing edges: 8 channels, 32 bps, 36-bit total samples") {
    // hand-build a STREAMINFO-only stream at the field ceilings
    val si = new Array[Byte](34)
    val sr = 655350 // 20-bit max valid rate
    si(10) = (sr >> 12).toByte
    si(11) = ((sr >> 4) & 0xff).toByte
    val ch = 8; val bps = 32
    si(12) = (((sr & 0xf) << 4) | ((ch - 1) << 1) | ((bps - 1) >> 4)).toByte
    val total = (1L << 36) - 1
    si(13) = ((((bps - 1) & 0xf) << 4) | ((total >> 32) & 0xf)).toInt.toByte
    si(14) = ((total >> 24) & 0xff).toByte
    si(15) = ((total >> 16) & 0xff).toByte
    si(16) = ((total >> 8) & 0xff).toByte
    si(17) = (total & 0xff).toByte
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    out.write(0x80); out.write(0); out.write(0); out.write(34)
    out.write(si, 0, 34)
    val m = Flac.meta(out.toByteArray)
    assert(m.sampleRate == sr && m.channels == 8 &&
      m.bitsPerSample == 32 && m.totalSamples == total && m.title == null)
  }

  test("malformed streams fail loudly") {
    val good = Flac.synth(4L)
    // STREAMINFO not first: flip the first block's type to PADDING
    val b1 = good.clone(); b1(4) = 0x01
    intercept[IllegalArgumentException] { Flac.meta(b1) }
    // block length overrunning the file
    val b2 = good.clone(); b2(7) = 0x7f.toByte
    intercept[IllegalArgumentException] { Flac.meta(b2) }
    // truncated before the last block ends
    intercept[IllegalArgumentException] {
      Flac.meta(java.util.Arrays.copyOfRange(good, 0, good.length - 3))
    }
    // wrong magic
    val b3 = good.clone(); b3(0) = 'g'
    intercept[IllegalArgumentException] { Flac.meta(b3) }
    // vorbis length overrun: corrupt the vendor length (LE u32) to huge
    val b4 = good.clone()
    // find the VORBIS_COMMENT block: walk blocks
    var off = 4
    var done = false
    while (!done) {
      val typ = b4(off) & 0x7f
      val len = ((b4(off + 1) & 0xff) << 16) | ((b4(off + 2) & 0xff) << 8) |
        (b4(off + 3) & 0xff)
      if (typ == 4) { b4(off + 4 + 3) = 0x7f.toByte; done = true }
      else off += 4 + len
    }
    intercept[IllegalArgumentException] { Flac.meta(b4) }
  }


  test("frame decode reproduces the closed-form PCM bit-exactly") {
    // every subframe type (CONSTANT / VERBATIM / FIXED 1-4 / LPC 2),
    // 1-4 channels (decorrelated stereo in all three modes,
    // independent multichannel), short tail blocks — compared against
    // the lrAt / chanAt closed forms the oracle recomputes
    for (d <- 0L to 60L) {
      val a = Flac.decodeAudio(Flac.synthAudio(d))
      val n = Flac.audioFrames(d)
      val ch = Flac.audioChannels(d)
      val bs = Flac.audioBlockOf(d)
      val perCh = n * bs + Flac.tailLen(d)
      assert(a.channels == ch, s"d=$d")
      assert(a.samples.length == perCh * ch, s"d=$d")
      val sr = (d % 3) match {
        case 0 => 44100; case 1 => 48000; case _ => 96000
      }
      assert(a.sampleRate == sr, s"d=$d")
      var i = 0
      while (i < perCh) {
        val f = i / bs; val j = i % bs
        if (ch <= 2) {
          val (l, r) = Flac.lrAt(d, f, j)
          if (ch == 1)
            assert(a.samples(i) == l, s"d=$d f=$f j=$j")
          else {
            assert(a.samples(2 * i) == l, s"d=$d f=$f j=$j left")
            assert(a.samples(2 * i + 1) == r, s"d=$d f=$f j=$j right")
          }
        } else {
          var c = 0
          while (c < ch) {
            assert(a.samples(ch * i + c) == Flac.chanAt(d, c, f, j),
              s"d=$d f=$f j=$j c=$c")
            c += 1
          }
        }
        i += 1
      }
    }
  }

  test("short last blocks fire in range and decode exactly to the tail") {
    // at least one fixture doc in [0, 300) must carry each inline
    // blocksize code (0110 = 8-bit, 0111 = 16-bit size fields)
    val tails = (0L until 300L).filter(d => Flac.tailLen(d) > 0)
    assert(tails.exists(_ % 4 == 1), "no 8-bit blocksize field fires")
    assert(tails.exists(_ % 4 != 1), "no 16-bit blocksize field fires")
    // and tails compose with every channel layout in range
    assert(tails.exists(d => Flac.audioChannels(d) >= 3))
    assert(tails.exists(d => Flac.audioChannels(d) == 2))
    assert(tails.exists(d => Flac.variableStrategy(d)))
  }

  test("wasted-bits subframes genuinely fire in the fixture and round-trip") {
    // the encoder detects common trailing zeros per block; prove at
    // least one fixture block in the spec range actually takes the
    // path (an all-k=0 fixture would make the decode branch dead)
    var hit = 0
    for (d <- 0L to 60L; f <- 0 until Flac.audioFrames(d)) {
      val primary = Array.tabulate(256)(j => Flac.sampleAt(d, f, j))
      if (Flac.wastedBitsOf(primary, 16) > 0) hit += 1
    }
    assert(hit > 0, "no fixture block has common trailing zeros — " +
      "the wasted-bits decode path is unexercised")
    // round-trip correctness over the whole range is pinned by the
    // closed-form test above; a hand-built k=2 block pins the width
    // and shift arithmetic in isolation
    val v = Array.tabulate(256)(j => ((j % 7) - 3) * 4) // all ×4 → k=2
    assert(Flac.wastedBitsOf(v, 16) == 2)
  }

  test("stereo modes round-trip the side relation: left - right == side") {
    // pins the decorrelation algebra itself, independent of lrAt
    // (stereo ids are now d%4==1; 17 includes an independent frame,
    // 5 a short tail — the relation holds through both)
    for (d <- Seq(1L, 5L, 13L, 17L, 29L, 33L)) {
      val a = Flac.decodeAudio(Flac.synthAudio(d))
      assert(a.channels == 2, s"d=$d")
      var i = 0
      while (i < a.samples.length / 2) {
        val f = i / 256; val j = i % 256
        assert(a.samples(2 * i) - a.samples(2 * i + 1) ==
          Flac.sideAt(d, f, j), s"d=$d f=$f j=$j")
        i += 1
      }
    }
  }

  test("frame CRCs are verified: one flipped payload bit fails loudly") {
    val good = Flac.synthAudio(5L)
    // find the first frame: after the last metadata block
    var off = 4
    var last = false
    while (!last) {
      last = (good(off) & 0x80) != 0
      val len = ((good(off + 1) & 0xff) << 16) |
        ((good(off + 2) & 0xff) << 8) | (good(off + 3) & 0xff)
      off += 4 + len
    }
    // flip one bit deep in the first frame's subframe payload
    val b = good.clone()
    b(off + 10) = (b(off + 10) ^ 0x10).toByte
    val e = intercept[IllegalArgumentException] { Flac.decodeAudio(b) }
    assert(e.getMessage.contains("CRC"), e.getMessage)
  }

  test("unsupported constructs are rejected by name, never skipped") {
    val good = Flac.synthAudio(0L) // mono, frames CONSTANT + VERBATIM
    var off = 4
    var last = false
    while (!last) {
      last = (good(off) & 0x80) != 0
      val len = ((good(off + 1) & 0xff) << 16) |
        ((good(off + 2) & 0xff) << 8) | (good(off + 3) & 0xff)
      off += 4 + len
    }
    // frame layout: 2 bytes sync/flags, byte2 = bs|sr codes,
    // byte3 = chan|ssz, byte4 = frame number, byte5 = crc8
    def tamper(byteOff: Int, v: Int): Array[Byte] = {
      val b = good.clone()
      b(byteOff) = v.toByte
      // recompute the header CRC so the NAMED rejection fires, not
      // the CRC one (header = 5 bytes up to the crc byte here)
      val hdr = java.util.Arrays.copyOfRange(b, off, off + 5)
      var c = 0
      hdr.foreach { x =>
        c ^= (x & 0xff)
        (0 until 8).foreach { _ =>
          c = if ((c & 0x80) != 0) ((c << 1) ^ 0x07) & 0xff
              else (c << 1) & 0xff
        }
      }
      b(off + 5) = c.toByte
      b
    }
    // an independent-STEREO frame under a mono STREAMINFO must be the
    // named contradiction, not a silent decode (chan=0001 → 2 channels)
    val e1 = intercept[IllegalArgumentException] {
      Flac.decodeAudio(tamper(off + 3, 0x18)) }
    assert(e1.getMessage.contains("contradicts"), e1.getMessage)
    // a decorrelated-stereo frame under a mono STREAMINFO likewise
    // (chan=1000)
    val e1b = intercept[IllegalArgumentException] {
      Flac.decodeAudio(tamper(off + 3, 0x88)) }
    assert(e1b.getMessage.contains("contradicts"), e1b.getMessage)
    // reserved channel assignment 1011
    val e1c = intercept[IllegalArgumentException] {
      Flac.decodeAudio(tamper(off + 3, 0xb8)) }
    assert(e1c.getMessage.contains("reserved channel assignment"),
      e1c.getMessage)
    // a wrong frame number (this mono fixture's frame 0 claims to be
    // frame 3) must fail the running-position validation by name
    val e2 = intercept[IllegalArgumentException] {
      Flac.decodeAudio(tamper(off + 4, 0x03)) }
    assert(e2.getMessage.contains("frame number"), e2.getMessage)
    // a lone UTF-8 continuation byte as the coded number
    val e2b = intercept[IllegalArgumentException] {
      Flac.decodeAudio(tamper(off + 4, 0x80)) }
    assert(e2b.getMessage.contains("UTF-8-coded"), e2b.getMessage)
    // reserved subframe type 13 (001101) — FIXED stops at order 4; the
    // subframe header byte sits right after the crc8 byte
    val b3 = good.clone()
    b3(off + 6) = 0x1a.toByte // 0 pad, 001101 type, 0 wasted
    val e3 = intercept[RuntimeException] { Flac.decodeAudio(b3) }
    assert(e3.getMessage.contains("reserved subframe type"), e3.getMessage)
  }

  test("partition orders, escapes, independent stereo, and variable " +
      "numbering all fire inside the query's id range") {
    // every new bitstream-layout path must be live in [0, 300) — the
    // llm_audio_flac_decode filter — or its decode branch is dead code
    // behind an oracle that can't see it (the PCM is layout-invariant)
    var multiPart = 0; var escaped = 0; var indep = 0; var variable = 0
    var multibyte = 0
    for (d <- 0L until 300L) {
      val n = Flac.audioFrames(d)
      val ch = Flac.audioChannels(d)
      for (f <- 0 until n) {
        val kind = f % 4
        // residual-bearing subframes: FIXED/LPC primaries, and the
        // FIXED(1) side/right subframes on non-independent stereo
        val hasResiduals = kind >= 2 ||
          (ch == 2 && !Flac.independentStereoFrame(d, f))
        val po = Flac.partitionOrderOf(d, f)
        if (hasResiduals && po > 0) multiPart += 1
        if (hasResiduals && (0 until (1 << po)).exists(pi =>
          Flac.escapePartition(d, f, pi))) escaped += 1
        if (ch == 2 && Flac.independentStereoFrame(d, f)) indep += 1
      }
      if (Flac.variableStrategy(d)) {
        variable += 1
        if (n > 1) multibyte += 1 // frame 1's sample number 256 ≥ 0x80
      }
    }
    assert(multiPart > 0, "no multi-partition residual block fires")
    assert(escaped > 0, "no escape partition fires")
    assert(indep > 0, "no independent-stereo frame fires")
    assert(variable > 0, "no variable-strategy doc fires")
    assert(multibyte > 0, "no multibyte UTF-8 coded number fires")
    // and the closed-form bit-exactness test above covers d ≤ 60,
    // which includes members of every class — prove that here so the
    // decode coverage isn't an accident of the 0-60 window
    assert((0L to 60L).exists(d => Flac.variableStrategy(d) &&
      Flac.audioFrames(d) > 1))
    assert((0L to 60L).exists(d => d % 7 == 3))
    assert((0L to 60L).exists(d => Flac.audioChannels(d) == 2 &&
      Flac.audioFrames(d) > 1 && Flac.independentStereoFrame(d, 1)))
    // 24-bit docs (ssz 110, 25-bit side channels, 3-byte MD5 samples)
    // fire inside the closed-form window too, crossed with stereo
    assert((0L to 60L).exists(d => Flac.audioBits(d) == 24))
    assert((0L to 60L).exists(d => Flac.audioBits(d) == 24 &&
      Flac.audioChannels(d) == 2))
  }

  test("escape partitions round-trip on the 17-bit side channel") {
    // pin the w-bit two's-complement escape read on the widened
    // channel specifically: d%7==3 stereo docs escape partitions of
    // the FIXED(1) side subframe, whose warmup width is 17
    val wide = (0L until 300L).find(d => d % 7 == 3 &&
      Flac.audioChannels(d) == 2).get
    val a = Flac.decodeAudio(Flac.synthAudio(wide))
    var i = 0
    while (i < a.samples.length / 2) {
      val f = i / 256; val j = i % 256
      val (l, r) = Flac.lrAt(wide, f, j)
      assert(a.samples(2 * i) == l && a.samples(2 * i + 1) == r,
        s"d=$wide f=$f j=$j")
      i += 1
    }
  }

  test("sample-rate codes cycle all four forms and the STREAMINFO MD5 " +
      "is a live end-to-end check") {
    // every sr coding form fires in the query range
    val codes = (0L until 300L).flatMap(d => (0 until
      (Flac.audioFrames(d) + (if (Flac.tailLen(d) > 0) 1 else 0))).map {
      f =>
        val sr = (d % 3) match {
          case 0 => 44100; case 1 => 48000; case _ => 96000
        }
        Flac.srCodeOf(d, f, sr)._1
    }).toSet
    assert(Set(0, 9, 10, 11, 12, 13, 14).subsetOf(codes),
      s"sr code forms missing from the fixture: got $codes")
    // tamper ONE stored MD5 byte: both frame CRCs still pass, so only
    // the end-to-end check can catch it — and it must, by name
    val good = Flac.synthAudio(9L)
    val b = good.clone()
    b(30) = (b(30) ^ 0x40).toByte
    val e = intercept[IllegalArgumentException] { Flac.decodeAudio(b) }
    assert(e.getMessage.contains("MD5"), e.getMessage)
    // all-zero md5 = unset, decode proceeds (third-party writers)
    val z = good.clone()
    java.util.Arrays.fill(z, 26, 42, 0.toByte)
    assert(Flac.decodeAudio(z).samples.length ==
      Flac.decodeAudio(good).samples.length)
  }

}
