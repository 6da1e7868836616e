package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Avc

class AvcSpec extends AnyFunSuite {

  test("I-frame decode reproduces the closed-form planes bit-exactly") {
    // 4 MBs exercise I_PCM, Intra16x16-DC at QP 48 (slice QP 24 plus a
    // +24 delta), I_4x4-DC back at QP 24, and a second I_PCM; every id
    // varies the PCM values and the Hadamard-domain DC level together,
    // so a wrong zigzag, butterfly, dequant shift, prediction average,
    // or CAVLC code point shows up as a plane mismatch here.
    for (d <- 0L to 120L) {
      val f = Avc.decodeIFrame(Avc.synthIFrame(d))
      assert(f.width == 64 && f.height == 16, s"d=$d")
      var i = 0
      while (i < f.y.length) {
        val mb = (i % 64) / 16
        assert(f.y(i) == Avc.lumaOfMb(d, mb), s"d=$d luma i=$i mb=$mb")
        i += 1
      }
      i = 0
      while (i < f.cb.length) {
        val mb = (i % 32) / 8
        val (cbv, crv) = Avc.chromaOfMb(d, mb)
        assert(f.cb(i) == cbv, s"d=$d cb i=$i mb=$mb")
        assert(f.cr(i) == crv, s"d=$d cr i=$i mb=$mb")
        i += 1
      }
    }
  }

  test("unsupported constructs are rejected by name, never skipped") {
    // non-IDR slice NAL (P/B inter prediction boundary)
    val good = Avc.synthIFrame(7L)
    val idrAt = {
      var p = -1
      var i = 0
      while (p < 0 && i + 4 < good.length) {
        if (good(i) == 0 && good(i + 1) == 0 && good(i + 2) == 0 &&
          good(i + 3) == 1 && (good(i + 4) & 0x1f) == 5) p = i + 4
        i += 1
      }
      p
    }
    assert(idrAt > 0)
    val b1 = good.clone()
    b1(idrAt) = 0x61.toByte // nal_ref_idc 3, type 1 (non-IDR)
    val e1 = intercept[RuntimeException] { Avc.decodeIFrame(b1) }
    assert(e1.getMessage.contains("non-IDR") ||
      e1.getMessage.contains("I-frames"), e1.getMessage)
    // CABAC PPS: entropy_coding_mode is the first bit after the two
    // ue(0) ids, i.e. bit 2 of the PPS RBSP's first byte
    val ppsAt = {
      var p = -1
      var i = 0
      while (p < 0 && i + 4 < good.length) {
        if (good(i) == 0 && good(i + 1) == 0 && good(i + 2) == 0 &&
          good(i + 3) == 1 && (good(i + 4) & 0x1f) == 8) p = i + 5
        i += 1
      }
      p
    }
    val b2 = good.clone()
    b2(ppsAt) = (b2(ppsAt) | 0x20).toByte
    val e2 = intercept[RuntimeException] { Avc.decodeIFrame(b2) }
    assert(e2.getMessage.contains("CABAC") ||
      e2.getMessage.contains("entropy"), e2.getMessage)
    // non-baseline SPS profile
    val spsAt = {
      var p = -1
      var i = 0
      while (p < 0 && i + 4 < good.length) {
        if (good(i) == 0 && good(i + 1) == 0 && good(i + 2) == 0 &&
          good(i + 3) == 1 && (good(i + 4) & 0x1f) == 7) p = i + 5
        i += 1
      }
      p
    }
    val b3 = good.clone()
    b3(spsAt) = 100.toByte // High profile
    val e3 = intercept[RuntimeException] { Avc.decodeIFrame(b3) }
    assert(e3.getMessage.contains("baseline"), e3.getMessage)
  }

  test("AVC-in-MP4 keyframes decode through the avcC + sample walk") {
    for (d <- 0L to 30L) {
      val mp4 = Avc.synthIdrMp4(d)
      val (sps, pps, lenSize) = graft.operators.Codecs.avccParameterSets(mp4)
      assert(lenSize == 4, s"d=$d")
      val slices = graft.operators.Codecs.mp4SampleSlices(mp4)
      assert(slices.length == (1 + d % 3).toInt, s"d=$d")
      slices.foreach { case (k, slice) =>
        val f = Avc.decodeIFrame(
          Avc.avccSampleToAnnexB(sps, pps, lenSize, slice))
        val s = d + 1000L * k
        var i = 0
        while (i < f.y.length) {
          val mb = (i % 64) / 16
          assert(f.y(i) == Avc.lumaOfMb(s, mb), s"d=$d k=$k i=$i")
          i += 1
        }
      }
    }
  }

  test("AVCC reframe rejects truncated and overrunning NAL lengths") {
    val mp4 = Avc.synthIdrMp4(2L)
    val (sps, pps, lenSize) = graft.operators.Codecs.avccParameterSets(mp4)
    val (_, slice) = graft.operators.Codecs.mp4SampleSlices(mp4).head
    // overrunning declared length
    val b1 = slice.clone(); b1(0) = 0x7f.toByte
    val e1 = intercept[IllegalArgumentException] {
      Avc.avccSampleToAnnexB(sps, pps, lenSize, b1) }
    assert(e1.getMessage.contains("overruns"), e1.getMessage)
    // truncated length prefix: chop mid-prefix
    val b2 = java.util.Arrays.copyOfRange(slice, 0, slice.length + 2)
    val len = ((slice(0) & 0xff) << 24) | ((slice(1) & 0xff) << 16) |
      ((slice(2) & 0xff) << 8) | (slice(3) & 0xff)
    assert(4 + len == slice.length) // single-NAL sample; +2 junk bytes
    val e2 = intercept[IllegalArgumentException] {
      Avc.avccSampleToAnnexB(sps, pps, lenSize, b2) }
    assert(e2.getMessage.contains("truncated"), e2.getMessage)
  }

}
