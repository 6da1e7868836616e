package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Hevc

class HevcSpec extends AnyFunSuite {

  test("shell walk matches the closed forms across the id range") {
    for (d <- 0L until 120L) {
      val m = Hevc.nalMeta(Hevc.synthHevcStream(d))
      assert(m.framing == (if (d % 2 == 0) "hvcc" else "annexb"), s"d=$d")
      assert(m.hasVps == (d % 3 != 1), s"d=$d vps")
      val nSlices = (1 + d % 4).toInt
      assert(m.nSlices == nSlices, s"d=$d slices")
      assert(m.nNals == (if (d % 3 != 1) 3 else 2) + nSlices, s"d=$d nals")
      assert(m.tier == (if (d % 7 == 0) 1 else 0), s"d=$d tier")
      assert(m.profile == Array(1, 2, 3)((d % 3).toInt), s"d=$d profile")
      assert(m.level == Array(93, 120, 123, 150, 153)((d % 5).toInt))
      val crop = if (d % 4 == 0) 1 else 0
      val right = if (d % 4 == 0) (1 + ((d / 4) % 2)).toInt else 0
      val bottom = if (d % 4 == 0) ((d / 4) % 2).toInt else 0
      assert(m.width == (8 * (8 + d % 20)).toInt - 2 * right, s"d=$d w")
      assert(m.height == (8 * (6 + d % 15)).toInt - 2 * bottom, s"d=$d h")
      assert(m.chromaFormat == 1)
      val bd = if (m.profile == 2) 10 else 8
      assert(m.bitDepthLuma == bd && m.bitDepthChroma == bd, s"d=$d depth")
      assert(m.ppsRbspLen == (9 + d % 5).toInt, s"d=$d pps")
    }
  }

  test("emulation-prevention unescape is load-bearing for pps_rbsp_len") {
    // the PPS RBSP embeds 00 00 01, so the escaped wire form is one
    // byte longer than the reported RBSP length
    val pps = Hevc.synthPpsNal(6L)
    assert(pps.length == 2 + (9 + 6 % 5) + 1) // header + rbsp + escape
    assert(Hevc.nalMeta(Hevc.synthHevcStream(6L)).ppsRbspLen == 9 + 6 % 5)
  }

  test("defects fail loudly by name") {
    val good = Hevc.synthHevcStream(2L) // hvcc framing
    // forbidden bit on the first NAL (VPS) header byte
    val bad = good.clone()
    bad(4) = (bad(4) | 0x80).toByte
    assert(intercept[IllegalArgumentException](Hevc.nalMeta(bad))
      .getMessage.contains("forbidden"), "forbidden bit")
    // a stream with no SPS: only the VPS NAL survives truncation
    val vpsOnly = good.take(4 + 6)
    intercept[RuntimeException](Hevc.nalMeta(vpsOnly))
    // an alien NAL type (SEI 39) in the shell
    val sei = Array[Byte](0, 0, 0, 2, (39 << 1).toByte, 1)
    val e = intercept[RuntimeException](
      Hevc.nalMeta(good ++ sei))
    assert(e.getMessage.contains("39"), e.getMessage)
  }

  test("hvcC record walk cross-checks both disagreement directions") {
    for (d <- 0L until 60L) {
      val m = Hevc.hvccMeta(Hevc.synthHevcMp4(d))
      assert(m.nVps == 1 && m.nSps == 1 && m.nPps == 1 && m.nalLenSize == 4)
      assert(m.profile == Array(1, 2, 3)((d % 3).toInt), s"d=$d")
      assert(m.level == Array(93, 120, 123, 150, 153)((d % 5).toInt))
      val bd = if (m.profile == 2) 10 else 8
      assert(m.bitDepthLuma == bd && m.bitDepthChroma == bd)
    }
    val good = Hevc.synthHevcMp4(3L)
    def patched(find: Array[Byte], delta: Int, at: Int): Array[Byte] = {
      // lastIndexOfSlice: 'hvc1' also appears in the ftyp brand list
      val i = good.lastIndexOfSlice(find)
      assert(i > 0, "anchor not found")
      val b = good.clone()
      b(i + at) = (b(i + at) + delta).toByte
      b
    }
    // record profile byte (right after configurationVersion=1, which
    // follows the 'hvcC' fourcc)
    val e1 = intercept[IllegalArgumentException](Hevc.hvccMeta(
      patched("hvcC".getBytes("US-ASCII"), 1, 5)))
    assert(e1.getMessage.contains("disagree"), e1.getMessage)
    // hvc1 entry width (offset 24 into the 78-byte entry, +8 fourcc..
    // actually +4 fourcc; entry starts right after 'hvc1')
    val e2 = intercept[IllegalArgumentException](Hevc.hvccMeta(
      patched("hvc1".getBytes("US-ASCII"), 1, 4 + 25)))
    assert(e2.getMessage.contains("dims"), e2.getMessage)
  }


}
