package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Avc, Fmp4}

class Fmp4Spec extends AnyFunSuite {

  test("fragment walk matches the closed forms across the id range") {
    for (d <- 0L until 60L) {
      val samples = Fmp4.fragmentSamples(Fmp4.synthFmp4Data(d))
      val nf = (2 + d % 3).toInt
      val geometry = (0 until nf).map(j => if (j % 2 == 1) 1 else 2)
      assert(samples.size == geometry.sum, s"d=$d count")
      val base = 512 + d % 100
      var k = 0
      var tfdt = 0L
      geometry.zipWithIndex.foreach { case (ns, j) =>
        (0 until ns).foreach { _ =>
          val s = samples(k)
          assert(s.fragIdx == j && s.seq == j + 1, s"d=$d k=$k frag")
          assert(s.tfdt == tfdt, s"d=$d k=$k tfdt")
          assert(s.globalIdx == k)
          val sz = (100 + (7 * d + 13 * k) % 900).toInt
          assert(s.size == sz, s"d=$d k=$k size")
          assert(s.fromDefault == (j % 2 == 1), s"d=$d k=$k default")
          var sum = 0L
          (0 until sz).foreach(p => sum += ((7 * d + 13 * k + p) % 251))
          assert(s.byteSum == sum, s"d=$d k=$k checksum")
          k += 1
        }
        tfdt += ns.toLong * (base + (if (j % 2 == 0) j + 1 else 0))
      }
    }
  }

  test("AVCC fragments decode to the per-seed I-frame planes") {
    for (d <- Seq(0L, 1L, 5L, 7L, 12L)) {
      val bytes = Fmp4.synthIdrFmp4(d)
      val samples = Fmp4.fragmentSamples(bytes)
      samples.foreach { s =>
        val seed = d + 1000L * s.globalIdx
        val ref = Avc.decodeIFrame(Avc.synthIFrame(seed))
        // the fragment slice is AVCC; reframe and decode
        val (sps, pps, lenSize) =
          graft.operators.Codecs.avccParameterSets(bytes)
        val got = Avc.decodeIFrame(
          Avc.avccSampleToAnnexB(sps, pps, lenSize, s.slice))
        assert(got.width == ref.width && got.height == ref.height)
        assert(got.y.sameElements(ref.y), s"d=$d k=${s.globalIdx} luma")
        assert(got.cb.sameElements(ref.cb) && got.cr.sameElements(ref.cr))
      }
    }
  }

  test("defect classes fail loudly by name") {
    val good = Fmp4.synthFmp4Data(3L) // d%5 != 0: moof-relative base
    // truncated mid-moof
    val moofAt = {
      var i = 0
      var at = -1
      while (at < 0 && i + 8 <= good.length) {
        if (new String(good, i + 4, 4, "US-ASCII") == "moof") at = i
        else i += 1
      }
      at
    }
    assert(moofAt > 0)
    intercept[IllegalArgumentException](
      Fmp4.fragmentSamples(good.take(moofAt + 24)))
    // tfdt drift: bump the second fragment's tfdt payload
    val drift = good.clone()
    var hits = 0
    var i = 0
    while (i + 8 <= drift.length) {
      if (new String(drift, i + 4, 4, "US-ASCII") == "tfdt") {
        hits += 1
        if (hits == 2) drift(i + 8 + 4 + 3) = (drift(i + 8 + 4 + 3) + 1).toByte
      }
      i += 1
    }
    assert(hits >= 2)
    val e = intercept[IllegalArgumentException](Fmp4.fragmentSamples(drift))
    assert(e.getMessage.contains("drift"), e.getMessage)
    // missing mvex: plain moov-path file has no trex
    val classic = graft.operators.Codecs.synthMp4Data(3L)
    val e2 = intercept[RuntimeException](Fmp4.fragmentSamples(classic))
    assert(e2.getMessage.contains("mvex"), e2.getMessage)
  }

  test("explicit 64-bit base-data-offset path round-trips") {
    // d % 5 == 0 puts an absolute base offset in fragment 0's tfhd
    for (d <- Seq(0L, 5L, 10L, 25L)) {
      val samples = Fmp4.fragmentSamples(Fmp4.synthFmp4Data(d))
      assert(samples.nonEmpty)
      val sz0 = (100 + (7 * d) % 900).toInt
      assert(samples.head.size == sz0)
    }
  }

}
