package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Codecs, Mp3Side}

class Mp3SideSpec extends AnyFunSuite {

  test("side info round-trips with the exact byte widths") {
    for (d <- 0L until 80L; f <- 0 until 3; nch <- Seq(1, 2)) {
      val bytes = Mp3Side.encode(d, f, nch)
      assert(bytes.length == (if (nch == 1) 17 else 32))
      val si = Mp3Side.parse(bytes, 0, nch)
      assert(si.mainDataBegin == ((d + 7 * f) % 512).toInt, s"d=$d f=$f")
      si.grans.zipWithIndex.foreach { case (gc, i) =>
        val g = i / nch
        val c = i % nch
        assert(gc.part23Len ==
          ((3 * d + 11 * f + 17 * g + 23 * c) % 4096).toInt)
        assert(gc.bigValues == ((d + 5 * f + g + c) % 289).toInt)
        assert(gc.globalGain == ((d + 2 * f + 3 * g + 5 * c) % 256).toInt)
        assert(gc.windowSwitching == ((d + f + g + c) % 3 == 0))
        if (gc.windowSwitching)
          assert(gc.blockType == (1 + (d + g + c) % 3).toInt)
      }
    }
  }

  test("every synthMp3 frame carries parseable side info") {
    for (d <- 0L until 40L) {
      val bytes = Codecs.synthMp3(d)
      // the original header walk must be unaffected by the embedded
      // side info (frame lengths unchanged)
      val m = Codecs.mp3Meta(bytes)
      assert(m.nFrames == (5 + d % 7).toInt, s"d=$d frames")
    }
  }

}
