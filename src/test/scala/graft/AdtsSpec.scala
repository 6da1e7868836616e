package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Adts

class AdtsSpec extends AnyFunSuite {

  test("closed-form streams parse to the oracle fields") {
    for (d <- 0L until 80L) {
      val m = Adts.parse(Adts.synth(d))
      assert(m.profile == (d % 3).toInt, s"d=$d")
      assert(m.sampleRate == Array(48000, 44100, 16000)((d % 3).toInt))
      assert(m.channels == (1 + d % 2).toInt)
      val n = (4 + d % 6).toInt
      assert(m.nFrames == n)
      val blocks = (0 until n).map(f => 1 + ((d + f) % 2).toInt).sum
      assert(m.nRawBlocks == blocks)
      assert(m.durationMs == blocks.toLong * 1024 * 1000 / m.sampleRate)
      assert(m.maxFullness ==
        (0 until n).map(f => ((d + 13 * f) % 2048).toInt).max)
    }
  }

  test("defects fail loudly by name") {
    val good = Adts.synth(2L)
    val badSync = good.clone(); badSync(0) = 0x00
    assert(intercept[IllegalArgumentException](Adts.parse(badSync))
      .getMessage.contains("sync"))
    // a CRC-protected header (protection_absent = 0)
    val crc = good.clone(); crc(1) = 0xf0.toByte
    assert(intercept[IllegalArgumentException](Adts.parse(crc))
      .getMessage.contains("CRC"))
    // parameter drift: change the second frame's profile bits
    val len0 = 7 + (50 + (3 * 2) % 400)
    val drift = good.clone()
    drift(len0 + 2) = (drift(len0 + 2) ^ 0x40).toByte
    assert(intercept[IllegalArgumentException](Adts.parse(drift))
      .getMessage.contains("drift"))
    intercept[IllegalArgumentException](Adts.parse(good.take(10)))
  }

}
