package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Sfnt

class SfntSpec extends AnyFunSuite {

  test("fonts walk to the closed forms") {
    for (d <- 0L until 80L) {
      val m = Sfnt.parse(Sfnt.synth(d))
      assert(m.nTables == 4, s"d=$d")
      assert(m.unitsPerEm == Array(1000, 1024, 2048)((d % 3).toInt))
      assert(m.numGlyphs == (100 + d % 900).toInt)
      assert(m.xMin == -(d % 200).toInt && m.yMax == (900 + d % 300).toInt)
      assert(m.family == s"Font${d % 50}")
      assert(m.locFormat == (d % 2).toInt)
    }
  }

  test("both checksum ladders fail loudly") {
    val good = Sfnt.synth(3L)
    // flip a byte deep inside a table payload: its directory checksum
    // (or the font-wide adjustment) must catch it
    val bad = good.clone()
    bad(bad.length - 3) = (bad(bad.length - 3) ^ 0x10).toByte
    val e = intercept[RuntimeException](Sfnt.parse(bad))
    assert(e.getMessage.contains("checksum") ||
      e.getMessage.contains("checkSumAdjustment"), e.getMessage)
    // flip the adjustment itself: the whole-file ladder fires
    val badAdj = good.clone()
    // head is the second table alphabetically (glyf, head, maxp, name)
    val headOff = (Sfnt.synth(3L).length, {
      // locate via the directory: entry 1 offset field at 12+16+8
      val o = ((good(12 + 16 + 8) & 0xff) << 24) |
        ((good(12 + 16 + 9) & 0xff) << 16) |
        ((good(12 + 16 + 10) & 0xff) << 8) | (good(12 + 16 + 11) & 0xff)
      o
    })._2
    badAdj(headOff + 8) = (badAdj(headOff + 8) ^ 1).toByte
    val e2 = intercept[RuntimeException](Sfnt.parse(badAdj))
    assert(e2.getMessage.contains("checkSumAdjustment") ||
      e2.getMessage.contains("checksum"), e2.getMessage)
  }

  test("a table range that overflows Int fails loudly, not out of bounds") {
    // first directory entry: offset 0x7FFFFFF0, length 0x20 — the sum
    // wraps negative in Int arithmetic
    val b = Sfnt.synth(0)
    Array(0x7f, 0xff, 0xff, 0xf0, 0, 0, 0, 0x20).zipWithIndex.foreach {
      case (v, i) => b(12 + 8 + i) = v.toByte
    }
    intercept[IllegalArgumentException](Sfnt.parse(b))
  }
}
