package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Icc

class IccSpec extends AnyFunSuite {

  test("closed-form profiles parse to the oracle fields") {
    for (d <- 0L until 100L) {
      val m = Icc.parse(Icc.synth(d))
      assert(m.verMajor == (if (d % 2 == 0) 4 else 2), s"d=$d")
      assert(m.verMinor == (if (d % 2 == 0) 3 else 4))
      assert(m.deviceClass == Seq("mntr", "scnr", "prtr")((d % 3).toInt))
      assert(m.colorSpace == (if ((d / 3) % 2 == 0) "RGB " else "GRAY"))
      assert(m.pcs == (if (d % 5 == 0) "Lab" else "XYZ"))
      assert(m.intent == (d % 4).toInt)
      assert(m.year == (2020 + d % 6).toInt && m.month == (1 + d % 12).toInt)
      assert(m.nTags == (2 + d % 3).toInt)
    }
  }

  test("defects fail loudly by name") {
    val good = Icc.synth(1L)
    val noAcsp = good.clone(); noAcsp(36) = 'X'.toByte
    assert(intercept[IllegalArgumentException](Icc.parse(noAcsp))
      .getMessage.contains("acsp"))
    val badSize = good.clone(); badSize(3) = (badSize(3) + 1).toByte
    assert(intercept[IllegalArgumentException](Icc.parse(badSize))
      .getMessage.contains("size"))
    // a tag escaping the profile: bump the last tag's size high byte
    val nTags = (2 + 1 % 3)
    val escaped = good.clone()
    escaped(132 + 12 * (nTags - 1) + 8) = 0x7f
    assert(intercept[IllegalArgumentException](Icc.parse(escaped))
      .getMessage.contains("escapes"))
  }

}
