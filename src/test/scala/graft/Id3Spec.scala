package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Id3

class Id3Spec extends AnyFunSuite {

  test("closed-form fixture parses to the oracle's exact tags") {
    for (d <- 0L to 60L) {
      val t = Id3.parse(Id3.synth(d))
      assert(t.title == s"t${d % 20}", s"d=$d")
      assert(t.artist == s"a${d % 13}", s"d=$d")
      assert(t.album == (if (d % 2 == 0) s"b${d % 7}" else null), s"d=$d")
      assert(t.year == (1990 + d % 30).toInt, s"d=$d")
      assert(t.nFrames == (if (d % 2 == 0) 4 else 3), s"d=$d")
      // tag size = frames + padding; frame = 10 hdr + 1 enc + text
      def fl(s: String) = 11 + s.length
      val frames = fl(s"t${d % 20}") + fl(s"a${d % 13}") +
        (if (d % 2 == 0) fl(s"b${d % 7}") else 0) + fl((1990 + d % 30).toString)
      assert(t.tagSize == frames + (3 + d % 6).toInt, s"d=$d")
    }
  }

  test("syncsafe size arithmetic at the 7-bit boundaries") {
    // hand-build a tag whose size needs all four syncsafe bytes
    val text = "x" * 300 // frame 312 bytes → tag size > 127 (2 bytes)
    val t = text.getBytes("ISO-8859-1")
    val out = new java.io.ByteArrayOutputStream()
    val frameLen = 10 + 1 + t.length
    out.write("ID3".getBytes); out.write(3); out.write(0); out.write(0)
    val sz = frameLen
    out.write((sz >> 21) & 0x7f); out.write((sz >> 14) & 0x7f)
    out.write((sz >> 7) & 0x7f); out.write(sz & 0x7f)
    out.write("TIT2".getBytes)
    val fsz = t.length + 1
    out.write(fsz >> 24); out.write((fsz >> 16) & 0xff)
    out.write((fsz >> 8) & 0xff); out.write(fsz & 0xff)
    out.write(0); out.write(0); out.write(0)
    out.write(t, 0, t.length)
    val parsed = Id3.parse(out.toByteArray)
    assert(parsed.title == text && parsed.tagSize == 311)
  }

  test("malformed tags fail loudly") {
    val good = Id3.synth(5L)
    // sync bit set in a size byte
    val b1 = good.clone(); b1(6) = (b1(6) | 0x80).toByte
    intercept[IllegalArgumentException] { Id3.parse(b1) }
    // v2.4 major version out of subset
    val b2 = good.clone(); b2(3) = 4
    intercept[IllegalArgumentException] { Id3.parse(b2) }
    // frame size overrunning the tag
    val b3 = good.clone(); b3(14) = 0x7f.toByte
    intercept[IllegalArgumentException] { Id3.parse(b3) }
    // UTF-16 encoding byte (out of subset) — flip TIT2's encoding
    val b4 = good.clone(); b4(20) = 1
    intercept[IllegalArgumentException] { Id3.parse(b4) }
    intercept[IllegalArgumentException] { Id3.parse("MP3".getBytes) }
  }

}
