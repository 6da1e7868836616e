package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Exif

class ExifSpec extends AnyFunSuite {

  test("closed-form fixture parses exactly, both byte orders") {
    for (d <- 0L to 60L) {
      val m = Exif.parse(Exif.synth(d))
      assert(m.endian == (if (d % 2 == 0) "II" else "MM"), s"d=$d")
      assert(m.nEntries == 4, s"d=$d")
      assert(m.orientation == (1 + d % 8).toInt, s"d=$d")
      assert(m.width == (100 + d % 50).toInt, s"d=$d")
      assert(m.make == s"cam${d % 5}", s"d=$d")
      assert(m.dateTime ==
        f"2024:01:${1 + d % 9}%02d 12:00:${d % 10}%02d", s"d=$d")
    }
  }

  test("malformed Exif fails loudly") {
    val good = Exif.synth(3L)
    // kill the APP1 marker → walk reaches EOI without Exif
    val app1 = {
      var i = 2
      while (!((good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xe1))
        i += 2 + (((good(i + 2) & 0xff) << 8) | (good(i + 3) & 0xff))
      i
    }
    val b1 = good.clone(); b1(app1 + 1) = 0xe2.toByte
    intercept[RuntimeException] { Exif.parse(b1) }
    // corrupt the TIFF magic
    val b2 = good.clone(); b2(app1 + 12) = 7
    intercept[RuntimeException] { Exif.parse(b2) }
    // value offset overrunning the segment: corrupt Make's offset
    val b3 = good.clone()
    // not a JPEG at all
    intercept[RuntimeException] { Exif.parse("png".getBytes) }
    intercept[RuntimeException] { Exif.parse(Array[Byte](0xff.toByte,
      0xd8.toByte, 0xff.toByte, 0xd9.toByte)) }
  }

}
