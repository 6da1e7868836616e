package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Codecs, Ico}

class IcoSpec extends AnyFunSuite {

  test("favicons decode to the per-entry closed forms") {
    for (d <- 0L until 60L) {
      val es = Ico.entries(Ico.synth(d))
      assert(es.size == (1 + d % 3).toInt, s"d=$d")
      es.zipWithIndex.foreach { case (e, i) =>
        val dim = 8 + 4 * i
        assert(e.width == dim && e.height == dim && e.bpp == 32)
        val img = Codecs.synthBmp(d + 100L * i, dim, dim)
        var sr = 0L
        img.pixels.foreach(_.foreach { case (r, _, _) => sr += r })
        assert(e.sumR == sr, s"d=$d i=$i")
      }
    }
  }

  test("the 0-means-256 dimension rule decodes on a crafted directory") {
    // a 256x256 PNG entry whose directory bytes are 0/0
    val png = Codecs.encodePng(Codecs.synthBmp(9L, 256, 256))
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >> 16) & 0xffff) }
    w16(0); w16(1); w16(1)
    out.write(0); out.write(0) // width/height bytes: 0 = 256
    out.write(0); out.write(0); w16(1); w16(32)
    w32(png.length); w32(6 + 16)
    out.write(png, 0, png.length)
    val e = Ico.entries(out.toByteArray).head
    assert(e.width == 256 && e.height == 256)
  }

  test("defects fail loudly by name") {
    val good = Ico.synth(5L) // 3 entries
    // overlap: point entry 1 at entry 0's payload
    val overlap = good.clone()
    val off0 = (good(6 + 12) & 0xff) | ((good(6 + 13) & 0xff) << 8)
    overlap(6 + 16 + 12) = (off0 & 0xff).toByte
    overlap(6 + 16 + 13) = ((off0 >> 8) & 0xff).toByte
    overlap(6 + 16 + 14) = 0; overlap(6 + 16 + 15) = 0
    val e1 = intercept[IllegalArgumentException](Ico.entries(overlap))
    assert(e1.getMessage.contains("overlap") ||
      e1.getMessage.contains("escape"), e1.getMessage)
    // a non-PNG payload
    val bmpish = good.clone()
    val off = (good(6 + 12) & 0xff) | ((good(6 + 13) & 0xff) << 8)
    bmpish(off) = 0x28 // BITMAPINFOHEADER size byte
    val e2 = intercept[IllegalArgumentException](Ico.entries(bmpish))
    assert(e2.getMessage.contains("BMP-DIB"), e2.getMessage)
    // bad type
    val badType = good.clone(); badType(2) = 2
    assert(intercept[IllegalArgumentException](Ico.entries(badType))
      .getMessage.contains("type"))
  }

}
