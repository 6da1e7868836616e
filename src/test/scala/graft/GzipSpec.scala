package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Gzip

class GzipSpec extends AnyFunSuite {

  test("multi-member streams walk to the closed forms") {
    for (d <- 0L until 80L) {
      val ms = Gzip.members(Gzip.synth(d))
      assert(ms.size == (1 + d % 4).toInt, s"d=$d")
      ms.zipWithIndex.foreach { case (m, i) =>
        assert(m.name == s"m${d}_$i")
        assert(m.mtime == 1700000000L + 60 * d + i)
        assert(m.hasHcrc == ((d + i) % 2 == 0))
        assert(m.contentLen == (30 + (11 * d + 7 * i) % 200).toInt)
      }
    }
  }

  test("the JDK agrees with the member boundaries") {
    // GZIPInputStream in multi-member mode must inflate the SAME
    // total content our walk reports
    for (d <- Seq(0L, 3L, 7L, 13L)) {
      val bytes = Gzip.synth(d)
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes))
      var total = 0L
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { total += n; n = in.read(buf) }
      in.close()
      assert(total == Gzip.members(bytes).map(_.contentLen).sum, s"d=$d")
    }
  }

  test("trailer and header ladders fail loudly") {
    val good = Gzip.synth(2L)
    // flip a byte in the final trailer (ISIZE)
    val badIsize = good.clone()
    badIsize(badIsize.length - 1) = (badIsize(badIsize.length - 1) ^ 1).toByte
    assert(intercept[IllegalArgumentException](Gzip.members(badIsize))
      .getMessage.contains("ISIZE"))
    val badCrc = good.clone()
    badCrc(badCrc.length - 6) = (badCrc(badCrc.length - 6) ^ 1).toByte
    assert(intercept[IllegalArgumentException](Gzip.members(badCrc))
      .getMessage.contains("CRC32"))
    // reserved FLG bit
    val badFlg = good.clone(); badFlg(3) = (badFlg(3) | 0x80).toByte
    assert(intercept[IllegalArgumentException](Gzip.members(badFlg))
      .getMessage.contains("FLG"))
  }

  test("trailing garbage after the last member fails loudly") {
    val garbage = "trailing bytes".getBytes("US-ASCII")
    intercept[IllegalArgumentException](Gzip.members(Gzip.synth(2L) ++ garbage))
    // the WARC read walks the same members; the JDK's stream ignored these
    val warc = graft.operators.Codecs.synthWarcGz(3L)
    intercept[IllegalArgumentException](
      graft.operators.Codecs.warcRecordsGz(warc ++ garbage))
  }

}
