package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CodeOps, Deflate}

class DeflateSpec extends AnyFunSuite {

  private val rng = new scala.util.Random(1951)

  private def sample(): Array[Byte] = {
    val n = rng.nextInt(20000)
    // half the inputs compress well, half are noise
    if (rng.nextBoolean()) Array.tabulate[Byte](n)(i => (i % 7 + i / 500).toByte)
    else Array.fill[Byte](n)(rng.nextInt(256).toByte)
  }

  test("zlib and raw streams round-trip random inputs") {
    (0 until 60).foreach { t =>
      val plain = sample()
      Seq(false, true).foreach { raw =>
        val z = Deflate.deflate(plain, raw)
        val back = Deflate.inflate(z, 0, z.length, raw, "t")
        assert(back.sameElements(plain), s"trial $t raw=$raw")
        // the directory-size path: an exact cap is enough
        assert(Deflate.inflate(z, 0, z.length, raw, "t", cap = plain.length)
          .sameElements(plain), s"trial $t raw=$raw exact cap")
      }
    }
  }

  test("output past the cap is rejected by name; no stream reaches the 1032:1 bound") {
    val plain = new Array[Byte](100000)
    val z = Deflate.deflate(plain, raw = true)
    val e = intercept[IllegalArgumentException](Deflate.inflate(z, 0, z.length,
      raw = true, "avro: block 3", cap = plain.length - 1))
    assert(e.getMessage.startsWith("avro: block 3: inflates past 99999 bytes"),
      e.getMessage)
    // zeros sit at DEFLATE's best ratio, just under the bound, so the
    // bound never rejects a stream; it only stops a lying cap (a ZIP
    // directory's u32 usize) from sizing the output array
    val zeros = new Array[Byte](8 << 20)
    val best = Deflate.deflate(zeros, raw = true)
    assert(zeros.length > 1000L * best.length, s"${best.length} bytes")
    assert(zeros.length <= Deflate.bound(best.length))
    val back = Deflate.inflate(best, 0, best.length, raw = true, "zip",
      cap = 1L << 40)
    assert(back.sameElements(zeros))
    // a stream that declares fewer input bytes than it needs stalls
    // rather than inflating past the bound of the declared length
    val e2 = intercept[IllegalArgumentException](Deflate.inflate(best, 0,
      best.length / 8, raw = true, "FlateDecode"))
    assert(e2.getMessage == "FlateDecode: truncated deflate stream", e2.getMessage)
  }

  test("truncated input and a preset-dictionary header throw IllegalArgumentException") {
    val z = Deflate.deflate(Array.tabulate[Byte](5000)(i => (i * 31).toByte),
      raw = false)
    val e1 = intercept[IllegalArgumentException](
      Deflate.inflate(z, 0, z.length / 2, raw = false, "PNG IDAT"))
    assert(e1.getMessage == "PNG IDAT: truncated deflate stream", e1.getMessage)
    // 0x78 0x20: a header-valid zlib stream with FDICT set
    val fdict = Array[Byte](0x78, 0x20, 1, 2, 3, 4)
    val e2 = intercept[IllegalArgumentException](
      Deflate.inflate(fdict, 0, fdict.length, raw = false, "PNG IDAT"))
    assert(e2.getMessage == "PNG IDAT: preset-dictionary stream unsupported",
      e2.getMessage)
    // an invalid block type is a corrupt stream, not a stray
    // DataFormatException
    val bad = Array[Byte](0x78, 0x9c.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte)
    val e3 = intercept[IllegalArgumentException](
      Deflate.inflate(bad, 0, bad.length, raw = false, "PNG IDAT"))
    assert(e3.getMessage.startsWith("PNG IDAT: corrupt deflate stream"),
      e3.getMessage)
    // a range outside the array fails before any inflate
    intercept[IllegalArgumentException](
      Deflate.inflate(z, 4, z.length, raw = false, "PNG IDAT"))
  }

  test("the consumed-byte count splits two raw streams placed back to back") {
    (0 until 20).foreach { t =>
      val a = sample(); val b = sample()
      val za = Deflate.deflate(a, raw = true)
      val zb = Deflate.deflate(b, raw = true)
      val both = za ++ zb
      val (outA, usedA) = Deflate.inflatePrefix(both, 0, both.length,
        raw = true, "t")
      assert(usedA == za.length && outA.sameElements(a), s"trial $t first")
      val (outB, usedB) = Deflate.inflatePrefix(both, usedA, both.length - usedA,
        raw = true, "t")
      assert(usedB == zb.length && outB.sameElements(b), s"trial $t second")
    }
  }

  test("src/main touches the JDK's zlib only in operators/Deflate") {
    val zlib = """\b(?:Inflater|Deflater|GZIPInputStream|GZIPOutputStream|DataFormatException)\b""".r
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 40, "run from the repo root")
    val found = files.filterNot(_.getFileName.toString == "Deflate.scala")
      .flatMap { p =>
        val code = CodeOps.strip(new String(Files.readAllBytes(p), "UTF-8")).text
        zlib.findAllIn(code).map(w => s"${p.getFileName}:$w")
      }
    assert(found.isEmpty, "inflate and deflate through operators.Deflate: " +
      found.mkString(", "))
  }
}
