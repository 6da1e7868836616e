package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bin, CodeOps}

class BinSpec extends AnyFunSuite {

  private val rng = new scala.util.Random(8)

  test("fixed-width reads invert the writes at every width and byte order") {
    val b = new Array[Byte](12)
    (0 until 200).foreach { _ =>
      val v = rng.nextLong()
      val o = rng.nextInt(4)
      Bin.put16be(b, o, v.toInt); assert(Bin.u16be(b, o, 12) == (v & 0xffff))
      Bin.put16le(b, o, v.toInt); assert(Bin.u16le(b, o, 12) == (v & 0xffff))
      Bin.put24be(b, o, v.toInt); assert(Bin.u24be(b, o, 12) == (v & 0xffffff))
      Bin.put24le(b, o, v.toInt); assert(Bin.u24le(b, o, 12) == (v & 0xffffff))
      Bin.put32be(b, o, v); assert(Bin.u32be(b, o, 12) == (v & 0xffffffffL))
      Bin.put32le(b, o, v); assert(Bin.u32le(b, o, 12) == (v & 0xffffffffL))
      Bin.put64be(b, o, v); assert(Bin.u64be(b, o, 12) == v)
      Bin.put64le(b, o, v); assert(Bin.u64le(b, o, 12) == v)
      assert(Bin.be16(v.toInt).sameElements(java.nio.ByteBuffer.allocate(2)
        .putShort(v.toShort).array()))
      assert(Bin.be64(v).sameElements(
        java.nio.ByteBuffer.allocate(8).putLong(v).array()))
      assert(Bin.le32(v).sameElements(java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v.toInt).array()))
      assert(Bin.le16(v.toInt).sameElements(Bin.be16(v.toInt).reverse))
      assert(Bin.le24(v.toInt).sameElements(Bin.le32(v).take(3)))
      assert(Bin.be32(v).sameElements(Bin.le32(v).reverse))
      assert(Bin.le64(v).sameElements(Bin.be64(v).reverse))
      assert(Bin.u8(b, o, 12) == (b(o) & 0xff))
    }
  }

  test("the cursor reads back every width, varint and zigzag in order") {
    val out = new java.io.ByteArrayOutputStream()
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    val vals = Seq(0L, 1L, -1L, 127L, 128L, 300L, Long.MaxValue, Long.MinValue) ++
      Seq.fill(50)(rng.nextLong())
    vals.foreach { v =>
      out.write(7)
      out.write(Bin.be16(v.toInt)); out.write(Bin.le16(v.toInt))
      out.write(Bin.le24(v.toInt))
      out.write(Bin.be32(v)); out.write(Bin.le32(v))
      out.write(Bin.be64(v)); out.write(Bin.le64(v))
      varint(v); varint((v << 1) ^ (v >> 63))
      out.write(Array[Byte](1, 2, 3))
    }
    val bytes = out.toByteArray
    val c = new Bin.Cursor(bytes, 0, bytes.length, "test")
    vals.foreach { v =>
      assert(c.u8() == 7)
      assert(c.u16be() == (v & 0xffff) && c.u16le() == (v & 0xffff))
      assert(c.u24le() == (v & 0xffffff))
      assert(c.u32be() == (v & 0xffffffffL) && c.u32le() == (v & 0xffffffffL))
      assert(c.u64be() == v && c.u64le() == v)
      assert(c.varint() == v && c.zigzag() == v)
      assert(c.bytes(3).sameElements(Array[Byte](1, 2, 3)))
    }
    assert(c.remaining == 0 && !c.hasMore)
  }

  test("MSB and LSB bit writers round-trip through their readers") {
    val fields = Seq.fill(500) {
      val n = rng.nextInt(33)
      (if (n == 0) 0 else rng.nextInt() >>> (32 - n), n)
    }
    val mw = new Bin.MsbWriter
    val lw = new Bin.LsbWriter
    fields.foreach { case (v, n) => mw.u(v, n); lw.u(v, n) }
    val total = fields.map(_._2.toLong).sum
    assert(mw.bitPos == total && lw.bitPos == total)
    val mb = mw.toBytes
    val lb = lw.toBytes
    assert(mb.length == (total + 7) / 8 && lb.length == mb.length)
    val mr = new Bin.MsbReader(mb, "msb")
    val lr = new Bin.LsbReader(lb, 0, lb.length, "lsb")
    fields.foreach { case (v, n) =>
      assert(mr.u(n) == v && lr.u(n) == v)
    }
    assert(mr.bitPos == total && mr.remaining == mb.length * 8L - total)
    mr.align(); lr.align()
    assert(mr.remaining == 0 && lr.remaining == 0)
    // byte order on the wire: MSB-first puts the first bit in bit 7
    val one = new Bin.MsbWriter; one.u(1, 1)
    val lone = new Bin.LsbWriter; lone.u(1, 1)
    assert(one.toBytes.sameElements(Array(0x80.toByte)) &&
      lone.toBytes.sameElements(Array(1.toByte)))
  }

  test("Exp-Golomb ue/se round-trip") {
    val w = new Bin.MsbWriter
    val ues = (0 until 300) ++ Seq(65535, (1 << 30) - 2)
    val ses = (-150 to 150) ++ Seq(-(1 << 29), 1 << 29)
    ues.foreach(w.ue); ses.foreach(w.se)
    val r = new Bin.MsbReader(w.toBytes, "eg")
    ues.foreach(v => assert(r.ue() == v))
    ses.foreach(v => assert(r.se() == v))
    // a zero-filled buffer is a run too long for 32 bits, not a spin
    intercept[IllegalArgumentException](
      new Bin.MsbReader(new Array[Byte](16), "eg").ue())
  }

  test("negative, past-end and overflowing offsets throw IllegalArgumentException") {
    val b = new Array[Byte](16)
    val reads: Seq[(String, (Array[Byte], Int, Int) => Any)] = Seq(
      "u8" -> ((a, o, e) => Bin.u8(a, o, e)),
      "u16be" -> ((a, o, e) => Bin.u16be(a, o, e)),
      "u16le" -> ((a, o, e) => Bin.u16le(a, o, e)),
      "u24be" -> ((a, o, e) => Bin.u24be(a, o, e)),
      "u24le" -> ((a, o, e) => Bin.u24le(a, o, e)),
      "u32be" -> ((a, o, e) => Bin.u32be(a, o, e)),
      "u32le" -> ((a, o, e) => Bin.u32le(a, o, e)),
      "u64be" -> ((a, o, e) => Bin.u64be(a, o, e)),
      "u64le" -> ((a, o, e) => Bin.u64le(a, o, e)))
    reads.foreach { case (name, rd) =>
      for ((o, e) <- Seq((-1, 16), (Int.MinValue, 16), (16, 16),
          (Int.MaxValue - 1, 16), (Int.MaxValue, Int.MaxValue), (0, 17),
          (0, -1))) {
        val ex = intercept[IllegalArgumentException](rd(b, o, e))
        assert(ex.getMessage.contains("binary input"), s"$name $o $e")
      }
      rd(b, 8, 16)
    }
    assert(intercept[IllegalArgumentException](Bin.u16be(b, 15, 16, "label"))
      .getMessage.startsWith("label"))
    for ((off, len) <- Seq((-1L, 1L), (0L, -1L), (Int.MaxValue - 1L, 0x20L),
        (0x7ffffff0L, 0x20L), (8L, 9L)))
      intercept[IllegalArgumentException](Bin.checkRange(off, len, 16, "r"))
    Bin.checkRange(16, 0, 16, "r"); Bin.checkRange(0, 16, 16, "r")

    val c = new Bin.Cursor(b, 10, 16, "cursor")
    intercept[IllegalArgumentException](c.u64le())
    intercept[IllegalArgumentException](c.bytes(7))
    intercept[IllegalArgumentException](c.skip(-1))
    intercept[IllegalArgumentException](c.skip(Int.MaxValue.toLong + 1))
    intercept[IllegalArgumentException](new Bin.Cursor(b, 4, 17, "c"))
    intercept[IllegalArgumentException](new Bin.Cursor(b, 5, 4, "c"))
    val tenPlus = Array.fill[Byte](11)(0x80.toByte)
    intercept[IllegalArgumentException](
      new Bin.Cursor(tenPlus, 0, 11, "v").varint())
    intercept[IllegalArgumentException](
      new Bin.Cursor(tenPlus, 0, 5, "v").varint())

    val r = new Bin.MsbReader(b, 14, 16, "bits")
    intercept[IllegalArgumentException](r.u(17))
    intercept[IllegalArgumentException](r.u(33))
    intercept[IllegalArgumentException](r.u(-1))
    intercept[IllegalArgumentException](new Bin.LsbReader(b, 0, 17, "bits"))
    val l = new Bin.LsbReader(b, 15, 16, "bits")
    l.u(8)
    intercept[IllegalArgumentException](l.u(1))
  }

  test("operators/ reads and writes bytes and bits only through Bin") {
    // the four format-defined bit streams: JPEG byte stuffing and
    // zstd's reverse bitstream
    val allowed = Set("Codecs.scala:BitReader", "Codecs.scala:BitWriter",
      "Zstd.scala:BackBits", "Zstd.scala:BackWriter")
    val bitClass = """(?:class|object)\s+(\w*(?:Bit|Msb|Lsb|Golomb)\w*)""".r
    // a masked byte shifted into place, or shift-accumulate loops
    val byte = """\w+\([^()]*\)\s*&\s*0xffL?\s*\)"""
    val shift = """<<\s*(?:8|16|24|32|40|48|56)\b"""
    val assembly = (s"""$byte\\s*$shift\\s*\\)?\\s*\\|""" +
      s"""|\\|\\s*\\(\\(?$byte\\s*$shift""" +
      """|<<\s*8\)\s*\|\s*\(?\w+\([^()]*\)\s*&\s*0xff""").r
    val varint = """0x7fL?\)\s*<<\s*[a-z]\w*""".r
    val defHead = """def\s+(\w+)[^=]*=""".r
    val files = Files.list(Paths.get("src/main/scala/graft/operators"))
      .iterator().asScala.filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "Bin.scala").toSeq
    assert(files.size > 20, "run from the repo root")
    val found = files.flatMap { p =>
      val f = p.getFileName.toString
      val code = CodeOps.strip(new String(Files.readAllBytes(p), "UTF-8")).text
      val classes = bitClass.findAllMatchIn(code).map(m => s"$f:${m.group(1)}")
        .filterNot(allowed)
      val helpers = defHead.findAllMatchIn(code).flatMap { m =>
        val body = code.substring(m.end, math.min(code.length, m.end + 160))
        if (assembly.findFirstIn(body).isDefined) Some(s"$f:def ${m.group(1)}")
        else None
      }
      val varints = varint.findAllIn(code).map(_ => s"$f:varint")
      classes ++ helpers ++ varints
    }
    assert(found.isEmpty, "read and write through operators.Bin: " +
      found.mkString(", "))
  }
}
