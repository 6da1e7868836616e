package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.Codecs
import graft.operators.Codecs.{Bmp, Wav}

/** The real codec bodies must round-trip bit-exactly — including the
  * layout corners the fixture queries don't hit (odd widths with
  * 4-byte row padding, extreme sample values, sign extension).
  * scalacheck Gens sampled directly, per OperatorPropsSpec (the
  * scalatestplus bridge is not in the offline cache). */
class CodecsSpec extends AnyFunSuite with WalkerFuzz {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val pixelGen = Gen.zip(
    Gen.choose(0, 255), Gen.choose(0, 255), Gen.choose(0, 255))

  test("BMP encode/decode round-trips arbitrary pixels, incl. padded strides") {
    val imgGen = for {
      w <- Gen.choose(1, 9) // widths 1..9 exercise stride padding 0..3
      h <- Gen.choose(1, 7)
      px <- Gen.listOfN(h, Gen.listOfN(w, pixelGen))
    } yield Bmp(w, h, px.map(_.toArray).toArray)
    val imgs = samples(imgGen, 60)
    assert(imgs.size >= 50)
    imgs.foreach { img =>
      val back = Codecs.decodeBmp(Codecs.encodeBmp(img))
      assert(back.width == img.width && back.height == img.height)
      assert(back.pixels.flatten.toSeq == img.pixels.flatten.toSeq,
        s"pixel mismatch at ${img.width}x${img.height}")
    }
  }

  test("WAV encode/decode round-trips the full i16 range") {
    val wavGen = for {
      n <- Gen.choose(1, 300)
      s <- Gen.listOfN(n, Gen.choose(-32768, 32767))
    } yield Wav(8000, s.toArray)
    val wavs = samples(wavGen, 60) :+
      Wav(8000, Array(-32768, 32767, 0, -1, 1))
    wavs.foreach { w =>
      val back = Codecs.decodeWav(Codecs.encodeWavPcm16(w))
      assert(back.sampleRate == w.sampleRate)
      assert(back.samples.toSeq == w.samples.toSeq)
    }
  }

  test("resizeNearest samples floor(dst*src/dstDim) positions") {
    val img = Codecs.synthBmp(7L, 16, 12)
    val small = Codecs.resizeNearest(img, 8, 6)
    (0 until 6).foreach { y =>
      (0 until 8).foreach { x =>
        assert(small.pixels(y)(x) == img.pixels(2 * y)(2 * x))
      }
    }
    // non-integral ratio too
    val odd = Codecs.resizeNearest(img, 5, 5)
    (0 until 5).foreach { y =>
      (0 until 5).foreach { x =>
        assert(odd.pixels(y)(x) == img.pixels(y * 12 / 5)(x * 16 / 5))
      }
    }
  }

  test("decode rejects non-media payloads loudly") {
    intercept[IllegalArgumentException](Codecs.decodeBmp("nope".getBytes))
    intercept[IllegalArgumentException](Codecs.decodeWav("nope".getBytes))
    intercept[IllegalArgumentException](Codecs.decodePng("nope".getBytes))
  }

  test("decode rejects malformed-but-tagged payloads loudly") {
    // top-down BMP (negative biHeight) — reject, don't NegativeArraySize
    val bmp = Codecs.encodeBmp(Codecs.synthBmp(1L, 4, 3))
    val topDown = bmp.clone()
    topDown(25) = 0xff.toByte // height 3 -> negative i32le
    topDown(24) = 0xfd.toByte
    intercept[IllegalArgumentException](Codecs.decodeBmp(topDown))
    // truncated BMP pixel data
    intercept[IllegalArgumentException](
      Codecs.decodeBmp(java.util.Arrays.copyOf(bmp, bmp.length - 8)))
    // WAV with a non-'data' chunk at offset 36 (e.g. a LIST chunk)
    val wav = Codecs.encodeWavPcm16(Codecs.synthWav(1L, 16))
    val listChunk = wav.clone()
    listChunk(36) = 'L'; listChunk(37) = 'I'; listChunk(38) = 'S'; listChunk(39) = 'T'
    intercept[IllegalArgumentException](Codecs.decodeWav(listChunk))
    // WAV whose declared data size exceeds the payload
    val shortWav = java.util.Arrays.copyOf(wav, wav.length - 6)
    intercept[IllegalArgumentException](Codecs.decodeWav(shortWav))
  }

  private def pngChunkBytes(typ: String, data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val len = new Array[Byte](4)
    len(0) = ((data.length >> 24) & 0xff).toByte
    len(1) = ((data.length >> 16) & 0xff).toByte
    len(2) = ((data.length >> 8) & 0xff).toByte
    len(3) = (data.length & 0xff).toByte
    out.write(len)
    val tb = typ.getBytes("US-ASCII")
    out.write(tb); out.write(data)
    val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(data)
    val cv = crc.getValue.toInt
    out.write(Array[Byte](((cv >> 24) & 0xff).toByte, ((cv >> 16) & 0xff).toByte,
      ((cv >> 8) & 0xff).toByte, (cv & 0xff).toByte))
    out.toByteArray
  }

  test("decode rejects hostile headers loudly (no OOM, no hang)") {
    // BMP declaring width 2^30: Int rowStride would overflow negative
    // and sail past the truncation check into a giant allocation
    val bmp = Codecs.encodeBmp(Codecs.synthBmp(1L, 4, 3))
    val wide = bmp.clone()
    wide(18) = 0; wide(19) = 0; wide(20) = 0; wide(21) = 0x40.toByte
    val e1 = intercept[IllegalArgumentException](Codecs.decodeBmp(wide))
    assert(e1.getMessage.contains("truncated"), e1.getMessage)
    // PNG IHDR declaring 2^28 x 2^28 (valid CRC): must bound BEFORE
    // allocating, not NegativeArraySize/OOM
    val ihdr = new Array[Byte](13)
    ihdr(0) = 0x10; ihdr(4) = 0x10 // w = h = 0x10000000
    ihdr(8) = 8; ihdr(9) = 2
    val sig = Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)
    val hugePng = sig ++ pngChunkBytes("IHDR", ihdr) ++
      pngChunkBytes("IDAT", Array[Byte](0x78, 0x01)) ++
      pngChunkBytes("IEND", Array.emptyByteArray)
    val e2 = intercept[IllegalArgumentException](Codecs.decodePng(hugePng))
    assert(e2.getMessage.contains("too large"), e2.getMessage)
    // PNG whose zlib stream sets FDICT (preset dictionary): inflate()
    // makes no progress but needsInput() stays false — must error, not
    // spin the decode loop forever. 0x78 0x20: (0x7820 % 31 == 0, bit
    // 0x20 = FDICT set) is a header-valid zlib stream.
    val good = Codecs.encodePng(Codecs.synthBmp(2L, 4, 4))
    val ihdrEnd = 8 + 25
    val iendStart = good.length - 12
    val fdictPng = good.take(ihdrEnd) ++
      pngChunkBytes("IDAT", Array[Byte](0x78, 0x20, 1, 2, 3, 4)) ++
      good.drop(iendStart)
    val e3 = intercept[IllegalArgumentException](Codecs.decodePng(fdictPng))
    assert(e3.getMessage.contains("IDAT"), e3.getMessage)
  }

  test("a bad deflate stream under a valid IDAT CRC fails as IllegalArgumentException") {
    val good = Codecs.encodePng(Codecs.synthBmp(2L, 4, 4))
    val ihdrEnd = 8 + 25
    val iendStart = good.length - 12
    def withIdat(z: Array[Byte]): Array[Byte] =
      good.take(ihdrEnd) ++ pngChunkBytes("IDAT", z) ++ good.drop(iendStart)
    // an invalid block type (BTYPE 11) right after the zlib header
    val badBlock = withIdat(Array[Byte](0x78, 0x9c.toByte, 0xff.toByte,
      0xff.toByte, 0xff.toByte))
    val e1 = intercept[IllegalArgumentException](Codecs.decodePng(badBlock))
    assert(e1.getMessage.contains("IDAT"), e1.getMessage)
    // the real stream with its Adler-32 trailer flipped
    val idatLen = graft.operators.Bin.u32be(good, ihdrEnd, good.length).toInt
    val z = good.slice(ihdrEnd + 8, ihdrEnd + 8 + idatLen)
    z(z.length - 1) = (z(z.length - 1) ^ 1).toByte
    val e2 = intercept[IllegalArgumentException](Codecs.decodePng(withIdat(z)))
    assert(e2.getMessage.contains("IDAT"), e2.getMessage)
  }

  test("PNG encode/decode round-trips arbitrary pixels with cycling filters") {
    val imgGen = for {
      w <- Gen.choose(1, 9)
      h <- Gen.choose(1, 7)
      px <- Gen.listOfN(h, Gen.listOfN(w, pixelGen))
    } yield Bmp(w, h, px.map(_.toArray).toArray)
    val imgs = samples(imgGen, 60)
    assert(imgs.size >= 50)
    imgs.foreach { img =>
      val back = Codecs.decodePng(Codecs.encodePng(img))
      assert(back.width == img.width && back.height == img.height)
      assert(back.pixels.flatten.toSeq == img.pixels.flatten.toSeq,
        s"pixel mismatch at ${img.width}x${img.height}")
    }
  }

  test("PNG round-trips under each single filter type 0-4") {
    // One image per filter type, every row filtered the same way, so a
    // broken unfilter path cannot hide behind its working neighbors.
    val img = Codecs.synthBmp(42L, 16, 12)
    (0 to 4).foreach { f =>
      val back = Codecs.decodePng(Codecs.encodePng(img, _ => f))
      assert(back.pixels.flatten.toSeq == img.pixels.flatten.toSeq,
        s"filter type $f does not round-trip")
    }
  }

  test("Adam7 interlaced PNG round-trips arbitrary pixels and sizes") {
    // property sweep like the sequential test, PLUS the geometry edge
    // cases where whole passes are empty (any dim < 5 skips passes)
    val imgGen = for {
      w <- Gen.choose(1, 19)
      h <- Gen.choose(1, 13)
      px <- Gen.listOfN(h, Gen.listOfN(w, pixelGen))
    } yield Bmp(w, h, px.map(_.toArray).toArray)
    val imgs = samples(imgGen, 60)
    assert(imgs.size >= 50)
    (imgs ++ Seq(Codecs.synthBmp(7L, 1, 1), Codecs.synthBmp(8L, 2, 2),
      Codecs.synthBmp(9L, 5, 3), Codecs.synthBmp(10L, 3, 5),
      Codecs.synthBmp(11L, 8, 8))).foreach { img =>
      val enc = Codecs.encodePng(img, interlaced = true)
      // IHDR interlace byte must actually say Adam7
      assert(enc(8 + 8 + 12) == 1, "interlace flag not set")
      val back = Codecs.decodePng(enc)
      assert(back.width == img.width && back.height == img.height)
      assert(back.pixels.flatten.toSeq == img.pixels.flatten.toSeq,
        s"Adam7 pixel mismatch at ${img.width}x${img.height}")
    }
  }

  test("Adam7 round-trips under each single filter type 0-4") {
    val img = Codecs.synthBmp(43L, 16, 12)
    (0 to 4).foreach { f =>
      val back = Codecs.decodePng(
        Codecs.encodePng(img, _ => f, interlaced = true))
      assert(back.pixels.flatten.toSeq == img.pixels.flatten.toSeq,
        s"Adam7 filter type $f does not round-trip")
    }
  }

  test("Adam7 decode matches the JDK's ImageIO on our own stream") {
    // independent-decoder cross-check, like the JPEG rows
    val img = Codecs.synthBmp(44L, 17, 11)
    val enc = Codecs.encodePng(img, interlaced = true)
    val jdk = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(enc))
    assert(jdk != null, "ImageIO could not read the interlaced PNG")
    assert(jdk.getWidth == 17 && jdk.getHeight == 11)
    for (y <- 0 until 11; x <- 0 until 17) {
      val rgb = jdk.getRGB(x, y)
      val want = img.pixels(y)(x)
      assert(((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff) == want,
        s"ImageIO disagrees at ($x,$y)")
    }
  }

  test("PALETTE PNG round-trips arbitrary pixels, both scan layouts") {
    // ≤256 distinct colors always holds at these sizes; bpp=1 filters
    // mean Sub/Paeth offsets differ from truecolor — a broken palette
    // path cannot hide behind the RGB tests
    val imgGen = for {
      w <- Gen.choose(1, 19)
      h <- Gen.choose(1, 13)
      px <- Gen.listOfN(h, Gen.listOfN(w, pixelGen))
    } yield Bmp(w, h, px.map(_.toArray).toArray)
    samples(imgGen, 40).foreach { img =>
      Seq(false, true).foreach { il =>
        val enc = Codecs.encodePng(img, interlaced = il, colorType = 3)
        assert(enc(8 + 8 + 9) == 3, "IHDR color type not palette")
        val back = Codecs.decodePng(enc)
        assert(back.pixels.flatten.toSeq == img.pixels.flatten.toSeq,
          s"palette mismatch at ${img.width}x${img.height} interlaced=$il")
      }
    }
    // and the JDK's independent decoder agrees on our palette stream
    val img = Codecs.synthBmp(45L, 16, 12)
    val jdk = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      Codecs.encodePng(img, colorType = 3)))
    assert(jdk != null, "ImageIO could not read the palette PNG")
    for (y <- 0 until 12; x <- 0 until 16) {
      val rgb = jdk.getRGB(x, y)
      assert(((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff) ==
        img.pixels(y)(x), s"ImageIO disagrees at ($x,$y)")
    }
  }

  test("GRAYSCALE PNG round-trips; non-gray pixels are rejected at encode") {
    val gray = Bmp(9, 7, Array.tabulate(7, 9) { (y, x) =>
      val v = (13 * x + 31 * y) % 256; (v, v, v)
    })
    Seq(false, true).foreach { il =>
      val back = Codecs.decodePng(
        Codecs.encodePng(gray, interlaced = il, colorType = 0))
      assert(back.pixels.flatten.toSeq == gray.pixels.flatten.toSeq,
        s"gray mismatch interlaced=$il")
    }
    val e = intercept[IllegalArgumentException](
      Codecs.encodePng(Codecs.synthBmp(1L, 8, 8), colorType = 0))
    assert(e.getMessage.contains("r==g==b"), e.getMessage)
  }

  test("palette PNG edge cases fail loudly: >256 colors, missing PLTE, " +
      "out-of-range index, PLTE in grayscale") {
    // >256 distinct colors cannot be palette-encoded
    val big = Bmp(32, 32, Array.tabulate(32, 32)((y, x) =>
      (x * 8 % 256, y * 8 % 256, (x + y) % 256)))
    assert(big.pixels.flatten.distinct.length > 256)
    val e1 = intercept[IllegalArgumentException](
      Codecs.encodePng(big, colorType = 3))
    assert(e1.getMessage.contains("256"), e1.getMessage)
    // splice the PLTE chunk OUT: decode must name the missing palette
    val pal = Codecs.encodePng(Codecs.synthBmp(6L, 6, 4), colorType = 3)
    val plteOff = 8 + 25 // sig + IHDR chunk
    assert(new String(pal, plteOff + 4, 4, "US-ASCII") == "PLTE")
    val plteLen = ((pal(plteOff) & 0xff) << 24) |
      ((pal(plteOff + 1) & 0xff) << 16) |
      ((pal(plteOff + 2) & 0xff) << 8) | (pal(plteOff + 3) & 0xff)
    val cut = pal.take(plteOff) ++ pal.drop(plteOff + 12 + plteLen)
    val e2 = intercept[IllegalArgumentException](Codecs.decodePng(cut))
    assert(e2.getMessage.contains("PLTE"), e2.getMessage)
    // shrink the PLTE to one entry (fresh CRC): indices ≥ 1 must be
    // rejected by name, not silently wrapped
    val one = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(pal, 0, plteOff)
      out.write(Array[Byte](0, 0, 0, 3))
      val tb = "PLTE".getBytes("US-ASCII")
      val body = Array[Byte](9, 9, 9)
      out.write(tb); out.write(body)
      val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(body)
      val cv = crc.getValue.toInt
      out.write(Array[Byte](((cv >> 24) & 0xff).toByte,
        ((cv >> 16) & 0xff).toByte, ((cv >> 8) & 0xff).toByte,
        (cv & 0xff).toByte))
      out.write(pal, plteOff + 12 + plteLen,
        pal.length - plteOff - 12 - plteLen)
      out.toByteArray
    }
    val e3 = intercept[IllegalArgumentException](Codecs.decodePng(one))
    assert(e3.getMessage.contains("palette index"), e3.getMessage)
    // PLTE inside a grayscale stream is a spec violation — reject
    val g = Codecs.encodePng(Bmp(4, 3, Array.tabulate(3, 4) { (_, _) =>
      (7, 7, 7)
    }), colorType = 0)
    val plte = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array[Byte](0, 0, 0, 3))
      val tb = "PLTE".getBytes("US-ASCII")
      val body = Array[Byte](1, 2, 3)
      out.write(tb); out.write(body)
      val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(body)
      val cv = crc.getValue.toInt
      out.write(Array[Byte](((cv >> 24) & 0xff).toByte,
        ((cv >> 16) & 0xff).toByte, ((cv >> 8) & 0xff).toByte,
        (cv & 0xff).toByte))
      out.toByteArray
    }
    val spliced = g.take(8 + 25) ++ plte ++ g.drop(8 + 25)
    val e4 = intercept[IllegalArgumentException](Codecs.decodePng(spliced))
    assert(e4.getMessage.contains("grayscale"), e4.getMessage)
  }

  test("PNG decode validates chunk CRC") {
    val png = Codecs.encodePng(Codecs.synthBmp(3L, 8, 8))
    val corrupt = png.clone()
    // flip a byte inside the IDAT payload (after sig + IHDR chunk)
    corrupt(8 + 25 + 20) = (corrupt(8 + 25 + 20) ^ 0x5a).toByte
    intercept[IllegalArgumentException](Codecs.decodePng(corrupt))
  }

  test("PNG decode skips ancillary chunks") {
    // splice a tEXt chunk between IHDR and IDAT; decode must ignore it
    val png = Codecs.encodePng(Codecs.synthBmp(5L, 6, 4))
    val ihdrEnd = 8 + 25
    val payload = "graft".getBytes("US-ASCII")
    val chunk = new java.io.ByteArrayOutputStream()
    val len = Array[Byte](0, 0, 0, payload.length.toByte)
    chunk.write(len)
    val tb = "tEXt".getBytes("US-ASCII")
    chunk.write(tb); chunk.write(payload)
    val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(payload)
    val cv = crc.getValue.toInt
    chunk.write(Array[Byte](((cv >> 24) & 0xff).toByte, ((cv >> 16) & 0xff).toByte,
      ((cv >> 8) & 0xff).toByte, (cv & 0xff).toByte))
    val spliced = png.take(ihdrEnd) ++ chunk.toByteArray ++ png.drop(ihdrEnd)
    val back = Codecs.decodePng(spliced)
    assert(back.pixels.flatten.toSeq ==
      Codecs.synthBmp(5L, 6, 4).pixels.flatten.toSeq)
  }

  test("UTF-16 decode round-trips both endiannesses incl. surrogate pairs") {
    val strGen = Gen.listOf(Gen.oneOf(
      Gen.choose(0x20, 0x7e), Gen.choose(0x100, 0xd7ff),
      Gen.choose(0x10000, 0x10ffff))).map(cps =>
      cps.map(cp => new String(Character.toChars(cp))).mkString)
    samples(strGen, 60).foreach { s =>
      Seq(true, false).foreach { le =>
        val out = new java.io.ByteArrayOutputStream()
        s.toCharArray.foreach { c =>
          if (le) { out.write(c & 0xff); out.write((c >> 8) & 0xff) }
          else { out.write((c >> 8) & 0xff); out.write(c & 0xff) }
        }
        val (t, r) = Codecs.decodeUtf16(out.toByteArray, le)
        assert(t == s && r == 0, s"le=$le len=${s.length}")
      }
    }
  }

  test("UTF-16 lone surrogates and odd tails are counted replacements") {
    // lone high surrogate followed by a normal char: FFFD + the char
    val b1 = Array[Byte](0xd8.toByte, 0x00, 0x00, 0x41) // BE: D800, 0041
    val (t1, r1) = Codecs.decodeUtf16(b1, littleEndian = false)
    assert(t1 == "�A" && r1 == 1)
    // lone low surrogate
    val b2 = Array[Byte](0xdc.toByte, 0x00) // BE: DC00
    val (t2, r2) = Codecs.decodeUtf16(b2, littleEndian = false)
    assert(t2 == "�" && r2 == 1)
    // odd trailing byte
    val (t3, r3) = Codecs.decodeUtf16(Array[Byte](0x41, 0x00, 0x42),
      littleEndian = true)
    assert(t3 == "A�" && r3 == 1)
  }

  test("a BOM overrides the declared charset; BOM-less bytes do not") {
    // UTF-16LE bytes under a UTF-8 declaration: without the BOM rule
    // this is mojibake; with it, the text survives
    val payload = "café 😀"
    val le = new java.io.ByteArrayOutputStream()
    le.write(0xff); le.write(0xfe)
    payload.toCharArray.foreach { c =>
      le.write(c & 0xff); le.write((c >> 8) & 0xff)
    }
    val (cs, text, repl) = Codecs.decodeWithBom(le.toByteArray, "UTF-8")
    assert(cs == "UTF-16LE" && text == payload && repl == 0)
    // BOM-less: the declaration is used verbatim
    val (cs2, text2, _) =
      Codecs.decodeWithBom("plain".getBytes("UTF-8"), "UTF-8")
    assert(cs2 == "UTF-8" && text2 == "plain")
    // a UTF-8 BOM is consumed, not leaked into the text
    val withBom = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
      "x".getBytes("UTF-8")
    val (cs3, text3, _) = Codecs.decodeWithBom(withBom, "ISO-8859-1")
    assert(cs3 == "UTF-8" && text3 == "x")
  }

  test("JPEG shell round-trips metadata over the synth parameter space") {
    (0L until 400L).foreach { d =>
      val m = Codecs.jpegMeta(Codecs.synthJpeg(d))
      assert(m.width == (64 + d % 193).toInt, s"width d=$d")
      assert(m.height == (48 + (3 * d) % 157).toInt, s"height d=$d")
      assert(m.nComponents == (if (d % 5 == 0) 1 else 3), s"ncomp d=$d")
      assert(m.progressive == (d % 2 == 1), s"progressive d=$d")
    }
    // arbitrary params, both SOF markers, both component counts
    val gen = for {
      w <- Gen.choose(1, 0xffff); h <- Gen.choose(1, 0xffff)
      n <- Gen.oneOf(1, 3); p <- Gen.oneOf(true, false)
      c <- Gen.choose(0, 200)
    } yield (w, h, n, p, c)
    samples(gen, 60).foreach { case (w, h, n, p, c) =>
      val m = Codecs.jpegMeta(Codecs.encodeJpegShell(w, h, n, p, c))
      assert(m == Codecs.JpegMeta(w, h, n, p))
    }
  }

  test("JPEG marker walk rejects malformed payloads loudly") {
    intercept[IllegalArgumentException](Codecs.jpegMeta(Array[Byte](1, 2, 3, 4)))
    val ok = Codecs.synthJpeg(7L)
    // truncate inside a segment
    intercept[IllegalArgumentException](Codecs.jpegMeta(ok.take(10)))
    // corrupt a marker byte so the walk desyncs
    val bad = ok.clone(); bad(2) = 0x00
    intercept[IllegalArgumentException](Codecs.jpegMeta(bad))
    // SOI+EOI only: must report missing SOF, not parse garbage
    intercept[RuntimeException](Codecs.jpegMeta(
      Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)))
  }

  test("MP4 shell round-trips metadata incl. mvhd v0/v1 and box-order variants") {
    (0L until 400L).foreach { d =>
      val m = Codecs.mp4Meta(Codecs.synthMp4(d))
      assert(m.timescale == (600 + 100 * (d % 9)).toInt, s"timescale d=$d")
      assert(m.durationS == 5 + d % 60, s"duration d=$d")
      assert(m.width == (320 + 16 * (d % 7)).toInt, s"width d=$d")
      assert(m.height == (240 + 16 * (d % 5)).toInt, s"height d=$d")
      assert(m.trackId == (1 + d % 3).toInt, s"track d=$d")
      assert(m.mvhdVersion == (if (d % 3 == 0) 1 else 0), s"version d=$d")
    }
    val gen = for {
      ts <- Gen.choose(1, 1000000)
      v <- Gen.oneOf(0, 1)
      // a v0 mvhd's u32 duration field bounds ts*dur (encoder enforces it)
      dur <- if (v == 0) Gen.choose(0L, 0xffffffffL / ts)
             else Gen.choose(0L, 100000L)
      w <- Gen.choose(1, 8192); h <- Gen.choose(1, 8192)
      t <- Gen.choose(1, 99)
      f <- Gen.choose(0, 64); inner <- Gen.oneOf(true, false)
    } yield (Codecs.Mp4Meta(ts, dur, w, h, t, v), f, inner)
    samples(gen, 60).foreach { case (meta, f, inner) =>
      assert(Codecs.mp4Meta(Codecs.encodeMp4Meta(meta, f, inner)) == meta)
    }
  }

  test("MP4 v1 mvhd carries a 64-bit duration through the walk") {
    // duration * timescale exceeds u32 — only the v1 path can hold it
    val meta = Codecs.Mp4Meta(timescale = 1000000, durationS = 90000L,
      width = 640, height = 480, trackId = 1, mvhdVersion = 1)
    assert(Codecs.mp4Meta(Codecs.encodeMp4Meta(meta, 0, innerFree = false)) == meta)
  }

  // ------------------------------------------------- baseline JPEG decode

  /** reference fixed-point RGB→YCbCr→RGB round-trip, re-derived in the
    * test so codec + oracle drift are both caught. */
  private def yccRoundTrip(r: Int, g: Int, b: Int): (Int, Int, Int) = {
    def cl(v: Long) = math.min(255L, math.max(0L, v)).toInt
    val y0 = (299L * r + 587L * g + 114L * b + 500) / 1000
    val cb = cl((128000000L - 168736L * r - 331264L * g + 500000L * b
      + 500000) / 1000000)
    val cr = cl((128000000L + 500000L * r - 418688L * g - 81312L * b
      + 500000) / 1000000)
    def inv(x: Long) = cl((x + 500 + 512000) / 1000 - 512)
    (inv(1000 * y0 + 1402 * (cr - 128)),
      inv(1000 * y0 - 344 * (cb - 128) - 714 * (cr - 128)),
      inv(1000 * y0 + 1772 * (cb - 128)))
  }

  test("JPEG decode is bit-exact on flat-block fixtures (gray + color + restarts)") {
    (0L until 40L).foreach { d =>
      val img = Codecs.synthJpegImage(d)
      val dec = Codecs.decodeJpeg(Codecs.synthBaselineJpeg(d))
      assert(dec.width == img.width && dec.height == img.height, s"dims d=$d")
      val gray = d % 5 == 0
      var bad = 0
      for (y <- 0 until img.height; x <- 0 until img.width) {
        val (r, g, b) = img.pixels(y)(x)
        val want = if (gray) (r, r, r) else yccRoundTrip(r, g, b)
        if (dec.pixels(y)(x) != want) bad += 1
      }
      assert(bad == 0, s"d=$d: $bad mismatched pixels")
    }
  }

  test("JPEG decode matches the JDK's independent ImageIO decoder on lossy color images") {
    // Arbitrary (non-flat) pixels through the REAL lossy path (AC
    // coefficients, ZRL/EOB runs, a non-unit quantizer), decoded by
    // BOTH this codec and the JDK's own JPEG plugin. IDCT rounding may
    // differ per implementation; the tolerance is per-channel ±2.
    val imgGen = for {
      w <- Gen.choose(9, 24); h <- Gen.choose(9, 20)
      px <- Gen.listOfN(h, Gen.listOfN(w, pixelGen))
    } yield Bmp(w, h, px.map(_.toArray).toArray)
    val imgs = samples(imgGen, 12)
    assert(imgs.size >= 10)
    imgs.zipWithIndex.foreach { case (img, i) =>
      val bytes = Codecs.encodeJpeg(img,
        quantLuma = Codecs.jpegLossyQuant,
        quantChroma = Codecs.jpegLossyQuant,
        restartInterval = i % 3)
      val ours = Codecs.decodeJpeg(bytes)
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(ref != null, "ImageIO could not parse our JPEG output")
      assert(ref.getWidth == img.width && ref.getHeight == img.height)
      var maxd = 0
      for (y <- 0 until img.height; x <- 0 until img.width) {
        val rgb = ref.getRGB(x, y)
        val (r, g, b) = ours.pixels(y)(x)
        maxd = math.max(maxd, math.abs(((rgb >> 16) & 0xff) - r))
        maxd = math.max(maxd, math.abs(((rgb >> 8) & 0xff) - g))
        maxd = math.max(maxd, math.abs((rgb & 0xff) - b))
      }
      assert(maxd <= 2, s"img $i: max channel delta $maxd vs ImageIO")
    }
  }

  test("JPEG decode handles a third-party (ImageIO-written) grayscale baseline stream") {
    // The inverse independence check: a JPEG our encoder did NOT
    // produce — JDK-written, standard Huffman tables, real quantizer,
    // dense AC coefficients — must decode within IDCT tolerance of the
    // JDK's own reading of the same bytes.
    val w = 40; val h = 24
    val buf = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 11 + y * 29 + (x * y) % 31) % 256
      buf.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(buf, "jpg", bos))
    val bytes = bos.toByteArray
    val ours = Codecs.decodeJpeg(bytes)
    val ref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    assert(ours.width == w && ours.height == h)
    var maxd = 0
    for (y <- 0 until h; x <- 0 until w) {
      // raw raster sample, NOT getRGB: TYPE_BYTE_GRAY is a linear-gray
      // colorspace and getRGB applies a linear→sRGB conversion that has
      // nothing to do with the JPEG bytes under test.
      val rv = ref.getRaster.getSample(x, y, 0)
      maxd = math.max(maxd, math.abs(ours.pixels(y)(x)._1 - rv))
    }
    assert(maxd <= 2, s"max gray delta $maxd vs ImageIO on its own stream")
  }

  test("4:2:0 JPEG decode is bit-exact on MCU-flat constant-chroma fixtures") {
    // The subsampled analogue of the flat-block contract: luma constant
    // per 16x16 MCU (all four interleaved Y blocks flat → DC-only) and
    // chroma EXACTLY constant corpus-wide (gray-axis offsets — the v
    // terms of the fixed-point transform cancel), so the 2x2 box
    // downsample, the DC path, and ANY upsampling filter are all
    // lossless. Restart intervals cycle 0-3 across the ids.
    (0L until 40L).foreach { d =>
      val img = Codecs.synthJpegImage420(d)
      val dec = Codecs.decodeJpeg(Codecs.synthBaselineJpeg420(d))
      assert(dec.width == img.width && dec.height == img.height, s"dims d=$d")
      var bad = 0
      for (y <- 0 until img.height; x <- 0 until img.width) {
        val (r, g, b) = img.pixels(y)(x)
        if (dec.pixels(y)(x) != yccRoundTrip(r, g, b)) bad += 1
      }
      assert(bad == 0, s"d=$d: $bad mismatched pixels")
    }
  }

  test("4:2:2 JPEG decode is bit-exact on MCU-flat constant-chroma fixtures") {
    // Horizontal-only (2x1) subsampling over the same constant-chroma
    // family: 16x8 MCUs are flat because the luma is constant per
    // 16x16, the h2v1 box downsample and triangular upsample are both
    // exact on a constant chroma plane ((4c+1)>>2 = (4c+2)>>2 = c).
    (0L until 40L).foreach { d =>
      val img = Codecs.synthJpegImage420(d)
      val dec = Codecs.decodeJpeg(Codecs.synthBaselineJpeg422(d))
      assert(dec.width == img.width && dec.height == img.height, s"dims d=$d")
      var bad = 0
      for (y <- 0 until img.height; x <- 0 until img.width) {
        val (r, g, b) = img.pixels(y)(x)
        if (dec.pixels(y)(x) != yccRoundTrip(r, g, b)) bad += 1
      }
      assert(bad == 0, s"d=$d: $bad mismatched pixels")
    }
  }

  test("4:1:1 and vertical-only JPEG decode are bit-exact on constant-chroma fixtures") {
    // The last two sampling geometries (r10 verdict #6): luma 4x1
    // (32x8 MCUs, DV lineage) and luma 1x2 (8x16 MCUs, the transposed
    // 4:2:2). 16x16-constant luma is a fortiori constant per 8x8
    // block, and the globally-constant chroma survives any box
    // downsample and the replication upsample exactly — the SAME
    // fixture family pins a fourth and fifth decode geometry.
    (0L until 40L).foreach { d =>
      val img = Codecs.synthJpegImage420(d)
      Seq(Codecs.synthBaselineJpeg411(d), Codecs.synthBaselineJpegH1v2(d))
        .foreach { bytes =>
          val dec = Codecs.decodeJpeg(bytes)
          assert(dec.width == img.width && dec.height == img.height,
            s"dims d=$d")
          var bad = 0
          for (y <- 0 until img.height; x <- 0 until img.width) {
            val (r, g, b) = img.pixels(y)(x)
            if (dec.pixels(y)(x) != yccRoundTrip(r, g, b)) bad += 1
          }
          assert(bad == 0, s"d=$d: $bad mismatched pixels")
        }
    }
  }

  test("PROGRESSIVE 4:1:1 and vertical-only streams decode bit-exact too") {
    // the multi-scan frame type over the two new geometries: the
    // interleaved DC successive-approximation scans and per-component
    // AC band scans are generic in (h, v), and the constant-chroma
    // family stays lossless — one fixture, all frame types, all
    // samplings.
    (0L until 16L).foreach { d =>
      val img = Codecs.synthJpegImage420(d)
      Seq(
        Codecs.encodeJpegProgressive(img, subsample411 = true,
          restartInterval = (d % 3).toInt),
        Codecs.encodeJpegProgressive(img, subsampleH1v2 = true,
          restartInterval = (d % 3).toInt)).foreach { bytes =>
        val dec = Codecs.decodeJpeg(bytes)
        assert(dec.width == img.width && dec.height == img.height)
        var bad = 0
        for (y <- 0 until img.height; x <- 0 until img.width) {
          val (r, g, b) = img.pixels(y)(x)
          if (dec.pixels(y)(x) != yccRoundTrip(r, g, b)) bad += 1
        }
        assert(bad == 0, s"d=$d: $bad mismatched pixels")
      }
    }
  }

  test("4:1:1 / vertical-only JPEG decode matches ImageIO on our own lossy streams") {
    // Like the 4:2:2 twin, the JDK writer cannot be asked for these
    // layouts, so the cross-check is the our-encode direction. The
    // JDK's IJG-derived reader applies the same int_upsample
    // (replication) rule for non-h2v1/h2v2 ratios that we implement,
    // so agreement bounds IDCT + color-convert rounding only (same ±3
    // reasoning as the 4:2:0/4:2:2 random-content rows).
    val imgGen = for {
      w <- Gen.choose(9, 40); h <- Gen.choose(9, 34)
      px <- Gen.listOfN(h, Gen.listOfN(w, pixelGen))
    } yield Bmp(w, h, px.map(_.toArray).toArray)
    samples(imgGen, 6).zipWithIndex.foreach { case (img, i) =>
      Seq(("411", Codecs.encodeJpeg(img, quantLuma = Codecs.jpegLossyQuant,
        quantChroma = Codecs.jpegLossyQuant, restartInterval = i % 3,
        subsample411 = true)),
        ("h1v2", Codecs.encodeJpeg(img, quantLuma = Codecs.jpegLossyQuant,
          quantChroma = Codecs.jpegLossyQuant, restartInterval = i % 3,
          subsampleH1v2 = true))).foreach { case (label, bytes) =>
        val ours = Codecs.decodeJpeg(bytes)
        val ref = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        assert(ref != null, s"ImageIO could not parse our $label output")
        assert(ref.getWidth == img.width && ref.getHeight == img.height)
        var maxd = 0
        for (y <- 0 until img.height; x <- 0 until img.width) {
          val rgb = ref.getRGB(x, y)
          val (r, g, b) = ours.pixels(y)(x)
          maxd = math.max(maxd, math.abs(((rgb >> 16) & 0xff) - r))
          maxd = math.max(maxd, math.abs(((rgb >> 8) & 0xff) - g))
          maxd = math.max(maxd, math.abs((rgb & 0xff) - b))
        }
        assert(maxd <= 3, s"img $i $label: max channel delta $maxd vs ImageIO")
      }
    }
  }

  test("4:2:2 JPEG decode matches ImageIO on our own lossy subsampled stream") {
    // ImageIO (libjpeg lineage) decodes h2v1 streams with the same
    // fancy upsampler; the JDK WRITER cannot be asked for 4:2:2, so
    // this layout gets the our-encode direction only. Same tolerance
    // reasoning as the 4:2:0 twin.
    val imgGen = for {
      w <- Gen.choose(9, 34); h <- Gen.choose(9, 30)
      px <- Gen.listOfN(h, Gen.listOfN(w, pixelGen))
    } yield Bmp(w, h, px.map(_.toArray).toArray)
    samples(imgGen, 8).zipWithIndex.foreach { case (img, i) =>
      val bytes = Codecs.encodeJpeg(img,
        quantLuma = Codecs.jpegLossyQuant,
        quantChroma = Codecs.jpegLossyQuant,
        restartInterval = i % 3, subsample422 = true)
      val ours = Codecs.decodeJpeg(bytes)
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(ref != null, "ImageIO could not parse our 4:2:2 JPEG output")
      assert(ref.getWidth == img.width && ref.getHeight == img.height)
      var maxd = 0
      for (y <- 0 until img.height; x <- 0 until img.width) {
        val rgb = ref.getRGB(x, y)
        val (r, g, b) = ours.pixels(y)(x)
        maxd = math.max(maxd, math.abs(((rgb >> 16) & 0xff) - r))
        maxd = math.max(maxd, math.abs(((rgb >> 8) & 0xff) - g))
        maxd = math.max(maxd, math.abs((rgb & 0xff) - b))
      }
      assert(maxd <= 3, s"img $i: max channel delta $maxd vs ImageIO")
    }
  }

  test("4:2:0 JPEG decode matches ImageIO on our own lossy subsampled stream") {
    // Direction 1 of the independence check at 2x2 sampling: arbitrary
    // pixels, real quantizer, OUR encoder's 4:2:0 interleave — both
    // decoders read the same coefficients, so agreement bounds IDCT +
    // upsample + color-convert rounding differences. Tolerance ±3, not
    // the smooth-content ±2: per-pixel random chroma maximizes chroma
    // AC energy, the two independent IDCTs can disagree ±1 per chroma
    // sample, and the inverse transform amplifies a Cb delta by 1.772
    // into blue (1.402 into red) before the luma ±1 stacks on top —
    // the honest bound is ~3.5, measured 3.
    val imgGen = for {
      w <- Gen.choose(9, 34); h <- Gen.choose(9, 30)
      px <- Gen.listOfN(h, Gen.listOfN(w, pixelGen))
    } yield Bmp(w, h, px.map(_.toArray).toArray)
    samples(imgGen, 10).zipWithIndex.foreach { case (img, i) =>
      val bytes = Codecs.encodeJpeg(img,
        quantLuma = Codecs.jpegLossyQuant,
        quantChroma = Codecs.jpegLossyQuant,
        restartInterval = i % 3, subsample = true)
      val ours = Codecs.decodeJpeg(bytes)
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(ref != null, "ImageIO could not parse our 4:2:0 JPEG output")
      assert(ref.getWidth == img.width && ref.getHeight == img.height)
      var maxd = 0
      for (y <- 0 until img.height; x <- 0 until img.width) {
        val rgb = ref.getRGB(x, y)
        val (r, g, b) = ours.pixels(y)(x)
        maxd = math.max(maxd, math.abs(((rgb >> 16) & 0xff) - r))
        maxd = math.max(maxd, math.abs(((rgb >> 8) & 0xff) - g))
        maxd = math.max(maxd, math.abs((rgb & 0xff) - b))
      }
      assert(maxd <= 3, s"img $i: max channel delta $maxd vs ImageIO")
    }
  }

  test("JPEG decode handles a third-party (ImageIO-written) 4:2:0 color stream") {
    // Direction 2: a color JPEG our encoder did NOT produce. The JDK
    // writer's default for RGB is exactly the real-world layout this
    // round adds — 2x2 luma against 1x1 chroma (asserted below from
    // the SOF bytes) with the standard Annex-K-style tables. Smooth
    // gradient content (photographic regime) pins ±2; a harsh
    // mod-256-wrap pattern is allowed ±3 — with maximal AC energy the
    // two independent IDCT + color-convert roundings stack one count
    // higher, measured and documented rather than hidden by skipping
    // the adversarial content.
    def jdkJpeg(sharp: Boolean): Array[Byte] = {
      val w = 37; val h = 21
      val buf = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) =
          if (sharp) ((x * 17 + y * 3) % 256, (x * 5 + y * 29) % 256,
            (x * 11 + y * 13) % 256)
          else (40 + x * 3 + y * 2, 200 - x * 2 - y, 30 + x + y * 4)
        buf.setRGB(x, y, (r << 16) | (g << 8) | b)
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(buf, "jpg", bos))
      bos.toByteArray
    }
    for ((sharp, tol) <- Seq((false, 2), (true, 3))) {
      val bytes = jdkJpeg(sharp)
      val sofAt = (2 until bytes.length - 10).find(i =>
        (bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xc0).get
      assert((0 until 3).map(i => bytes(sofAt + 11 + 3 * i) & 0xff) ==
        Seq(0x22, 0x11, 0x11), "JDK writer no longer emits 4:2:0")
      val ours = Codecs.decodeJpeg(bytes)
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      var maxd = 0
      for (y <- 0 until 21; x <- 0 until 37) {
        val rgb = ref.getRGB(x, y)
        val (r, g, b) = ours.pixels(y)(x)
        maxd = math.max(maxd, math.abs(((rgb >> 16) & 0xff) - r))
        maxd = math.max(maxd, math.abs(((rgb >> 8) & 0xff) - g))
        maxd = math.max(maxd, math.abs((rgb & 0xff) - b))
      }
      assert(maxd <= tol,
        s"sharp=$sharp: max channel delta $maxd vs ImageIO (tol $tol)")
    }
  }

  test("progressive JPEG decode is bit-exact on flat-block fixtures (gray/4:4:4/4:2:0)") {
    // Our minimal standard progressive script — DC successive
    // approximation (Al=1 first pass + raw-bit refinement) and
    // EOB-run-coded AC first scans — must reconstruct the flat-block
    // fixtures exactly, through every sampling layout the decoder
    // supports. DC point transform is exactly invertible: the first
    // pass codes DC>>1, the refinement restores bit 0.
    (0L until 40L).foreach { d =>
      val img = Codecs.synthJpegImage(d)
      val dec = Codecs.decodeJpeg(
        Codecs.encodeJpegProgressive(img, gray = d % 5 == 0))
      var bad = 0
      for (y <- 0 until img.height; x <- 0 until img.width) {
        val (r, g, b) = img.pixels(y)(x)
        val want = if (d % 5 == 0) (r, r, r) else yccRoundTrip(r, g, b)
        if (dec.pixels(y)(x) != want) bad += 1
      }
      assert(bad == 0, s"d=$d: $bad mismatched pixels")
      val img4 = Codecs.synthJpegImage420(d)
      for ((label, bytes) <- Seq(
          ("4:2:0", Codecs.encodeJpegProgressive(img4, subsample = true)),
          ("4:2:2", Codecs.encodeJpegProgressive(img4, subsample422 = true)))) {
        val dec4 = Codecs.decodeJpeg(bytes)
        var bad4 = 0
        for (y <- 0 until img4.height; x <- 0 until img4.width) {
          val (r, g, b) = img4.pixels(y)(x)
          if (dec4.pixels(y)(x) != yccRoundTrip(r, g, b)) bad4 += 1
        }
        assert(bad4 == 0, s"d=$d $label: $bad4 mismatched pixels")
      }
    }
  }

  test("progressive JPEG decode handles JDK-written streams (AC successive approximation)") {
    // The JDK writer's default progressive script uses multi-pass AC
    // successive approximation over 4:2:0 color — the refinement
    // machinery our own fixture encoder deliberately does not emit —
    // so this is the independence check for exactly that path. Same
    // tolerance ladder as the baseline cross-checks: ±2 smooth, ±3 on
    // max-AC-energy content, ±1 gray.
    def jdkProg(img: java.awt.image.BufferedImage): Array[Byte] = {
      val wr = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val p = wr.getDefaultWriteParam
      p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      wr.setOutput(ios)
      wr.write(null, new javax.imageio.IIOImage(img, null, null), p)
      ios.close()
      bos.toByteArray
    }
    for ((sharp, tol) <- Seq((false, 2), (true, 3))) {
      val w = 37; val h = 21
      val buf = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) =
          if (sharp) ((x * 17 + y * 3) % 256, (x * 5 + y * 29) % 256,
            (x * 11 + y * 13) % 256)
          else (40 + x * 3 + y * 2, 200 - x * 2 - y, 30 + x + y * 4)
        buf.setRGB(x, y, (r << 16) | (g << 8) | b)
      }
      val bytes = jdkProg(buf)
      assert(Codecs.jpegMeta(bytes).progressive, "JDK did not emit SOF2")
      val ours = Codecs.decodeJpeg(bytes)
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      var maxd = 0
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = ref.getRGB(x, y)
        val (r, g, b) = ours.pixels(y)(x)
        maxd = math.max(maxd, math.abs(((rgb >> 16) & 0xff) - r))
        maxd = math.max(maxd, math.abs(((rgb >> 8) & 0xff) - g))
        maxd = math.max(maxd, math.abs((rgb & 0xff) - b))
      }
      assert(maxd <= tol, s"sharp=$sharp: delta $maxd vs ImageIO (tol $tol)")
    }
    // grayscale progressive (single-component non-interleaved DC scans)
    val w = 40; val h = 24
    val buf = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 11 + y * 29 + (x * y) % 31) % 256
      buf.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val gb = jdkProg(buf)
    assert(Codecs.jpegMeta(gb).progressive)
    val ours = Codecs.decodeJpeg(gb)
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gb))
    var maxd = 0
    for (y <- 0 until h; x <- 0 until w)
      maxd = math.max(maxd,
        math.abs(ours.pixels(y)(x)._1 - ref.getRaster.getSample(x, y, 0)))
    assert(maxd <= 2, s"gray progressive delta $maxd")
  }

  test("progressive JPEG decode rejects malformed scan scripts loudly") {
    val ok = Codecs.encodeJpegProgressive(Codecs.synthJpegImage(2L))
    assert(Codecs.decodeJpeg(ok).width == Codecs.synthJpegImage(2L).width)
    // truncation inside a scan's entropy data
    intercept[IllegalArgumentException](
      Codecs.decodeJpeg(ok.take(ok.length - 8)))
    def patchSos(which: Int)(f: (Array[Byte], Int) => Unit): Array[Byte] = {
      val b = ok.clone()
      var seen = 0
      var at = -1
      (2 until b.length - 1).foreach { i =>
        if (at < 0 && (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xda) {
          seen += 1; if (seen == which) at = i
        }
      }
      val ns = b(at + 4) & 0xff
      f(b, at + 4 + 1 + 2 * ns) // position of Ss
      b
    }
    // DC scan claiming a mixed band (Ss=0, Se=5)
    intercept[IllegalArgumentException](Codecs.decodeJpeg(
      patchSos(1) { (b, ss) => b(ss + 1) = 5 }))
    // nonsensical successive-approximation pair (Ah=3, Al=0)
    intercept[IllegalArgumentException](Codecs.decodeJpeg(
      patchSos(1) { (b, ss) => b(ss + 2) = 0x30 }))
    // AC band out of range (Se=77)
    intercept[IllegalArgumentException](Codecs.decodeJpeg(
      patchSos(3) { (b, ss) => b(ss + 1) = 77 }))
  }

  test("JPEG decode enforces restart-marker sequence and rejects corruption") {
    val d = 3L // d%4=3 → DRI of 3 MCUs; color
    val ok = Codecs.synthBaselineJpeg(d)
    assert(Codecs.decodeJpeg(ok).width == Codecs.synthJpegImage(d).width)
    // find the first RST0 marker in the entropy stream and break it
    val idx = (2 until ok.length - 1).find(i =>
      (ok(i) & 0xff) == 0xff && (ok(i + 1) & 0xff) == 0xd0)
    assert(idx.nonEmpty, "fixture should contain a restart marker")
    val bad = ok.clone(); bad(idx.get + 1) = 0xd5.toByte // wrong RST index
    intercept[IllegalArgumentException](Codecs.decodeJpeg(bad))
  }

  test("JPEG decode rejects malformed payloads loudly") {
    intercept[IllegalArgumentException](
      Codecs.decodeJpeg("notajpeg!!".getBytes("US-ASCII")))
    val ok = Codecs.synthBaselineJpeg(7L)
    // truncation inside the entropy stream
    intercept[IllegalArgumentException](
      Codecs.decodeJpeg(ok.take(ok.length - 6)))
    // the progressive metadata SHELL carries garbage scan parameters
    // (no DHT, fake entropy, nonsense AhAl) — SOF2 itself decodes for
    // real since round 10, so the rejection is now the scan-script
    // validation, not the frame type (jpegMeta still reads the shell)
    val prog = Codecs.synthJpeg(1L) // odd id → SOF2
    assert(Codecs.jpegMeta(prog).progressive)
    intercept[IllegalArgumentException](Codecs.decodeJpeg(prog))
    // unsupported sampling: 4:2:0 AND 4:2:2 decode for real since
    // round 10, so the loud-rejection pin moves to 1x2 (vertical-only)
    val sub = ok.clone()
    val sofAt = (2 until sub.length - 10).find(i =>
      (sub(i) & 0xff) == 0xff && (sub(i + 1) & 0xff) == 0xc0).get
    sub(sofAt + 11) = 0x12.toByte // first component 1x2 sampling
    intercept[IllegalArgumentException](Codecs.decodeJpeg(sub))
  }

  test("MP4 stsc walk maps every sample to its chunk and file offset") {
    (0L until 24L).foreach { d =>
      val bytes = Codecs.synthMp4Chunks(d)
      val locs = Codecs.mp4SampleLocations(bytes)
      val n = (24 + d % 40).toInt
      val k1 = (3 + d % 4).toInt; val k2 = (1 + d % 3).toInt
      val base = 4096L + d % 512
      assert(locs.length == n, s"d=$d")
      var pre = 0L
      locs.zipWithIndex.foreach { case (l, i) =>
        assert(l.sampleIdx == i)
        assert(l.size == (100 + (7 * d + 13 * i) % 900).toInt, s"d=$d i=$i")
        // closed-form chunk: alternating k1/k2 pattern, ragged tail
        // provably folded into the same formula (see the query doc)
        val p = k1 + k2
        val want = 2 * (i / p) + (if (i % p < k1) 1 else 2)
        assert(l.chunkIdx == want, s"d=$d i=$i chunk ${l.chunkIdx} != $want")
        assert(l.offset == base + pre, s"d=$d i=$i offset")
        pre += l.size
      }
      // run compression is real: equal alternating sizes (k1 == k2)
      // must collapse to at most 2 stsc entries (one run + ragged tail)
      val stscAt = (0 until bytes.length - 4).find(i =>
        bytes(i) == 's' && bytes(i + 1) == 't' && bytes(i + 2) == 's' &&
          bytes(i + 3) == 'c').get
      val nEntries = ((bytes(stscAt + 8) & 0xff) << 24) |
        ((bytes(stscAt + 9) & 0xff) << 16) |
        ((bytes(stscAt + 10) & 0xff) << 8) | (bytes(stscAt + 11) & 0xff)
      if (k1 == k2) assert(nEntries <= 2, s"d=$d: $nEntries stsc entries")
      else assert(nEntries >= 2, s"d=$d")
    }
  }

  test("MP4 stsc walk rejects inconsistent stsc/stco/stsz tables") {
    val ok = Codecs.synthMp4Chunks(5L)
    assert(Codecs.mp4SampleLocations(ok).nonEmpty)
    def stscAt(b: Array[Byte]): Int = (0 until b.length - 4).find(i =>
      b(i) == 's' && b(i + 1) == 't' && b(i + 2) == 's' && b(i + 3) == 'c').get
    // payload layout after the 4-byte type tag at stscAt: verflags
    // (+4..7), entry_count (+8..11), then 12-byte entries —
    // first_chunk (+12..15), samples_per_chunk (+16..19), sdi (+20..23)
    // samples-per-chunk bumped → stsc expansion disagrees with stsz
    val moreSamples = ok.clone()
    moreSamples(stscAt(moreSamples) + 19) =
      (moreSamples(stscAt(moreSamples) + 19) + 1).toByte
    intercept[IllegalArgumentException](Codecs.mp4SampleLocations(moreSamples))
    // first entry not covering chunk 1
    val badFirst = ok.clone()
    badFirst(stscAt(badFirst) + 15) = 2.toByte
    intercept[IllegalArgumentException](Codecs.mp4SampleLocations(badFirst))
    // entry count past the box end
    val trunc = ok.clone()
    trunc(stscAt(trunc) + 11) = 99.toByte
    intercept[IllegalArgumentException](Codecs.mp4SampleLocations(trunc))
    // samples-per-chunk zeroed → non-positive rejected
    val zero = ok.clone()
    val za = stscAt(zero)
    zero(za + 16) = 0; zero(za + 17) = 0; zero(za + 18) = 0; zero(za + 19) = 0
    intercept[IllegalArgumentException](Codecs.mp4SampleLocations(zero))
  }

  test("MP4 mdat sample extraction slices the actual bytes at stco offsets") {
    (0L until 24L).foreach { d =>
      val out = Codecs.mp4ExtractSamples(Codecs.synthMp4Data(d))
      val n = (24 + d % 40).toInt
      assert(out.length == n, s"d=$d")
      var pre = 0L
      out.zipWithIndex.foreach { case (s, i) =>
        val sz = (100 + (7 * d + 13 * i) % 900).toInt
        assert(s.size == sz && s.dataOffset == pre, s"d=$d i=$i")
        val want = (0 until sz).map(j => (7 * d + 13 * i + j) % 251).sum
        assert(s.byteSum == want, s"d=$d i=$i byte sum")
        pre += sz
      }
    }
  }

  test("MP4 mdat extraction rejects sample ranges escaping the payload") {
    val ok = Codecs.synthMp4Data(3L)
    assert(Codecs.mp4ExtractSamples(ok).nonEmpty)
    // push the LAST chunk's offset to the end of file: its samples
    // would read past the mdat — must fail loudly, not read garbage
    val stcoAt = (0 until ok.length - 4).find(i =>
      ok(i) == 's' && ok(i + 1) == 't' && ok(i + 2) == 'c' &&
        ok(i + 3) == 'o').get
    val nChunks = ((ok(stcoAt + 8) & 0xff) << 24) |
      ((ok(stcoAt + 9) & 0xff) << 16) |
      ((ok(stcoAt + 10) & 0xff) << 8) | (ok(stcoAt + 11) & 0xff)
    val bad = ok.clone()
    val lastOff = stcoAt + 12 + 4 * (nChunks - 1)
    bad(lastOff) = ((ok.length >> 24) & 0xff).toByte
    bad(lastOff + 1) = ((ok.length >> 16) & 0xff).toByte
    bad(lastOff + 2) = ((ok.length >> 8) & 0xff).toByte
    bad(lastOff + 3) = (ok.length & 0xff).toByte
    intercept[IllegalArgumentException](Codecs.mp4ExtractSamples(bad))
  }


  test("MJPEG frame decode equals per-frame JPEG decode; non-JPEG samples reject loudly") {
    (0L until 12L).foreach { d =>
      val frames = Codecs.decodeMjpegFrames(Codecs.synthMjpegMp4(d))
      assert(frames.length == (3 + d % 4).toInt, s"d=$d")
      frames.foreach { case (fi, bmp) =>
        val want = Codecs.decodeJpeg(Codecs.synthBaselineJpeg(d + 1000L * fi))
        assert(bmp.width == want.width && bmp.height == want.height)
        assert(bmp.pixels.flatten.toSeq == want.pixels.flatten.toSeq,
          s"d=$d frame=$fi pixel mismatch")
      }
    }
    // a data-bearing MP4 whose samples are NOT JPEGs must fail loudly
    // with the sample index, never hand garbage onward as pixels
    val e = intercept[IllegalArgumentException](
      Codecs.decodeMjpegFrames(Codecs.synthMp4Data(3L)))
    assert(e.getMessage.contains("not a JPEG"), e.getMessage)
  }

  test("WARC record walk round-trips plain and per-record-gzip forms") {
    (0L until 20L).foreach { d =>
      val plain = Codecs.synthWarc(d)
      Seq(Codecs.warcRecords(plain), Codecs.warcRecordsGz(Codecs.synthWarcGz(d))._2)
        .foreach { recs =>
          assert(recs.length == (4 + d % 5).toInt, s"d=$d")
          recs.foreach { r =>
            val wantType = if (r.recIdx == 0) "warcinfo"
              else if (r.recIdx % 2 == 1) "response" else "metadata"
            assert(r.recType == wantType, s"d=$d rec=${r.recIdx}")
            assert(r.targetUri == (if (wantType == "response")
              s"http://site$d.example/page${r.recIdx}" else ""))
            assert(r.contentLength == (50 + (7 * d + 13 * r.recIdx) % 200).toInt)
          }
        }
      // and the gz inflate is byte-transparent: same payload bytes
      val (inflated, _) = Codecs.warcRecordsGz(Codecs.synthWarcGz(d))
      assert(inflated.toSeq == plain.toSeq, s"d=$d gz not transparent")
    }
  }

  test("WARC parser rejects malformed framing loudly") {
    val ok = Codecs.synthWarc(3L)
    // bad version line
    val badVer = ok.clone(); badVer(4) = 'X'
    val e1 = intercept[IllegalArgumentException](Codecs.warcRecords(badVer))
    assert(e1.getMessage.contains("version"), e1.getMessage)
    // truncated payload
    intercept[IllegalArgumentException](
      Codecs.warcRecords(ok.take(ok.length - 10)))
    // non-numeric Content-Length (NumberFormatException is an IAE)
    val s = new String(ok, "ISO-8859-1")
    val badLen = s.replaceFirst("Content-Length: \\d+", "Content-Length: xx")
      .getBytes("ISO-8859-1")
    intercept[IllegalArgumentException](Codecs.warcRecords(badLen))
    // corrupted record separator
    val recs = Codecs.warcRecords(ok)
    val sepAt = recs(0).payloadStart + recs(0).contentLength
    val badSep = ok.clone(); badSep(sepAt) = 'Z'
    val e2 = intercept[IllegalArgumentException](Codecs.warcRecords(badSep))
    assert(e2.getMessage.contains("separator"), e2.getMessage)
    // corrupt gzip stream
    val gz = Codecs.synthWarcGz(3L)
    val badGz = gz.clone(); badGz(gz.length / 2) = (badGz(gz.length / 2) ^ 0x55).toByte
    intercept[IllegalArgumentException](Codecs.warcRecordsGz(badGz))
  }

  test("GIF round-trips the closed-form palette fixtures, both row orders") {
    (0L until 30L).foreach { d =>
      val img = Codecs.synthGif(d)
      Seq(false, true).foreach { interlaced =>
        val bmp = Codecs.decodeGif(Codecs.encodeGif(img, interlaced))
        assert(bmp.width == img.width && bmp.height == img.height,
          s"d=$d i=$interlaced")
        (0 until img.height).foreach { y =>
          (0 until img.width).foreach { x =>
            assert(bmp.pixels(y)(x) == img.palette(img.idx(y)(x)),
              s"d=$d i=$interlaced ($x,$y)")
          }
        }
      }
    }
  }

  test("GIF LZW survives dictionary resets on a 4096-entry stream") {
    // a long non-repeating-enough index stream forces dict growth past
    // width bumps and into the 4096 CLEAR/reset path
    val nc = 256
    val w = 200; val h = 120
    val img = Codecs.PalImage(w, h,
      Array.tabulate(nc)(i => (i, (i * 2) % 256, (i * 3) % 256)),
      Array.tabulate(h, w)((y, x) => (x * x + y * 31 + (x * y) % 97) % nc))
    val bmp = Codecs.decodeGif(Codecs.encodeGif(img))
    (0 until h).foreach { y => (0 until w).foreach { x =>
      assert(bmp.pixels(y)(x) == img.palette(img.idx(y)(x)), s"($x,$y)")
    }}
  }

  test("GIF decode matches the JDK's ImageIO on our own streams") {
    (0L until 12L).foreach { d =>
      val gif = Codecs.encodeGif(Codecs.synthGif(d), interlaced = d % 2 == 1)
      val ours = Codecs.decodeGif(gif)
      val theirs = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(gif))
      assert(theirs.getWidth == ours.width && theirs.getHeight == ours.height)
      (0 until ours.height).foreach { y =>
        (0 until ours.width).foreach { x =>
          val rgb = theirs.getRGB(x, y)
          val want = ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
          assert(ours.pixels(y)(x) == want, s"d=$d ($x,$y)")
        }
      }
    }
  }

  test("GIF decode handles a third-party (ImageIO-written) stream") {
    val img = Codecs.synthGif(7L)
    val cm = new java.awt.image.IndexColorModel(8, img.palette.length,
      img.palette.map(_._1.toByte), img.palette.map(_._2.toByte),
      img.palette.map(_._3.toByte))
    val bi = new java.awt.image.BufferedImage(img.width, img.height,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
    (0 until img.height).foreach { y => (0 until img.width).foreach { x =>
      val (r, g, b) = img.palette(img.idx(y)(x))
      bi.setRGB(x, y, (r << 16) | (g << 8) | b)
    }}
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "gif", out))
    val ours = Codecs.decodeGif(out.toByteArray)
    (0 until img.height).foreach { y => (0 until img.width).foreach { x =>
      assert(ours.pixels(y)(x) == img.palette(img.idx(y)(x)), s"($x,$y)")
    }}
  }

  test("animated GIF round-trips every frame and delay") {
    (0L until 16L).foreach { d =>
      val (frames, delays) = Codecs.synthGifAnim(d)
      val got = Codecs.decodeGifFrames(Codecs.encodeGifAnim(frames, delays))
      assert(got.length == frames.length, s"d=$d")
      got.zip(frames).zip(delays).foreach { case (((delay, bmp), want), wd) =>
        assert(delay == wd, s"d=$d")
        (0 until want.height).foreach { y =>
          (0 until want.width).foreach { x =>
            assert(bmp.pixels(y)(x) == want.palette(want.idx(y)(x)),
              s"d=$d ($x,$y)")
          }
        }
      }
    }
  }

  test("animated GIF frames match the JDK's ImageIO frame reader") {
    val (frames, delays) = Codecs.synthGifAnim(9L)
    val gif = Codecs.encodeGifAnim(frames, delays)
    val rdr = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    rdr.setInput(javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(gif)))
    val ours = Codecs.decodeGifFrames(gif)
    assert(rdr.getNumImages(true) == ours.length)
    ours.zipWithIndex.foreach { case ((_, bmp), f) =>
      val img = rdr.read(f)
      (0 until bmp.height).foreach { y => (0 until bmp.width).foreach { x =>
        val rgb = img.getRGB(x, y)
        assert(bmp.pixels(y)(x) ==
          ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff), s"f=$f ($x,$y)")
      }}
    }
  }

  test("GIF decode rejects malformed payloads loudly") {
    val ok = Codecs.encodeGif(Codecs.synthGif(3L))
    val badMagic = ok.clone(); badMagic(0) = 'X'
    val e = intercept[IllegalArgumentException](Codecs.decodeGif(badMagic))
    assert(e.getMessage.contains("magic"))
    intercept[IllegalArgumentException](
      Codecs.decodeGif(ok.take(ok.length / 2))) // truncated
    // an LZW stream claiming more pixels than the frame: corrupt the
    // declared height downward
    val short = ok.clone(); short(8) = 1; short(9) = 0
    intercept[IllegalArgumentException](Codecs.decodeGif(short))
    // a hostile header claiming a ~268M-pixel frame must be rejected
    // BEFORE any buffer is allocated
    val huge = ok.clone()
    huge(6) = 0; huge(7) = 0x40; huge(8) = 0; huge(9) = 0x40
    val e2 = intercept[IllegalArgumentException](Codecs.decodeGif(huge))
    assert(e2.getMessage.contains("cap"), e2.getMessage)
  }

  test("strict UTF-8 decode: valid sequences of every width") {
    def dec(bs: Int*) = Codecs.decodeUtf8Strict(bs.map(_.toByte).toArray)
    assert(dec(0x41, 0x42) == ("AB", 0))
    assert(dec(0xc3, 0xa9) == ("é", 0)) // 2-byte
    assert(dec(0xe2, 0x82, 0xac) == ("€", 0)) // 3-byte
    assert(dec(0xf0, 0x9f, 0x98, 0x80) == ("😀", 0)) // 4-byte astral
    // round-trip the whole BMP-sampling fixture space
    (0L until 40L).foreach { d =>
      val (cs, bytes) = Codecs.synthEncodedText(d)
      val (text, repl) = Codecs.decodeCharset(bytes, cs)
      val wantRepl = if (d % 3 != 0 && d % 5 == 0) 1 else 0
      assert(repl == wantRepl, s"d=$d")
      assert(text.count(_ == '�') == wantRepl, s"d=$d")
    }
  }

  test("strict UTF-8 decode: each invalid shape replaces loudly") {
    def dec(bs: Int*) = Codecs.decodeUtf8Strict(bs.map(_.toByte).toArray)
    assert(dec(0x80) == ("�", 1)) // lone continuation
    assert(dec(0xc3) == ("�", 1)) // truncated 2-byte
    assert(dec(0xc0, 0x80) == ("��", 2)) // overlong NUL
    assert(dec(0xe0, 0x80, 0x80)._2 == 3) // overlong 3-byte
    assert(dec(0xed, 0xa0, 0x80)._2 == 3) // surrogate D800
    assert(dec(0xf4, 0x90, 0x80, 0x80)._2 == 4) // beyond U+10FFFF
    assert(dec(0xff, 0x41) == ("�A", 1)) // invalid lead, resync
    // ISO-8859-1 never replaces; unknown charsets fail loudly
    assert(Codecs.decodeCharset(Array(0xe9.toByte), "latin1") == ("é", 0))
    intercept[IllegalArgumentException](
      Codecs.decodeCharset(Array[Byte](65), "KOI8-R"))
  }

  test("HTTP parse round-trips both body framings") {
    (0L until 12L).foreach { d =>
      (1 to 7 by 2).foreach { i =>
        val r = Codecs.httpParse(Codecs.synthHttpResponse(d, i))
        val wantStatus = if ((d + i) % 7 == 0) 404 else 200
        assert(r.status == wantStatus, s"d=$d i=$i")
        assert(r.reason == (if (wantStatus == 404) "Not Found" else "OK"))
        val chunked = (d + i) % 3 == 0
        assert(r.header("transfer-encoding").isDefined == chunked)
        assert(r.header("x-seq").get.toInt == ((31 * d + 17 * i) % 997).toInt)
        // the body must reassemble to the exact HTML regardless of framing
        assert(new String(r.body, "UTF-8") == Codecs.synthHtml(d, i),
          s"d=$d i=$i chunked=$chunked")
      }
    }
  }

  test("HTTP parse accepts any header order and case") {
    val body = "hello world"
    val msg = ("HTTP/1.1 200 OK\r\n" +
      s"CONTENT-length: ${body.length}\r\n" +
      "x-SEQ:  42\r\n\r\n" + body).getBytes("UTF-8")
    val r = Codecs.httpParse(msg)
    assert(r.status == 200 && new String(r.body, "UTF-8") == body)
    assert(r.header("x-seq").contains("42"))
  }

  test("HTTP parse rejects malformed messages loudly") {
    val ok = Codecs.synthHttpResponse(5L, 3) // content-length form
    // bad protocol token
    val bad1 = ok.clone(); bad1(0) = 'X'
    intercept[IllegalArgumentException](Codecs.httpParse(bad1))
    // truncated body
    intercept[IllegalArgumentException](
      Codecs.httpParse(ok.take(ok.length - 5)))
    // trailing garbage after the framed body
    intercept[IllegalArgumentException](
      Codecs.httpParse(ok ++ Array[Byte]('x')))
    // neither Content-Length nor chunked
    intercept[IllegalArgumentException](Codecs.httpParse(
      "HTTP/1.1 200 OK\r\nContent-Type: a/b\r\n\r\nbody".getBytes("UTF-8")))
    // status code out of range
    intercept[IllegalArgumentException](Codecs.httpParse(
      "HTTP/1.1 999 Nope\r\nContent-Length: 0\r\n\r\n".getBytes("UTF-8")))
    // chunked: non-hex size line
    intercept[IllegalArgumentException](Codecs.httpParse(
      ("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" +
        "zz\r\nhi\r\n0\r\n\r\n").getBytes("UTF-8")))
    // chunked: missing terminal 0 chunk
    intercept[IllegalArgumentException](Codecs.httpParse(
      ("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" +
        "2\r\nhi\r\n").getBytes("UTF-8")))
    // chunked: size larger than remaining data
    intercept[IllegalArgumentException](Codecs.httpParse(
      ("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" +
        "ff\r\nhi\r\n0\r\n\r\n").getBytes("UTF-8")))
  }

  test("MP4 sample tables round-trip uniform and per-sample stsz, multi-run stts") {
    (0L until 24L).foreach { d =>
      val m = Codecs.mp4Samples(Codecs.synthMp4Samples(d))
      val n = (24 + d % 40).toInt
      val delta = (512 + d % 100).toInt
      assert(m.nSamples == n, s"d=$d")
      if (d % 4 == 0) {
        val sz = (200 + d % 300).toInt
        assert(m.totalBytes == sz.toLong * n && m.maxSampleBytes == sz)
      } else {
        val sizes = (0 until n).map(i => (100 + (7 * d + 13 * i) % 900).toInt)
        assert(m.totalBytes == sizes.map(_.toLong).sum &&
          m.maxSampleBytes == sizes.max)
      }
      val wantDur =
        if (d % 2 == 0) n.toLong * delta
        else (n / 2).toLong * delta + (n - n / 2).toLong * (delta + 7)
      assert(m.durationTicks == wantDur && m.nChunks == (1 + d % 5).toInt)
    }
  }

  test("MP4 sample-table walk rejects inconsistent or truncated tables") {
    // stts total != stsz count must fail loudly (a frame sampler that
    // trusts one table over the other reads garbage offsets)
    intercept[IllegalArgumentException](
      Codecs.encodeMp4SampleShell(600, Seq((5, 100)), Seq(10, 20, 30),
        Seq(4096)))
    val ok = Codecs.synthMp4Samples(1L)
    intercept[Exception](Codecs.mp4Samples(ok.take(ok.length - 8)))
    // a plain metadata shell has no stbl — the walk must say so
    val noStbl = Codecs.synthMp4(2L)
    val e = intercept[RuntimeException](Codecs.mp4Samples(noStbl))
    assert(e.getMessage.contains("missing"))
    // corrupt the stsz count so it disagrees with stts
    val bad = ok.clone()
    val at = (0 until bad.length - 4).find(i =>
      new String(bad, i, 4, "US-ASCII") == "stsz").get
    // payload = [verflags 4][sample_size 4][sample_count 4]; +15 is the
    // low byte of sample_count — bump it so stts and stsz disagree
    bad(at + 15) = (bad(at + 15) + 1).toByte
    intercept[IllegalArgumentException](Codecs.mp4Samples(bad))
  }

  test("MP4 box walk rejects malformed payloads loudly") {
    intercept[IllegalArgumentException](
      Codecs.mp4Meta("notanmp4".getBytes("US-ASCII")))
    val ok = Codecs.synthMp4(7L)
    // truncate inside moov
    intercept[IllegalArgumentException](Codecs.mp4Meta(ok.take(ok.length - 5)))
    // corrupt a box size so it overruns the payload
    val bad = ok.clone(); bad(0) = 0x7f
    intercept[IllegalArgumentException](Codecs.mp4Meta(bad))
    // ftyp alone: must report missing moov
    intercept[RuntimeException](Codecs.mp4Meta(ok.take(24)))
  }

  test("avc: emulation prevention round-trips and actually fires") {
    // every 00 00 0x (x<=3) run must gain an escape byte on the wire
    for (tail <- Seq[Byte](0, 1, 2, 3)) {
      val rbsp = Array[Byte](9, 0, 0, tail, 5)
      val wire = Codecs.rbspEscape(rbsp)
      assert(wire.toSeq == Seq[Byte](9, 0, 0, 3, tail, 5))
      assert(Codecs.rbspUnescape(wire).toSeq == rbsp.toSeq)
    }
    // 00 00 04 needs no escape
    assert(Codecs.rbspEscape(Array[Byte](0, 0, 4)).toSeq == Seq[Byte](0, 0, 4))
    // the fixture PPS embeds 00 00 01, so EVERY synth stream carries
    // a live emulation-prevention byte — find it on the wire
    val (_, nals) = Codecs.nalUnits(Codecs.synthAvcStream(6L))
    val pps = nals.find(n => (n(0) & 0x1f) == 8).get
    assert(pps.sliding(3).exists(w =>
      w(0) == 0 && w(1) == 0 && w(2) == 3), "PPS wire lacks the escape")
  }

  test("avc: SPS fields and crop arithmetic match the closed form") {
    for (d <- 0L to 40L) {
      val m = Codecs.avcNalMeta(Codecs.synthAvcStream(d))
      assert(m.framing == (if (d % 2 == 0) "avcc" else "annexb"))
      assert(m.nNals == 3 + (d % 3) && m.nSlices == 1 + (d % 3))
      assert(m.profileIdc == Array(66, 77, 100)((d % 3).toInt))
      val rawW = 16 * (2 + (d % 5).toInt)
      val expW =
        if (d % 4 == 0) rawW - 2 * (1 + ((d / 4) % 2).toInt) else rawW
      assert(m.width == expW, s"d=$d width ${m.width} != $expW")
      assert(m.ppsRbspLen == 8 + (d % 4))
    }
  }

  test("avcC record matches the raw-stream walk; cross-checks fire") {
    // the two walks agree on every shared field for the same doc
    for (d <- 0L to 20L) {
      val rec = Codecs.avccMeta(Codecs.synthAvcMp4(d))
      val raw = Codecs.avcNalMeta(Codecs.synthAvcStream(d))
      assert((rec.profileIdc, rec.levelIdc, rec.width, rec.height) ==
        (raw.profileIdc, raw.levelIdc, raw.width, raw.height), s"d=$d")
      assert(rec.nSps == 1 && rec.nPps == 1 && rec.nalLenSize == 4)
    }
    // record-vs-SPS disagreement: corrupt the record's profile byte
    // (avcC payload offset 1 — find it by scanning for the box type)
    val ok = Codecs.synthAvcMp4(3L)
    def at(pat: String): Int = {
      val p = pat.getBytes("US-ASCII")
      (0 until ok.length - 4).find(i => p.indices.forall(j =>
        ok(i + j) == p(j))).get
    }
    val badProfile = ok.clone()
    badProfile(at("avcC") + 5) = 13 // configurationVersion..profile
    intercept[IllegalArgumentException](Codecs.avccMeta(badProfile))
    // avc1-vs-SPS dims disagreement: corrupt the entry's width field
    val badW = ok.clone()
    badW(at("avc1") + 4 + 25) = 0x77
    intercept[IllegalArgumentException](Codecs.avccMeta(badW))
  }

  test("avc: malformed NAL sizes and truncations fail loudly") {
    val avcc = Codecs.synthAvcStream(2L) // even id -> AVCC
    // length prefix pointing past the buffer
    val bad = avcc.clone(); bad(0) = 0x7f.toByte
    intercept[IllegalArgumentException](Codecs.avcNalMeta(bad))
    // zero-length NAL
    val zero = avcc.clone()
    zero(0) = 0; zero(1) = 0; zero(2) = 0; zero(3) = 0
    intercept[IllegalArgumentException](Codecs.avcNalMeta(zero))
    // truncated mid-SPS: cut inside the first NAL
    intercept[IllegalArgumentException](Codecs.avcNalMeta(avcc.take(7)))
    // a stream with no start code and no sane AVCC prefix
    intercept[IllegalArgumentException](
      Codecs.avcNalMeta(Array.fill[Byte](16)(0x55)))
    // Annex-B garbage before the first start code must be rejected
    val annexb = Codecs.synthAvcStream(3L)
    intercept[RuntimeException](
      Codecs.avcNalMeta(Array[Byte](9, 9) ++ annexb))
  }

  test("mp4a/esds walk matches the closed form; cross-checks fire") {
    val rates = Array(96000, 88200, 64000, 48000, 44100, 32000, 24000,
      22050, 16000, 12000, 11025, 8000, 7350)
    for (d <- 0L to 40L) {
      val m = Codecs.mp4aMeta(Codecs.synthMp4aMp4(d))
      assert(m.objectType == 1 + (d % 4).toInt, s"d=$d")
      val srIdx = 3 + (d % 9).toInt
      assert(m.srIndex == srIdx && m.sampleRate == rates(srIdx), s"d=$d")
      assert(m.channels == 1 + (d % 6).toInt, s"d=$d")
      assert(m.avgBitrate == (32000 + 1000 * (d % 100)).toInt)
      assert(m.maxBitrate == m.avgBitrate + 16000)
    }
    val ok = Codecs.synthMp4aMp4(9L)
    val e = ok.indexOfSlice("esds".getBytes("US-ASCII"))
    val a = ok.indexOfSlice("mp4a".getBytes("US-ASCII"))
    assert(e > 0 && a > 0)
    // mp4a channelcount disagreeing with the ASC channelConfiguration
    val badCh = ok.clone(); badCh(a + 4 + 17) = (badCh(a + 4 + 17) + 1).toByte
    val ex1 = intercept[IllegalArgumentException](Codecs.mp4aMeta(badCh))
    assert(ex1.getMessage.contains("channelcount"), ex1.getMessage)
    // mp4a samplerate disagreeing with the ASC index
    val badSr = ok.clone(); badSr(a + 4 + 25) = (badSr(a + 4 + 25) ^ 0x55).toByte
    val ex2 = intercept[IllegalArgumentException](Codecs.mp4aMeta(badSr))
    assert(ex2.getMessage.contains("samplerate"), ex2.getMessage)
    // non-AAC objectTypeIndication (0x6B = MP3-in-MP4)
    val badOti = ok.clone(); badOti(e + 16) = 0x6b.toByte
    val ex3 = intercept[IllegalArgumentException](Codecs.mp4aMeta(badOti))
    assert(ex3.getMessage.contains("objectTypeIndication"), ex3.getMessage)
    // escape audioObjectType (31) and escape samplingFrequencyIndex (15)
    val badAot = ok.clone()
    badAot(e + 31) = ((31 << 3) | (badAot(e + 31) & 7)).toByte
    intercept[IllegalArgumentException](Codecs.mp4aMeta(badAot))
    val badIdx = ok.clone()
    badIdx(e + 31) = ((badIdx(e + 31) & 0xf8) | 0x7).toByte
    badIdx(e + 32) = (badIdx(e + 32) | 0x80).toByte
    val ex4 = intercept[IllegalArgumentException](Codecs.mp4aMeta(badIdx))
    assert(ex4.getMessage.contains("samplingFrequencyIndex"), ex4.getMessage)
    // ES_Descriptor optional-field flags are refused, not skipped blind
    val badFl = ok.clone(); badFl(e + 13) = 0x80.toByte
    val ex5 = intercept[IllegalArgumentException](Codecs.mp4aMeta(badFl))
    assert(ex5.getMessage.contains("optional-field"), ex5.getMessage)
    // a 5-byte descriptor length must be rejected (spec caps at 4)
    intercept[IllegalArgumentException](Codecs.mp4aMeta(ok.take(e + 9)))
  }

  test("mp3: frame walk matches the closed form across ID3/VBR variants") {
    val rates = Array(44100, 48000, 32000)
    val kbpsTable =
      Array(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    for (d <- 0L to 40L) {
      val m = Codecs.mp3Meta(Codecs.synthMp3(d))
      assert(m.id3v2Len == (if (d % 2 == 0) (20 + d % 50).toInt else 0),
        s"d=$d")
      val n = (5 + d % 7).toInt
      val sr = rates((d % 3).toInt)
      assert(m.nFrames == n && m.sampleRate == sr, s"d=$d")
      val modes = Array("stereo", "joint", "dual", "mono")
      assert(m.mode == modes((d % 4).toInt))
      val kbps = (0 until n).map(f => kbpsTable(((d + 3 * f) % 14).toInt))
      assert(m.avgKbps == (kbps.map(_.toLong).sum / n).toInt, s"d=$d")
      val fb = (0 until n).map { f =>
        144000L * kbpsTable(((d + 3 * f) % 14).toInt) / sr +
          (if ((d + f) % 3 == 0) 1 else 0)
      }.sum
      assert(m.frameBytes == fb, s"d=$d frameBytes ${m.frameBytes} != $fb")
      assert(m.durationMs == n.toLong * 1152 * 1000 / sr, s"d=$d")
      assert(m.hasId3v1 == (d % 4 == 1), s"d=$d")
    }
  }

  test("mp3: malformed streams fail loudly, not silently") {
    val ok = Codecs.synthMp3(3L) // odd id: no ID3v2, has ID3v1 at d%4==3? no
    // free-format bitrate index (0) must be rejected
    val free = ok.clone(); free(2) = (free(2) & 0x0f).toByte
    intercept[IllegalArgumentException](Codecs.mp3Meta(free))
    // forbidden bitrate index (15)
    val forb = ok.clone(); forb(2) = (forb(2) | 0xf0).toByte
    intercept[IllegalArgumentException](Codecs.mp3Meta(forb))
    // reserved sample-rate index (3)
    val rsr = ok.clone(); rsr(2) = (rsr(2) | 0x0c).toByte
    intercept[IllegalArgumentException](Codecs.mp3Meta(rsr))
    // flipping a padding bit desyncs the walk → loud, never silent
    val pad = ok.clone(); pad(2) = (pad(2) ^ 0x02).toByte
    intercept[RuntimeException](Codecs.mp3Meta(pad))
    // truncation mid-frame
    intercept[IllegalArgumentException](
      Codecs.mp3Meta(ok.take(ok.length - 7)))
    // trailing garbage that is neither a frame nor a 128-byte ID3v1
    intercept[IllegalArgumentException](
      Codecs.mp3Meta(ok ++ Array.fill[Byte](17)(0x41)))
    // a non-syncsafe ID3v2 size byte (high bit set)
    val withTag = Codecs.synthMp3(4L)
    assert(withTag(0) == 'I')
    val badTag = withTag.clone(); badTag(9) = (badTag(9) | 0x80).toByte
    intercept[IllegalArgumentException](Codecs.mp3Meta(badTag))
    // an ID3v2 whose declared size overruns the stream
    val overTag = withTag.clone(); overTag(8) = 0x7f.toByte
    intercept[IllegalArgumentException](Codecs.mp3Meta(overTag))
    // MPEG-2 version bits / non-Layer-III layer bits rejected
    val v2 = ok.clone(); v2(1) = (v2(1) & ~0x08).toByte
    intercept[IllegalArgumentException](Codecs.mp3Meta(v2))
    val l1 = ok.clone(); l1(1) = (l1(1) | 0x06).toByte
    intercept[IllegalArgumentException](Codecs.mp3Meta(l1))
    // empty / garbage
    intercept[IllegalArgumentException](Codecs.mp3Meta(Array.emptyByteArray))
    intercept[RuntimeException](
      Codecs.mp3Meta(Array.fill[Byte](64)(0x2a)))
  }

  test("tar walk matches the closed form; checksum and structure checks fire") {
    for (d <- 0L to 40L) {
      val es = Codecs.tarEntries(Codecs.synthTar(d))
      assert(es.length == (3 + d % 5).toInt, s"d=$d")
      es.zipWithIndex.foreach { case (e, j) =>
        val isDir = j % 4 == 3
        assert(e.idx == j && e.typeflag == (if (isDir) "dir" else "file"))
        assert(e.name ==
          s"doc_${d}_$j" + (if (isDir) "/" else ".txt"), s"d=$d j=$j")
        val size = if (isDir) 0L else 10 + (d * 7 + 13 * j) % 900
        assert(e.size == size && e.mtime == 1700000000L + 100 * d + j)
        val want = (0L until size).map(i => (d * 11 + 17 * j + i) % 251).sum
        assert(e.payloadSum == want, s"d=$d j=$j payload sum")
      }
    }
    val ok = Codecs.synthTar(9L)
    // helper: corrupt a header byte, then re-stamp a VALID checksum so
    // the corruption reaches the field parse, not the checksum require
    def restamp(b: Array[Byte], hdr: Int): Unit = {
      java.util.Arrays.fill(b, hdr + 148, hdr + 156, 0x20.toByte)
      var sum = 0L
      (0 until 512).foreach(i => sum += b(hdr + i) & 0xff)
      val cs = java.lang.Long.toOctalString(sum)
      val csp = ("0" * (6 - cs.length)) + cs
      System.arraycopy(csp.getBytes("US-ASCII"), 0, b, hdr + 148, 6)
      b(hdr + 154) = 0; b(hdr + 155) = ' '
    }
    // checksum mismatch is loud (flip a name byte: the computed sum
    // moves, the declared checksum does not)
    val badCs = ok.clone(); badCs(0) = (badCs(0) ^ 1).toByte
    val e1 = intercept[IllegalArgumentException](Codecs.tarEntries(badCs))
    assert(e1.getMessage.contains("checksum"), e1.getMessage)
    // an unsupported typeflag (symlink) is refused, not skipped blind
    val badTf = ok.clone(); badTf(156) = '2'; restamp(badTf, 0)
    val e2 = intercept[RuntimeException](Codecs.tarEntries(badTf))
    assert(e2.getMessage.contains("typeflag"), e2.getMessage)
    // a size field overrunning the archive is refused BEFORE the walk
    // advances (an 8 GiB octal size must not wrap the block arithmetic)
    val badSz = ok.clone()
    System.arraycopy("77777777777".getBytes("US-ASCII"), 0, badSz, 124, 11)
    restamp(badSz, 0)
    val e3 = intercept[IllegalArgumentException](Codecs.tarEntries(badSz))
    assert(e3.getMessage.contains("overruns"), e3.getMessage)
    // octal field with trailing junk after digits
    val badOct = ok.clone(); badOct(126) = 'x'; restamp(badOct, 0)
    intercept[IllegalArgumentException](Codecs.tarEntries(badOct))
    // one zero block is not an end marker; truncation is loud
    intercept[IllegalArgumentException](
      Codecs.tarEntries(ok.take(ok.length - 512)))
    intercept[IllegalArgumentException](Codecs.tarEntries(ok.take(700)))
    // non-zero byte after the end marker
    val trail = ok.clone(); trail(ok.length - 1) = 1
    intercept[IllegalArgumentException](Codecs.tarEntries(trail))
    // missing ustar magic
    val badMagic = ok.clone(); badMagic(257) = 'X'
    intercept[IllegalArgumentException](Codecs.tarEntries(badMagic))
    // extraction shares the walk: payloads round-trip exactly, and the
    // text fixture's members decode to the closed-form word sequences
    for (d <- 0L to 20L) {
      val ms = Codecs.tarExtract(Codecs.synthTarDocs(d))
      assert(ms.length == (2 + d % 4).toInt, s"d=$d")
      ms.zipWithIndex.foreach { case ((e, body), j) =>
        assert(e.typeflag == "file" && e.name == s"doc_${d}_$j.txt")
        val want = (0 until (5 + (d + j) % 10).toInt)
          .map(i => "w" + ((d * 3 + 5 * j + i.toLong * i) % 13))
          .mkString(" ")
        assert(new String(body, "US-ASCII") == want, s"d=$d j=$j")
        assert(e.size == want.length, s"d=$d j=$j size")
      }
    }
  }

  test("zip walk matches the closed form and the JDK's independent reader") {
    for (d <- 0L to 40L) {
      val bytes = Codecs.synthZip(d)
      val es = Codecs.zipEntries(bytes)
      assert(es.length == (2 + d % 4).toInt, s"d=$d")
      es.zipWithIndex.foreach { case (e, j) =>
        assert(e.idx == j && e.name == s"f${d}_$j.bin")
        assert(e.method ==
          (if ((d + j) % 3 == 0) "deflated" else "stored"), s"d=$d j=$j")
        assert(e.usize == 20 + (d * 5 + 11 * j) % 200)
      }
      // cross-check against java.util.zip — an independent reader of
      // the same bytes (names, sizes, AND extracted payload bytes)
      val zin = new java.util.zip.ZipInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        es.foreach { e =>
          val ze = zin.getNextEntry
          assert(ze != null && ze.getName == e.name, s"d=$d ${e.name}")
          val buf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](256)
          var m = zin.read(tmp)
          while (m >= 0) { buf.write(tmp, 0, m); m = zin.read(tmp) }
          val plain = buf.toByteArray
          assert(plain.length == e.usize, s"d=$d ${e.name} JDK size")
          plain.zipWithIndex.foreach { case (b, i) =>
            assert((b & 0xff) == ((d * 11 + 17 * e.idx + i) % 251).toInt,
              s"d=$d ${e.name} byte $i")
          }
        }
        assert(zin.getNextEntry == null, s"d=$d JDK sees extra members")
      } finally zin.close()
    }
    val ok = Codecs.synthZip(7L)
    // a flipped payload byte fails the CRC integrity check
    val dataOff = ok.indexOfSlice("f7_0.bin".getBytes("US-ASCII")) + 8
    val badPay = ok.clone(); badPay(dataOff + 3) = (badPay(dataOff + 3) ^ 1).toByte
    val e1 = intercept[RuntimeException](Codecs.zipEntries(badPay))
    assert(e1.getMessage.contains("CRC") || e1.getMessage.contains("corrupt"),
      e1.getMessage)
    // central dir claiming an unsupported compression method
    val cd = ok.lastIndexOfSlice(Array[Byte](0x50, 0x4b, 1, 2))
    val badM = ok.clone(); badM(cd + 10) = 12 // bzip2
    val e2 = intercept[RuntimeException](Codecs.zipEntries(badM))
    assert(e2.getMessage.contains("method"), e2.getMessage)
    // EOCD comment length lying about the tail → no EOCD found
    val e3 = intercept[IllegalArgumentException](
      Codecs.zipEntries(ok.take(ok.length - 1)))
    assert(e3.getMessage.contains("end-of-central-directory"), e3.getMessage)
    // local header name disagreeing with the central directory
    val lh = ok.indexOfSlice("f7_0.bin".getBytes("US-ASCII"))
    val badN = ok.clone(); badN(lh) = 'g'
    val e4 = intercept[IllegalArgumentException](Codecs.zipEntries(badN))
    assert(e4.getMessage.contains("disagrees"), e4.getMessage)
    // shorter than an empty archive / garbage
    intercept[IllegalArgumentException](Codecs.zipEntries(Array.emptyByteArray))
    intercept[IllegalArgumentException](
      Codecs.zipEntries(Array.fill[Byte](64)(0x2a)))
  }

  test("zip64 walk resolves markers via extras + EOCD chain; JDK ZipFile agrees") {
    for (d <- 0L to 40L) {
      val bytes = Codecs.synthZip64(d)
      val es = Codecs.zipEntries(bytes)
      assert(es.length == (2 + d % 3).toInt, s"d=$d")
      es.zipWithIndex.foreach { case (e, j) =>
        assert(e.idx == j && e.name == s"big${d}_$j.dat")
        assert(e.method ==
          (if ((d + j) % 3 == 0) "deflated" else "stored"), s"d=$d j=$j")
        assert(e.usize == 30 + (d * 7 + 13 * j) % 150, s"d=$d j=$j")
      }
      // cross-check against java.util.zip.ZipFile — the JDK's
      // central-directory reader with full zip64 support — on names,
      // sizes, and every extracted payload byte
      val tmp = java.io.File.createTempFile("graft-z64", ".zip")
      try {
        java.nio.file.Files.write(tmp.toPath, bytes)
        val zf = new java.util.zip.ZipFile(tmp)
        try {
          val jes = zf.entries()
          es.foreach { e =>
            assert(jes.hasMoreElements, s"d=$d JDK sees fewer members")
            val ze = jes.nextElement()
            assert(ze.getName == e.name && ze.getSize == e.usize,
              s"d=$d ${e.name} JDK name/size")
            val in = zf.getInputStream(ze)
            val buf = new java.io.ByteArrayOutputStream()
            val tmp2 = new Array[Byte](256)
            var m = in.read(tmp2)
            while (m >= 0) { buf.write(tmp2, 0, m); m = in.read(tmp2) }
            in.close()
            buf.toByteArray.zipWithIndex.foreach { case (b, i) =>
              assert((b & 0xff) == ((d * 13 + 19 * e.idx + i) % 251).toInt,
                s"d=$d ${e.name} byte $i")
            }
          }
          assert(!jes.hasMoreElements, s"d=$d JDK sees extra members")
        } finally zf.close()
      } finally tmp.delete()
    }
    val ok = Codecs.synthZip64(7L)
    // classic EOCD at its ceiling with the locator signature broken
    val locOff = ok.lastIndexOfSlice(Array[Byte](0x50, 0x4b, 6, 7))
    assert(locOff > 0)
    val badLoc = ok.clone(); badLoc(locOff + 3) = 9
    val e1 = intercept[IllegalArgumentException](Codecs.zipEntries(badLoc))
    assert(e1.getMessage.contains("locator"), e1.getMessage)
    // zip64 EOCD record signature broken
    val e64Off = ok.lastIndexOfSlice(Array[Byte](0x50, 0x4b, 6, 6))
    assert(e64Off > 0 && e64Off < locOff)
    val badE64 = ok.clone(); badE64(e64Off + 3) = 9
    val e2 = intercept[IllegalArgumentException](Codecs.zipEntries(badE64))
    assert(e2.getMessage.contains("zip64 EOCD"), e2.getMessage)
    // a central entry at its ceiling whose 0x0001 extra id is wiped —
    // markers without the extra must be loud, never trusted as sizes
    val cd = ok.lastIndexOfSlice(Array[Byte](0x50, 0x4b, 1, 2))
    val nameLen = s"big7_0.dat".length
    val badX = ok.clone(); badX(cd + 46 + nameLen) = 0x42
    val e3 = intercept[IllegalArgumentException](Codecs.zipEntries(badX))
    assert(e3.getMessage.contains("zip64 extra"), e3.getMessage)
    // payload integrity still enforced through the extra-resolved size
    val dataOff = ok.indexOfSlice("big7_0.dat".getBytes("US-ASCII")) +
      nameLen + 20
    val badPay = ok.clone()
    badPay(dataOff + 5) = (badPay(dataOff + 5) ^ 1).toByte
    intercept[RuntimeException](Codecs.zipEntries(badPay))
  }

  private val codecsCases: Seq[Case] = Seq(
    fixed("jpeg-baseline", Codecs.synthBaselineJpeg(7L))(Codecs.decodeJpeg),
    fixed("jpeg-420", Codecs.synthBaselineJpeg420(3L))(Codecs.decodeJpeg),
    fixed("jpeg-411", Codecs.synthBaselineJpeg411(5L))(Codecs.decodeJpeg),
    fixed("jpeg-h1v2", Codecs.synthBaselineJpegH1v2(10L))(Codecs.decodeJpeg),
    fixed("jpeg-progressive", Codecs.synthProgressiveJpeg(2L))(
      Codecs.decodeJpeg),
    fixed("png", Codecs.encodePng(Codecs.synthBmp(9L)))(Codecs.decodePng),
    fixed("bmp", Codecs.encodeBmp(Codecs.synthBmp(4L)))(Codecs.decodeBmp),
    fixed("wav", Codecs.encodeWavPcm16(Codecs.synthWav(6L)))(
      Codecs.decodeWav),
    fixed("mp4-meta", Codecs.synthMp4(5L))(Codecs.mp4Meta),
    fixed("mp4-samples", Codecs.synthMp4Samples(8L))(Codecs.mp4Samples),
    fixed("mp4-extract", Codecs.synthMp4Data(11L))(Codecs.mp4ExtractSamples),
    fixed("mp4-mjpeg", Codecs.synthMjpegMp4(6L))(Codecs.decodeMjpegFrames),
    fixed("warc", Codecs.synthWarc(9L))(Codecs.warcRecords),
    fixed("warc-gz", Codecs.synthWarcGz(4L))(Codecs.warcRecordsGz(_)),
    fixed("gif", Codecs.encodeGif(Codecs.synthGif(5L)))(Codecs.decodeGif),
    fixed("gif-interlaced",
      Codecs.encodeGif(Codecs.synthGif(6L), interlaced = true))(
      Codecs.decodeGif),
    fixed("gif-anim", {
      val (fs, ds) = Codecs.synthGifAnim(8L)
      Codecs.encodeGifAnim(fs, ds)
    })(Codecs.decodeGifFrames),
    fixed("http-cl", Codecs.synthHttpResponse(2L, 3))(Codecs.httpParse),
    fixed("http-chunked", Codecs.synthHttpResponse(2L, 1))(Codecs.httpParse),
    fixed("warc-web", Codecs.synthWarcWebGz(7L)) { b =>
      val (plain, recs) = Codecs.warcRecordsGz(b)
      recs.filter(_.recType == "response").map { r =>
        Codecs.httpParse(java.util.Arrays.copyOfRange(
          plain, r.payloadStart, r.payloadStart + r.contentLength))
      }
    },
    fixed("avc-avcc", Codecs.synthAvcStream(4L))(Codecs.avcNalMeta),
    fixed("avc-annexb", Codecs.synthAvcStream(7L))(Codecs.avcNalMeta),
    fixed("avcc-mp4", Codecs.synthAvcMp4(9L))(Codecs.avccMeta),
    fixed("mp3-id3v2", Codecs.synthMp3(6L))(Codecs.mp3Meta),
    fixed("mp3-id3v1", Codecs.synthMp3(5L))(Codecs.mp3Meta),
    fixed("mp4a-esds", Codecs.synthMp4aMp4(7L))(Codecs.mp4aMeta),
    fixed("tar", Codecs.synthTar(6L))(Codecs.tarEntries),
    fixed("tar-docs", Codecs.synthTarDocs(9L))(Codecs.tarExtract),
    fixed("zip", Codecs.synthZip(8L))(Codecs.zipEntries),
    fixed("zip64", Codecs.synthZip64(4L))(Codecs.zipEntries))

  fuzzTest(Row("decoders terminate (decode or throw) under random " +
    "corruption — never hang", 42, 120, 8, codecsCases, cuts = true,
    garbage = 20))
}
