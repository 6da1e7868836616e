package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Tiff

class TiffSpec extends AnyFunSuite {

  test("closed-form fixture parses to the oracle's exact fields") {
    for (d <- 0L to 50L) {
      val pages = Tiff.parse(Tiff.synth(d))
      assert(pages.size == Tiff.nPages(d), s"d=$d pages")
      pages.foreach { pg =>
        val p = pg.page
        assert(pg.width == Tiff.pageW(d, p), s"d=$d p=$p width")
        assert(pg.height == Tiff.pageH(d, p), s"d=$d p=$p height")
        assert(pg.samples == Tiff.samples(d, p), s"d=$d p=$p samples")
        assert(pg.compression == Tiff.compOf(d, p), s"d=$d p=$p comp")
        assert(pg.predictor == Tiff.predOf(d, p), s"d=$d p=$p predictor")
        assert(pg.tiled == (if (Tiff.tiledOf(d, p)) 1 else 0),
          s"d=$d p=$p tiled")
        if (Tiff.tiledOf(d, p)) {
          val across = (pg.width + Tiff.TileDim - 1) / Tiff.TileDim
          val down = (pg.height + Tiff.TileDim - 1) / Tiff.TileDim
          assert(across >= 2 && down >= 2,
            s"d=$d p=$p tile grid $across x $down must be >= 2x2")
          assert(across * Tiff.TileDim > pg.width ||
            down * Tiff.TileDim > pg.height,
            s"d=$d p=$p tiled page must carry partial edge tiles")
          assert(pg.nStrips == across * down, s"d=$d p=$p tiles")
        } else {
          val rps = Tiff.rowsPerStrip(d, p)
          assert(pg.nStrips == (pg.height + rps - 1) / rps,
            s"d=$d p=$p strips")
        }
        assert(pg.decodedBytes ==
          pg.width.toLong * pg.height * pg.samples, s"d=$d p=$p bytes")
        var sum = 0L
        for (y <- 0 until pg.height; x <- 0 until pg.width;
             c <- 0 until pg.samples)
          sum += (if (pg.compression == 4) Tiff.bilevel(d, p, x, y)
            else Tiff.px(d, p, x, y, c))
        assert(pg.pixelSum == sum, s"d=$d p=$p pixel sum")
        if (pg.compression == 4)
          assert(pg.samples == 1 && pg.tiled == 0, s"d=$d p=$p G4 shape")
      }
      // both endians and all four compressions live in range
    }
    assert((0L to 10L).exists(_ % 2 == 0) && (0L to 10L).exists(_ % 2 == 1))
    val comps = (0L to 10L).flatMap(d =>
      (0 until Tiff.nPages(d)).map(p => Tiff.compOf(d, p))).toSet
    assert(comps == Set(1, 32773, 5, 4), s"compression coverage: $comps")
    val preds = (0L to 10L).flatMap(d =>
      (0 until Tiff.nPages(d)).map(p => Tiff.predOf(d, p))).toSet
    assert(preds == Set(1, 2), s"predictor coverage: $preds")
    // G4 pages carry both solid (constant-row) and varying scanlines
    val g4Kinds = (0L to 20L).flatMap(d =>
      (0 until Tiff.nPages(d)).collect {
        case p if Tiff.compOf(d, p) == 4 =>
          (0 until Tiff.pageH(d, p)).map(y => (d + p + y) % 4 == 0).toSet
      }).flatten.toSet
    assert(g4Kinds == Set(true, false), "G4 scanline coverage")
    // tiled pages rotate through in BOTH organizations and every
    // non-G4 compression (incl. predicted LZW tiles)
    val tiledComps = (0L to 44L).flatMap(d =>
      (0 until Tiff.nPages(d)).collect {
        case p if Tiff.tiledOf(d, p) => (Tiff.compOf(d, p), Tiff.predOf(d, p))
      }).toSet
    assert(tiledComps.map(_._1) == Set(1, 32773, 5),
      s"tiled compression coverage: $tiledComps")
    assert(tiledComps.contains((5, 2)), "no predicted LZW tiled page in range")
  }

  test("tile/strip parity: the same pixels read identically in either organization") {
    // Re-synthesize a tiled page's pixels as a STRIP page byte stream
    // and parse both: every field except the organization ones must
    // match — the tile reassembly cannot drift from the strip path.
    val found = (0L to 30L).flatMap { d =>
      (0 until Tiff.nPages(d)).filter(p => Tiff.tiledOf(d, p)).map((d, _))
    }
    assert(found.nonEmpty)
    found.take(6).foreach { case (d, p) =>
      val tiledPage = Tiff.parse(Tiff.synth(d))(p)
      val strip = stripSynth(d, p)
      val stripPage = Tiff.parse(strip).head
      assert(stripPage.tiled == 0 && tiledPage.tiled == 1)
      assert(stripPage.width == tiledPage.width &&
        stripPage.height == tiledPage.height &&
        stripPage.samples == tiledPage.samples &&
        stripPage.decodedBytes == tiledPage.decodedBytes &&
        stripPage.pixelSum == tiledPage.pixelSum,
        s"d=$d p=$p tile/strip drift: $stripPage vs $tiledPage")
    }
  }

  /** One-page STRIP-organized uncompressed TIFF carrying exactly the
    * pixels of (d, p) — the parity counterpart to the tiled fixture. */
  private def stripSynth(d: Long, p: Int): Array[Byte] = {
    val w = Tiff.pageW(d, p); val h = Tiff.pageH(d, p)
    val sp = Tiff.samples(d, p)
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >> 16) & 0xffff) }
    out.write('I'); out.write('I'); w16(42)
    val dataAt = 8 // header(4) + first-IFD pointer(4)
    val raw = new Array[Byte](w * h * sp)
    var i = 0
    for (y <- 0 until h; x <- 0 until w; c <- 0 until sp) {
      raw(i) = Tiff.px(d, p, x, y, c).toByte; i += 1
    }
    w32(dataAt + raw.length) // first IFD after the single strip
    out.write(raw, 0, raw.length)
    w16(9)
    def entry(tag: Int, typ: Int, cnt: Int, value: Int): Unit = {
      w16(tag); w16(typ); w32(cnt)
      if (typ == 3 && cnt == 1) { w16(value); w16(0) } else w32(value)
    }
    entry(256, 3, 1, w); entry(257, 3, 1, h); entry(258, 3, 1, 8)
    entry(259, 3, 1, 1); entry(262, 3, 1, if (sp == 3) 2 else 1)
    entry(273, 4, 1, dataAt); entry(277, 3, 1, sp)
    entry(278, 3, 1, h); entry(279, 4, 1, raw.length)
    w32(0)
    out.toByteArray
  }

  test("constant rows genuinely exercise PackBits run packets") {
    // a PackBits page must contain a run packet (negative count byte
    // followed by one byte) — the constant rows guarantee it; verify
    // the compressed size is smaller than raw for at least one page
    val found = (0L until 20L).exists { d =>
      (0 until Tiff.nPages(d)).exists { p =>
        Tiff.compOf(d, p) == 32773 &&
          (0 until Tiff.pageH(d, p)).exists(y => (d + p + y) % 4 == 0)
      }
    }
    assert(found, "no PackBits page with a constant row in range")
  }

  test("structural lies are rejected by name") {
    // out-of-subset compression: CCITT G4 (4)
    val good = Tiff.synth(2L) // little-endian
    def findTag(b: Array[Byte], ifd: Int, tag: Int): Int = {
      val n = (b(ifd) & 0xff) | ((b(ifd + 1) & 0xff) << 8)
      (0 until n).map(k => ifd + 2 + 12 * k).find { e =>
        ((b(e) & 0xff) | ((b(e + 1) & 0xff) << 8)) == tag
      }.get
    }
    val ifd0 = (good(4) & 0xff) | ((good(5) & 0xff) << 8) |
      ((good(6) & 0xff) << 16) | ((good(7) & 0xff) << 24)
    val jpegIn = good.clone()
    val ce = findTag(jpegIn, ifd0, 259)
    jpegIn(ce + 8) = 7 // Compression = JPEG-in-TIFF
    val e1 = intercept[IllegalArgumentException](Tiff.parse(jpegIn))
    assert(e1.getMessage.contains("outside the walk subset"), e1.getMessage)
    // G4 on an 8-bit page: the bilevel pairing must hold BOTH ways
    val g4on8 = good.clone()
    g4on8(ce + 8) = 4
    val eG = intercept[IllegalArgumentException](Tiff.parse(g4on8))
    assert(eG.getMessage.contains("BitsPerSample 1"), eG.getMessage)
    // an out-of-subset predictor (floating point, 3)
    val fp = good.clone()
    val pe = findTag(fp, ifd0, 317)
    fp(pe + 8) = 3
    val eP = intercept[IllegalArgumentException](Tiff.parse(fp))
    assert(eP.getMessage.contains("predictor"), eP.getMessage)
    // MIXED strip+tile organization rejected by name: rewrite
    // RowsPerStrip's tag id (278) to TileWidth (322) so the page
    // carries strip offsets AND a tile tag
    val tiled = good.clone()
    val re = findTag(tiled, ifd0, 278)
    tiled(re) = (322 & 0xff).toByte; tiled(re + 1) = (322 >> 8).toByte
    val e2 = intercept[IllegalArgumentException](Tiff.parse(tiled))
    assert(e2.getMessage.contains("mixes strip and tile"), e2.getMessage)
    // a lying strip table: flip the first StripByteCounts entry's low
    // bit on an UNCOMPRESSED page (d=8, p=0: (8+0)%4=0 -> comp 1)
    val good6 = Tiff.synth(8L)
    val ifd6 = (good6(4) & 0xff) | ((good6(5) & 0xff) << 8) |
      ((good6(6) & 0xff) << 16) | ((good6(7) & 0xff) << 24)
    val lie = good6.clone()
    val be = findTag(lie, ifd6, 279)
    val cnt = (lie(be + 4) & 0xff) | ((lie(be + 5) & 0xff) << 8)
    val firstAt =
      if (cnt == 1) be + 8
      else (lie(be + 8) & 0xff) | ((lie(be + 9) & 0xff) << 8) |
        ((lie(be + 10) & 0xff) << 16) | ((lie(be + 11) & 0xff) << 24)
    lie(firstAt) = ((lie(firstAt) & 0xff) ^ 0x01).toByte
    val e3 = intercept[IllegalArgumentException](Tiff.parse(lie))
    assert(e3.getMessage.contains("expected") ||
      e3.getMessage.contains("overruns"), e3.getMessage)
    // 16-bit samples are outside the subset
    val deep = good.clone()
    val bpse = findTag(deep, ifd0, 258)
    deep(bpse + 8) = 16
    val e4 = intercept[IllegalArgumentException](Tiff.parse(deep))
    assert(e4.getMessage.contains("8/1-bit"), e4.getMessage)
  }

  test("the JDK reference TIFF reader decodes our LZW pages " +
      "pixel-exactly") {
    // direction 1 of the JPEG round-9 discipline: ImageIO (the
    // reference TIFF implementation the JDK bundles) must read every
    // LZW page of our from-spec encoder — predicted and unpredicted —
    // to the exact closed-form pixels
    var lzwPages = 0
    for (d <- 0L until 12L) {
      val in = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(Tiff.synth(d)))
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      assert(readers.hasNext, "no JDK TIFF reader")
      val reader = readers.next()
      reader.setInput(in)
      assert(reader.getNumImages(true) == Tiff.nPages(d), s"d=$d pages")
      for (p <- 0 until Tiff.nPages(d)) {
        val img = reader.read(p)
        assert(img.getWidth == Tiff.pageW(d, p), s"d=$d p=$p width")
        assert(img.getHeight == Tiff.pageH(d, p), s"d=$d p=$p height")
        if (Tiff.compOf(d, p) == 5) {
          lzwPages += 1
          val sp = Tiff.samples(d, p)
          // raster samples, not getRGB: getRGB would push gray pages
          // through a GRAY→sRGB colorspace conversion
          val raster = img.getRaster
          for (y <- 0 until img.getHeight; x <- 0 until img.getWidth;
               c <- 0 until sp) {
            assert(raster.getSample(x, y, c) == Tiff.px(d, p, x, y, c),
              s"d=$d p=$p ($x,$y,$c) sample mismatch")
          }
        }
      }
      reader.dispose(); in.close()
    }
    assert(lzwPages > 0, "no LZW pages in range")
  }

  test("our walk decodes JDK-written LZW TIFFs pixel-exactly") {
    // direction 2: ImageIO writes LZW; our decoder must recover the
    // exact pixel sum
    for (d <- 0L until 8L) {
      val w = 20 + d.toInt; val h = 14 + d.toInt
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      var sum = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val v = ((d + 3 * x + 5 * y) % 256).toInt
        img.getRaster.setSample(x, y, 0, v)
        sum += v
      }
      val writers = javax.imageio.ImageIO.getImageWritersByFormatName("tiff")
      assert(writers.hasNext, "no JDK TIFF writer")
      val writer = writers.next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      val param = writer.getDefaultWriteParam
      param.setCompressionMode(
        javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionType("LZW")
      writer.write(null,
        new javax.imageio.IIOImage(img, null, null), param)
      writer.dispose(); ios.close()
      val pages = Tiff.parse(bos.toByteArray)
      assert(pages.size == 1 && pages.head.compression == 5,
        s"d=$d: JDK writer did not produce one LZW page")
      assert(pages.head.width == w && pages.head.height == h, s"d=$d dims")
      assert(pages.head.pixelSum == sum,
        s"d=$d: pixel sum ${pages.head.pixelSum} != $sum")
    }
  }

  test("our walk decodes JDK-written TILED TIFFs pixel-exactly") {
    // the tiled counterpart of the LZW direction-2 test: ImageIO
    // writes a 16x16-tiled LZW TIFF with partial edge tiles; our tile
    // reassembly must recover the exact pixel sum and grid
    for (d <- 0L until 6L) {
      val w = 40 + d.toInt; val h = 35 + d.toInt
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      var sum = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val v = ((d + 3 * x + 5 * y) % 256).toInt
        img.getRaster.setSample(x, y, 0, v)
        sum += v
      }
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("tiff").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      val param = writer.getDefaultWriteParam
      param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionType("LZW")
      param.setTilingMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setTiling(16, 16, 0, 0)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      writer.dispose(); ios.close()
      val pg = Tiff.parse(bos.toByteArray).head
      assert(pg.tiled == 1 && pg.compression == 5,
        s"d=$d: JDK writer did not produce a tiled LZW page: $pg")
      assert(pg.nStrips == ((w + 15) / 16) * ((h + 15) / 16), s"d=$d grid")
      assert(pg.width == w && pg.height == h, s"d=$d dims")
      assert(pg.decodedBytes == w.toLong * h, s"d=$d in-bounds bytes")
      assert(pg.pixelSum == sum, s"d=$d: pixel sum ${pg.pixelSum} != $sum")
    }
  }

  test("tile bombs and lies are rejected by name") {
    // d=0 page 0 is tiled ((0+0)%5==0), little-endian, comp none
    val d = 0L
    assert(Tiff.tiledOf(d, 0))
    val good = Tiff.synth(d)
    def findTag(b: Array[Byte], ifd: Int, tag: Int): Int = {
      val n = (b(ifd) & 0xff) | ((b(ifd + 1) & 0xff) << 8)
      (0 until n).map(k => ifd + 2 + 12 * k).find { e =>
        ((b(e) & 0xff) | ((b(e + 1) & 0xff) << 8)) == tag
      }.get
    }
    val ifd0 = (good(4) & 0xff) | ((good(5) & 0xff) << 8) |
      ((good(6) & 0xff) << 16) | ((good(7) & 0xff) << 24)
    // tile grid OVERFLOW bomb: ImageWidth rewritten to a LONG huge
    // enough that across*down explodes past any real offset table
    val bomb = good.clone()
    val we = findTag(bomb, ifd0, 256)
    bomb(we + 2) = 4; bomb(we + 3) = 0 // type LONG
    val huge = 20000000
    bomb(we + 8) = (huge & 0xff).toByte
    bomb(we + 9) = ((huge >> 8) & 0xff).toByte
    bomb(we + 10) = ((huge >> 16) & 0xff).toByte
    bomb(we + 11) = ((huge >> 24) & 0xff).toByte
    val e1 = intercept[IllegalArgumentException](Tiff.parse(bomb))
    assert(e1.getMessage.contains("tile grid"), e1.getMessage)
    // a LYING grid: widen the image one tile; the offset table no
    // longer matches the implied grid
    val lie = good.clone()
    val wv = (lie(we + 8) & 0xff) | ((lie(we + 9) & 0xff) << 8)
    val wider = wv + 16
    lie(we + 8) = (wider & 0xff).toByte
    lie(we + 9) = ((wider >> 8) & 0xff).toByte
    val e2 = intercept[IllegalArgumentException](Tiff.parse(lie))
    assert(e2.getMessage.contains("grid implies"), e2.getMessage)
    // a SHORT tile: shrink the first TileByteCount below the padded
    // tile size (comp none ⇒ the count must equal it exactly)
    assert(Tiff.compOf(d, 0) == 1)
    val short = good.clone()
    val ce = findTag(short, ifd0, 325)
    val at = (short(ce + 8) & 0xff) | ((short(ce + 9) & 0xff) << 8) |
      ((short(ce + 10) & 0xff) << 16) | ((short(ce + 11) & 0xff) << 24)
    short(at) = ((short(at) & 0xff) ^ 0x01).toByte
    val e3 = intercept[IllegalArgumentException](Tiff.parse(short))
    assert(e3.getMessage.contains("expected"), e3.getMessage)
    // tile dims off the 16 lattice
    val off16 = good.clone()
    val te = findTag(off16, ifd0, 322)
    off16(te + 8) = 20
    val e4 = intercept[IllegalArgumentException](Tiff.parse(off16))
    assert(e4.getMessage.contains("multiples of 16"), e4.getMessage)
  }

  test("the JDK reference T.6 codec decodes our G4 pages pixel-exactly") {
    // direction 1: ImageIO reads every G4 page of our from-spec T.6
    // encoder to the exact thresholded closed-form bilevel pixels.
    // getRGB is color-model-aware, so 1 = black compares as RGB black
    // regardless of how the reader maps the MinIsWhite photometric.
    var g4Pages = 0
    for (d <- 0L until 12L) {
      val in = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(Tiff.synth(d)))
      val reader = javax.imageio.ImageIO.getImageReaders(in).next()
      reader.setInput(in)
      for (p <- 0 until Tiff.nPages(d) if Tiff.compOf(d, p) == 4) {
        g4Pages += 1
        val img = reader.read(p)
        assert(img.getWidth == Tiff.pageW(d, p) &&
          img.getHeight == Tiff.pageH(d, p), s"d=$d p=$p dims")
        for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
          val black = (img.getRGB(x, y) & 0xffffff) == 0
          assert(black == (Tiff.bilevel(d, p, x, y) == 1),
            s"d=$d p=$p ($x,$y) bilevel mismatch")
        }
      }
      reader.dispose(); in.close()
    }
    assert(g4Pages > 0, "no G4 pages in range")
  }

  test("our walk decodes JDK-written G4 TIFFs pixel-exactly, incl. " +
      "fax-width makeup codes") {
    // direction 2: ImageIO writes CCITT T.6; our decoder must recover
    // the exact black-pixel count. The 1728-wide page carries runs far
    // past 63, forcing the T.4 makeup codes (incl. extended makeups on
    // the all-white rows) through BOTH its encoder and our decoder.
    for ((w, h, seed) <- Seq((40, 30, 1L), (61, 45, 2L), (1728, 16, 3L))) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_BINARY)
      var black = 0L
      for (y <- 0 until h; x <- 0 until w) {
        // long runs with occasional mode changes; some rows all-white
        val v =
          if (y % 5 == 0) 0
          else if ((x / (16 + y)) % 2 == (seed + y) % 2) 1 else 0
        img.getRaster.setSample(x, y, 0, v)
      }
      // count black via the color model, same convention as the walk
      for (y <- 0 until h; x <- 0 until w)
        if ((img.getRGB(x, y) & 0xffffff) == 0) black += 1
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("tiff").next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      val param = writer.getDefaultWriteParam
      param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionType("CCITT T.6")
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      writer.dispose(); ios.close()
      val pg = Tiff.parse(bos.toByteArray).head
      assert(pg.compression == 4 && pg.samples == 1,
        s"$w x $h: JDK writer did not produce a G4 page: $pg")
      assert(pg.width == w && pg.height == h, s"$w x $h dims")
      assert(pg.pixelSum == black,
        s"$w x $h: black count ${pg.pixelSum} != $black")
    }
  }

  test("G4 roundtrips our own encoder at fax width (makeup + chained runs)") {
    // the encoder side of the makeup tables: runs of 64..2560+ white
    // and black must survive encode→decode bit-exactly
    val w = 2800; val rows = 6
    val pix = new Array[Byte](w * rows)
    for (y <- 0 until rows; x <- 0 until w) {
      val v = y match {
        case 0 => 0                         // all white: 2800-run (chained makeup)
        case 1 => 1                         // all black
        case 2 => if (x >= 100 && x < 1900) 1 else 0 // 1800 black run
        case 3 => if (x / 70 % 2 == 0) 1 else 0      // 70-runs (makeup 64)
        case 4 => if (x % 3 == 0) 1 else 0           // short runs (V modes)
        case _ => if (x < 2650) 0 else 1             // 2650 white run
      }
      pix(y * w + x) = v.toByte
    }
    val enc = Tiff.CcittG4.encode(pix, w, rows)
    val dec = Tiff.CcittG4.decode(enc, 0, enc.length, w, rows)
    assert(java.util.Arrays.equals(dec, pix), "G4 self-roundtrip drift")
  }

  test("G4 bombs and truncations are rejected by name") {
    val w = 64; val rows = 3
    val pix = Array.tabulate[Byte](w * rows)(i => ((i / 7) % 2).toByte)
    val enc = Tiff.CcittG4.encode(pix, w, rows)
    // truncated stream ends mid-code
    val e1 = intercept[IllegalArgumentException](
      Tiff.CcittG4.decode(enc, 0, math.max(1, enc.length / 2), w, rows))
    assert(e1.getMessage.contains("mid-code") ||
      e1.getMessage.contains("advance"), e1.getMessage)
    // horizontal runs past the line width: H + white makeup 2560 on a
    // 64-wide line (001 + 000000011111 ...)
    val bomb = Array[Byte](
      Integer.parseInt("00100000", 2).toByte,
      Integer.parseInt("00111110", 2).toByte, 0, 0, 0)
    val e2 = intercept[IllegalArgumentException](
      Tiff.CcittG4.decode(bomb, 0, bomb.length, w, rows))
    assert(e2.getMessage.contains("exceeds the line width"), e2.getMessage)
    // an unmatched mode code (six zeros) is garbage, not a silent skip
    val junk = Array[Byte](0, 0, 0)
    val e3 = intercept[IllegalArgumentException](
      Tiff.CcittG4.decode(junk, 0, junk.length, w, rows))
    assert(e3.getMessage.contains("matches no"), e3.getMessage)
    // non-zero trailing bytes after the last coded line
    val trail = enc ++ Array[Byte](0x55, 0x55, 0x55, 0x55, 0x55)
    val e4 = intercept[IllegalArgumentException](
      Tiff.CcittG4.decode(trail, 0, trail.length, w, rows))
    assert(e4.getMessage.contains("past the last coded line") ||
      e4.getMessage.contains("neither EOFB"), e4.getMessage)
  }

  test("LZW bombs and desyncs are rejected by name") {
    // a code pointing past the just-added table entry is the classic
    // desync: find an LZW page's first strip and corrupt its stream
    // head so the first post-Clear code is not a literal
    val d = 2L // compOf(2,0)=2 -> LZW, little-endian
    assert(Tiff.compOf(d, 0) == 5)
    val good = Tiff.synth(d)
    def findTag(b: Array[Byte], ifd: Int, tag: Int): Int = {
      val n = (b(ifd) & 0xff) | ((b(ifd + 1) & 0xff) << 8)
      (0 until n).map(k => ifd + 2 + 12 * k).find { e =>
        ((b(e) & 0xff) | ((b(e + 1) & 0xff) << 8)) == tag
      }.get
    }
    val ifd0 = (good(4) & 0xff) | ((good(5) & 0xff) << 8) |
      ((good(6) & 0xff) << 16) | ((good(7) & 0xff) << 24)
    val oe = findTag(good, ifd0, 273)
    val cnt = (good(oe + 4) & 0xff) | ((good(oe + 5) & 0xff) << 8)
    val strip0 =
      if (cnt == 1) (good(oe + 8) & 0xff) | ((good(oe + 9) & 0xff) << 8) |
        ((good(oe + 10) & 0xff) << 16) | ((good(oe + 11) & 0xff) << 24)
      else {
        val at = (good(oe + 8) & 0xff) | ((good(oe + 9) & 0xff) << 8) |
          ((good(oe + 10) & 0xff) << 16) | ((good(oe + 11) & 0xff) << 24)
        (good(at) & 0xff) | ((good(at + 1) & 0xff) << 8) |
          ((good(at + 2) & 0xff) << 16) | ((good(at + 3) & 0xff) << 24)
      }
    // the stream opens with Clear (256, 9 bits = 0x80 0x4x); force the
    // SECOND code's high bits so it reads >= 258 right after Clear
    val bad = good.clone()
    bad(strip0 + 1) = (bad(strip0 + 1) | 0x7f).toByte
    bad(strip0 + 2) = 0xFF.toByte
    val e = intercept[IllegalArgumentException](Tiff.parse(bad))
    assert(e.getMessage.contains("LZW") || e.getMessage.contains("tiff"),
      e.getMessage)
  }

}
