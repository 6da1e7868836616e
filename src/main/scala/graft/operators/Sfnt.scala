package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** sfnt (TrueType) font walk — fonts are a first-class web-corpus
  * asset beside images and audio, and the sfnt directory is the
  * container every font format shares (TTF, OTF, the WOFF payloads).
  * The walk reads the offset table, the table directory (tag,
  * checksum, offset, length — every range containment-checked), and
  * VERIFIES every table checksum with the spec's u32-word sum, the
  * 'head' table's own entry computed with its checkSumAdjustment
  * slot zeroed and the font-wide adjustment checked against
  * 0xB1B0AFBA minus the whole-file sum — both ladders a font
  * sanitizer runs before shaping ever sees the file. Parsed surfaces:
  * 'head' (magic 0x5F0F3CF5, unitsPerEm, bbox, indexToLocFormat),
  * 'maxp' (glyph count), 'name' (the family name, platform-3 UTF-16BE
  * or platform-1 Latin-1). Glyph outlines stay out of scope: triage
  * reads structure, a rasterizer owns the rest. */
object Sfnt {

  final case class SfntMeta(nTables: Int, unitsPerEm: Int,
      numGlyphs: Int, xMin: Int, yMin: Int, xMax: Int, yMax: Int,
      family: String, locFormat: Int)

  /** The spec checksum: big-endian u32 word sum over [off, off+len)
    * zero-padded to a word boundary, mod 2^32. */
  private def checksum(b: Array[Byte], off: Int, len: Int): Long = {
    var sum = 0L
    var i = 0
    while (i < len) {
      var w = 0L
      var k = 0
      while (k < 4) {
        w = (w << 8) | (if (i + k < len) b(off + i + k) & 0xffL else 0L)
        k += 1
      }
      sum = (sum + w) & 0xffffffffL
      i += 4
    }
    sum
  }

  def parse(bytes: Array[Byte]): SfntMeta = {
    require(bytes.length >= 12, "sfnt shorter than its offset table")
    val ver = Bin.u32be(bytes, 0, bytes.length, "sfnt")
    require(ver == 0x00010000L,
      f"sfnt version 0x$ver%08x is outside the TrueType subset")
    val n = Bin.u16be(bytes, 4, bytes.length, "sfnt")
    require(n >= 1 && 12 + 16 * n <= bytes.length,
      s"table directory claims $n tables beyond the file")
    var headAt = -1
    var headLen = -1
    var maxpAt = -1
    var nameAt = -1
    var nameLen = -1
    (0 until n).foreach { i =>
      val e = 12 + 16 * i
      val tag = new String(bytes, e, 4, "US-ASCII")
      val stored = Bin.u32be(bytes, e + 4, bytes.length, "sfnt")
      val offL = Bin.u32be(bytes, e + 8, bytes.length, "sfnt")
      val lenL = Bin.u32be(bytes, e + 12, bytes.length, "sfnt")
      require(offL >= 12 + 16 * n,
        s"table '$tag' at $offL overlaps the table directory")
      Bin.checkRange(offL, lenL, bytes.length, "sfnt table escapes the file")
      val off = offL.toInt
      val len = lenL.toInt
      val sum =
        if (tag == "head") {
          // the adjustment slot (bytes 8-11 of head) counts as zero
          require(len >= 54, "head table shorter than 54 bytes")
          (checksum(bytes, off, len) - Bin.u32be(bytes, off + 8, bytes.length,
            "sfnt")) & 0xffffffffL
        } else checksum(bytes, off, len)
      require(sum == stored,
        f"table '$tag' checksum 0x$sum%08x != directory 0x$stored%08x")
      tag match {
        case "head" => headAt = off; headLen = len
        case "maxp" => maxpAt = off
        case "name" => nameAt = off; nameLen = len
        case _ => ()
      }
    }
    require(headAt >= 0, "font carries no head table")
    require(maxpAt >= 0, "font carries no maxp table")
    require(nameAt >= 0, "font carries no name table")
    // the font-wide adjustment ladder
    val adj = Bin.u32be(bytes, headAt + 8, bytes.length, "sfnt")
    val fileSum = (checksum(bytes, 0, bytes.length) - adj) & 0xffffffffL
    require(adj == ((0xB1B0AFBAL - fileSum) & 0xffffffffL),
      "head.checkSumAdjustment disagrees with the whole-file sum")
    require(Bin.u32be(bytes, headAt + 12, bytes.length, "sfnt") == 0x5F0F3CF5L,
      "bad head magic")
    val unitsPerEm = Bin.u16be(bytes, headAt + 18, bytes.length, "sfnt")
    require(unitsPerEm >= 16 && unitsPerEm <= 16384,
      s"unitsPerEm $unitsPerEm out of the spec range")
    val xMin = Bin.u16be(bytes, headAt + 36, bytes.length, "sfnt").toShort.toInt
    val yMin = Bin.u16be(bytes, headAt + 38, bytes.length, "sfnt").toShort.toInt
    val xMax = Bin.u16be(bytes, headAt + 40, bytes.length, "sfnt").toShort.toInt
    val yMax = Bin.u16be(bytes, headAt + 42, bytes.length, "sfnt").toShort.toInt
    require(xMin <= xMax && yMin <= yMax, "head bbox is inverted")
    val locFormat = Bin.u16be(bytes, headAt + 50, bytes.length, "sfnt").toShort.toInt
    val numGlyphs = Bin.u16be(bytes, maxpAt + 4, bytes.length, "sfnt")
    // name: format 0, first family-name record (nameID 1)
    require(Bin.u16be(bytes, nameAt, bytes.length, "sfnt") == 0,
      "name table format != 0")
    val count = Bin.u16be(bytes, nameAt + 2, bytes.length, "sfnt")
    val strBase = nameAt + Bin.u16be(bytes, nameAt + 4, bytes.length, "sfnt")
    var family: String = null
    (0 until count).foreach { i =>
      val r = nameAt + 6 + 12 * i
      require(r + 12 <= nameAt + nameLen, "name record overruns the table")
      val platform = Bin.u16be(bytes, r, bytes.length, "sfnt")
      val nameId = Bin.u16be(bytes, r + 6, bytes.length, "sfnt")
      val len = Bin.u16be(bytes, r + 8, bytes.length, "sfnt")
      val off = Bin.u16be(bytes, r + 10, bytes.length, "sfnt")
      Bin.checkRange(strBase + off, len, bytes.length,
        "name string escapes the file")
      if (nameId == 1 && family == null) {
        family = platform match {
          case 3 => new String(bytes, strBase + off, len, "UTF-16BE")
          case 1 => new String(bytes, strBase + off, len, "ISO-8859-1")
          case p =>
            throw new IllegalArgumentException(
              s"name platform $p is outside the subset")
        }
      }
    }
    require(family != null, "name table carries no family (nameID 1)")
    SfntMeta(n, unitsPerEm, numGlyphs, xMin, yMin, xMax, yMax, family,
      locFormat)
  }

  /** Closed-form TrueType shell: head/maxp/name plus a filler table,
    * all checksums genuine (incl. the zeroed-slot head rule and the
    * font-wide 0xB1B0AFBA adjustment). */
  def synth(d: Long): Array[Byte] = {
    import Bin.{be16, be32}
    val unitsPerEm = Array(1000, 1024, 2048)((d % 3).toInt)
    val head = new java.io.ByteArrayOutputStream()
    head.write(be32(0x00010000L)); head.write(be32((d % 100) << 16))
    head.write(be32(0L)) // checkSumAdjustment, patched below
    head.write(be32(0x5F0F3CF5L))
    head.write(be16(0)); head.write(be16(unitsPerEm))
    head.write(new Array[Byte](16)) // created/modified
    head.write(be16((-(d % 200)).toInt & 0xffff))
    head.write(be16((-(d % 150)).toInt & 0xffff))
    head.write(be16((800 + d % 400).toInt))
    head.write(be16((900 + d % 300).toInt))
    head.write(be16(0)); head.write(be16(8)) // macStyle, lowestRecPPEM
    head.write(be16(2)) // fontDirectionHint
    head.write(be16((d % 2).toInt)) // indexToLocFormat
    head.write(be16(0)) // glyphDataFormat
    val maxp = be32(0x00010000L) ++ be16((100 + d % 900).toInt) ++
      new Array[Byte](26)
    val familyStr = s"Font${d % 50}"
    val fam16 = familyStr.getBytes("UTF-16BE")
    val name = new java.io.ByteArrayOutputStream()
    name.write(be16(0)); name.write(be16(1)); name.write(be16(18))
    name.write(be16(3)); name.write(be16(1)); name.write(be16(0x409))
    name.write(be16(1)); name.write(be16(fam16.length)); name.write(be16(0))
    name.write(fam16, 0, fam16.length)
    val filler = Array.tabulate((20 + d % 40).toInt)(
      i => ((d + 3 * i) % 251).toByte)
    val tables = Seq(("glyf", filler), ("head", head.toByteArray),
      ("maxp", maxp), ("name", name.toByteArray)).sortBy(_._1)
    val nT = tables.size
    var off = 12 + 16 * nT
    val dir = new java.io.ByteArrayOutputStream()
    val body = new java.io.ByteArrayOutputStream()
    val offsets = collection.mutable.Map.empty[String, Int]
    tables.foreach { case (tag, data) =>
      offsets(tag) = off
      dir.write(tag.getBytes("US-ASCII"))
      dir.write(be32(checksum(data, 0, data.length)))
      dir.write(be32(off.toLong)); dir.write(be32(data.length.toLong))
      body.write(data, 0, data.length)
      val pad = (4 - data.length % 4) % 4
      (0 until pad).foreach(_ => body.write(0))
      off += data.length + pad
    }
    val font = be32(0x00010000L) ++ be16(nT) ++ be16(64) ++ be16(2) ++
      be16(16 * nT - 64) ++ dir.toByteArray ++ body.toByteArray
    // patch the font-wide adjustment into head's slot 8
    val adj = (0xB1B0AFBAL - checksum(font, 0, font.length)) & 0xffffffffL
    val headOff = offsets("head")
    be32(adj).copyToArray(font, headOff + 8)
    font
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("n_tables", IntegerType),
    StructField("units_per_em", IntegerType),
    StructField("num_glyphs", IntegerType),
    StructField("x_min", IntegerType),
    StructField("y_min", IntegerType),
    StructField("x_max", IntegerType),
    StructField("y_max", IntegerType),
    StructField("family", StringType),
    StructField("loc_format", IntegerType)))

  /** ids -> closed-form TTF -> verified walk. Per-doc map work. */
  def metaFeatures(ids: DataFrame, idCol: String): DataFrame = {
    val idIdx = ids.schema.fieldIndex(idCol)
    val rdd = ids.rdd.mapPartitions { rows =>
      rows.map { r =>
        val d = r.getLong(idIdx)
        val m = parse(synth(d))
        Row(d, m.nTables, m.unitsPerEm, m.numGlyphs, m.xMin, m.yMin,
          m.xMax, m.yMax, m.family, m.locFormat)
      }
    }
    ids.sparkSession.createDataFrame(rdd, schema)
  }
}
