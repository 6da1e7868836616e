package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** EXIF metadata walk — JPEG APP1 → TIFF IFD, the image-provenance
  * sibling of the audio tag walks ([[Id3]], FLAC's VORBIS_COMMENT):
  * orientation, capture time, camera make are what an image curation
  * pass gates/groups on BEFORE any pixel decode (dedup by capture
  * time, drop rotated thumbnails, per-device mixes).
  *
  * From the public JPEG/TIFF 6.0 specs:
  *   - JPEG marker walk to APP1 (0xFFE1) carrying the `Exif\0\0`
  *     header — other segments (APP0, COM, DQT) are skipped by their
  *     big-endian lengths like [[Codecs.jpegMeta]];
  *   - TIFF header: `II` (little-endian) or `MM` (big-endian) — BOTH
  *     byte orders are first-class and the fixture alternates them —
  *     magic 42, IFD0 offset;
  *   - IFD: u16 entry count, then 12-byte entries (tag, type, count,
  *     value-or-offset); a value whose byte size ≤ 4 is INLINE in the
  *     entry (left-justified in file byte order), larger values live
  *     at an offset — ASCII strings (Make, DateTime) take the offset
  *     path, SHORT/LONG scalars the inline path, so both sit on every
  *     fixture's oracle path.
  *
  * Loud failures: no APP1/Exif, bad TIFF magic, an entry or value
  * overrunning the payload, an out-of-subset value type.
  */
object Exif {

  final case class ExifMeta(endian: String, nEntries: Int,
      orientation: Int, width: Int, make: String, dateTime: String)

  def parse(bytes: Array[Byte]): ExifMeta = {
    require(bytes.length >= 4 && (bytes(0) & 0xff) == 0xff &&
      (bytes(1) & 0xff) == 0xd8, "not a JPEG payload")
    // marker walk to APP1/Exif
    var off = 2
    var tiff = -1
    var tiffEnd = -1
    while (tiff < 0) {
      require(off + 4 <= bytes.length, "no Exif APP1 before EOI/end")
      require((bytes(off) & 0xff) == 0xff, s"bad JPEG marker at $off")
      val marker = bytes(off + 1) & 0xff
      require(marker != 0xd9, "no Exif APP1 before EOI")
      val len = Bin.u16be(bytes, off + 2, bytes.length)
      require(len >= 2, s"JPEG segment overruns the payload at $off")
      Bin.checkRange(off + 2, len, bytes.length,
        "JPEG segment overruns the payload")
      if (marker == 0xe1 && len >= 8 &&
          bytes(off + 4) == 'E' && bytes(off + 5) == 'x' &&
          bytes(off + 6) == 'i' && bytes(off + 7) == 'f' &&
          bytes(off + 8) == 0 && bytes(off + 9) == 0) {
        tiff = off + 10
        tiffEnd = off + 2 + len
      } else off += 2 + len
    }
    parseTiff(bytes, tiff, tiffEnd)
  }

  /** Parse a raw TIFF-structured EXIF block `[tiff, tiffEnd)` — the
    * form the WebP EXIF chunk carries directly (no JPEG APP1
    * wrapper), factored out so both containers share one walk. */
  def parseTiff(bytes: Array[Byte], tiff: Int, tiffEnd: Int): ExifMeta = {
    val le = (bytes(tiff), bytes(tiff + 1)) match {
      case ('I', 'I') => true
      case ('M', 'M') => false
      case _ => throw new IllegalArgumentException("bad TIFF byte-order mark in Exif")
    }
    def u16(o: Int): Int = {
      require(o >= tiff, "TIFF read out of bounds")
      if (le) Bin.u16le(bytes, o, tiffEnd, "Exif TIFF")
      else Bin.u16be(bytes, o, tiffEnd, "Exif TIFF")
    }
    def u32(o: Int): Int = {
      require(o >= tiff, "TIFF read out of bounds")
      (if (le) Bin.u32le(bytes, o, tiffEnd, "Exif TIFF")
       else Bin.u32be(bytes, o, tiffEnd, "Exif TIFF")).toInt
    }
    require(u16(tiff + 2) == 42, "bad TIFF magic in Exif")
    val ifd = tiff + u32(tiff + 4)
    val n = u16(ifd)
    require(n >= 1 && n <= 1000, s"absurd IFD entry count $n")
    var orientation = -1; var width = -1
    var make: String = null; var dateTime: String = null
    (0 until n).foreach { k =>
      val e = ifd + 2 + 12 * k
      val tag = u16(e)
      val typ = u16(e + 2)
      val cnt = u32(e + 4)
      val unit = typ match {
        case 1 | 2 => 1 // BYTE / ASCII
        case 3 => 2 // SHORT
        case 4 => 4 // LONG
        case t =>
          throw new IllegalArgumentException(s"EXIF value type $t out of subset")
      }
      require(cnt >= 0 && cnt <= tiffEnd - tiff,
        s"absurd EXIF value count $cnt")
      val size = unit * cnt
      val vOff = if (size <= 4) e + 8 else tiff + u32(e + 8)
      require(vOff >= tiff && vOff + size <= tiffEnd,
        s"EXIF value for tag $tag overruns the APP1 segment")
      def ascii(): String = {
        var l = cnt
        while (l > 0 && bytes(vOff + l - 1) == 0) l -= 1
        new String(bytes, vOff, l, "US-ASCII")
      }
      tag match {
        case 0x0112 => require(typ == 3, "Orientation must be SHORT")
          orientation = u16(vOff)
        case 0x0100 => width = if (typ == 3) u16(vOff) else u32(vOff)
        case 0x010f => require(typ == 2, "Make must be ASCII")
          make = ascii()
        case 0x0132 => require(typ == 2, "DateTime must be ASCII")
          dateTime = ascii()
        case _ => () // unknown tags are skippable by construction
      }
    }
    ExifMeta(if (le) "II" else "MM", n, orientation, width, make, dateTime)
  }

  /** Closed-form Exif JPEG shell for id d: SOI, a COM segment the
    * marker walk must skip, APP1/Exif with a TIFF IFD in LITTLE-endian
    * for even ids and BIG-endian for odd — ImageWidth (SHORT, inline),
    * Orientation (SHORT, inline), Make and DateTime (ASCII, offset
    * storage), then EOI. */
  /** The raw closed-form TIFF block for doc d (87 bytes: 4 entries,
    * both ASCII values offset-addressed) — the WebP EXIF chunk
    * payload; synth() wraps it in the JPEG APP1 form. */
  def synthTiff(d: Long): Array[Byte] = {
    val le = d % 2 == 0
    val make = s"cam${d % 5}"
    val dt = f"2024:01:${1 + d % 9}%02d 12:00:${d % 10}%02d"
    val makeB = (make + "\u0000").getBytes("US-ASCII")
    val dtB = (dt + "\u0000").getBytes("US-ASCII")
    // TIFF block layout: header(8) + count(2) + 4*12 entries + 4 (next
    // IFD = 0), then the two ASCII values
    val nE = 4
    val valBase = 8 + 2 + 12 * nE + 4
    val tiffLen = valBase + makeB.length + dtB.length
    val t = new Array[Byte](tiffLen)
    def p16(o: Int, v: Int): Unit =
      if (le) Bin.put16le(t, o, v) else Bin.put16be(t, o, v)
    def p32(o: Int, v: Int): Unit =
      if (le) Bin.put32le(t, o, v) else Bin.put32be(t, o, v)
    t(0) = (if (le) 'I' else 'M').toByte; t(1) = t(0)
    p16(2, 42); p32(4, 8)
    p16(8, nE)
    def entry(k: Int, tag: Int, typ: Int, cnt: Int)(fill: Int => Unit)
        : Unit = {
      val e = 10 + 12 * k
      p16(e, tag); p16(e + 2, typ); p32(e + 4, cnt); fill(e + 8)
    }
    // tags must ascend per TIFF 6.0: 0x0100, 0x0112, 0x010F… actually
    // 0x010F < 0x0112, so order: ImageWidth, Make, Orientation, DateTime
    entry(0, 0x0100, 3, 1)(o => p16(o, (100 + d % 50).toInt))
    entry(1, 0x010f, 2, makeB.length)(o => p32(o, valBase))
    entry(2, 0x0112, 3, 1)(o => p16(o, (1 + d % 8).toInt))
    entry(3, 0x0132, 2, dtB.length)(o => p32(o, valBase + makeB.length))
    p32(10 + 12 * nE, 0) // no next IFD
    System.arraycopy(makeB, 0, t, valBase, makeB.length)
    System.arraycopy(dtB, 0, t, valBase + makeB.length, dtB.length)
    t
  }

  def synth(d: Long): Array[Byte] = {
    val t = synthTiff(d)
    val tiffLen = t.length
    val out = new java.io.ByteArrayOutputStream(tiffLen + 64)
    out.write(0xff); out.write(0xd8) // SOI
    val com = s"note${d % 3}".getBytes("US-ASCII")
    out.write(0xff); out.write(0xfe) // COM — must be skipped
    out.write(0); out.write(com.length + 2)
    out.write(com, 0, com.length)
    val app1Len = 2 + 6 + tiffLen
    out.write(0xff); out.write(0xe1)
    out.write(Bin.be16(app1Len))
    out.write("Exif".getBytes("US-ASCII"), 0, 4); out.write(0); out.write(0)
    out.write(t, 0, tiffLen)
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  private val metaSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("endian", StringType),
    StructField("n_entries", IntegerType),
    StructField("orientation", IntegerType),
    StructField("width", IntegerType),
    StructField("make", StringType),
    StructField("datetime", StringType)))

  /** ids → parsed EXIF features over closed-form fixtures. */
  def metaFeatures(ids: DataFrame, idCol: String): DataFrame = {
    val idIdx = ids.schema.fieldIndex(idCol)
    val rdd = ids.rdd.mapPartitions { rows =>
      rows.map { r =>
        val d = r.getLong(idIdx)
        val m = parse(synth(d))
        Row(d, m.endian, m.nEntries, m.orientation, m.width, m.make,
          m.dateTime)
      }
    }
    ids.sparkSession.createDataFrame(rdd, metaSchema)
  }
}
