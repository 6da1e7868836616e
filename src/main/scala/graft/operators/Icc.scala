package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** ICC profile HEADER + tag-table walk (ICC.1 public spec) — the
  * color-management gate beside the EXIF provenance walk: device
  * class, data color space, PCS, rendering intent, and profile
  * version are what an image pipeline reads to decide whether color
  * conversion is needed (and trustworthy) before any pixel work.
  *
  * The 128-byte big-endian header: profile size, version (major in
  * byte 8, minor in the top nibble of byte 9), device class / color
  * space / PCS fourccs, the 12-byte creation datetime, the mandatory
  * 'acsp' signature at offset 36, rendering intent at 64. Then the
  * tag table: count + (signature, offset, size) triples, each
  * validated INSIDE the declared profile size — a tag escaping the
  * profile is how malformed/hostile profiles smuggle reads. Tag
  * PAYLOAD interpretation (curves, matrices, LUTs) stays outside the
  * walk: the gate fields all live in the header.
  */
object Icc {

  final case class IccMeta(size: Int, verMajor: Int, verMinor: Int,
      deviceClass: String, colorSpace: String, pcs: String,
      intent: Int, year: Int, month: Int, nTags: Int)

  private def fourcc(b: Array[Byte], o: Int): String = {
    Bin.checkRange(o, 4, b.length, "ICC profile truncated")
    new String(b, o, 4, "US-ASCII")
  }

  private val DeviceClasses =
    Set("mntr", "scnr", "prtr", "link", "spac", "abst", "nmcl")
  private val ColorSpaces =
    Set("RGB ", "GRAY", "CMYK", "XYZ ", "Lab ", "YCbr")

  def parse(bytes: Array[Byte]): IccMeta = {
    require(bytes.length >= 132, "ICC profile shorter than header+count")
    val size = Bin.u32be(bytes, 0, bytes.length, "ICC profile")
    require(size == bytes.length,
      s"ICC declared size $size != payload ${bytes.length}")
    require(fourcc(bytes, 36) == "acsp", "missing ICC 'acsp' signature")
    val verMajor = bytes(8) & 0xff
    val verMinor = (bytes(9) & 0xff) >> 4
    require(verMajor >= 2 && verMajor <= 5, s"ICC version $verMajor")
    val devClass = fourcc(bytes, 12)
    require(DeviceClasses.contains(devClass),
      s"unknown ICC device class '$devClass'")
    val cs = fourcc(bytes, 16)
    require(ColorSpaces.contains(cs), s"unknown ICC color space '$cs'")
    val pcs = fourcc(bytes, 20)
    require(pcs == "XYZ " || pcs == "Lab ", s"bad ICC PCS '$pcs'")
    val year = Bin.u16be(bytes, 24, bytes.length, "ICC profile")
    val month = Bin.u16be(bytes, 26, bytes.length, "ICC profile")
    require(month >= 1 && month <= 12, s"bad ICC creation month $month")
    val intent = Bin.u32be(bytes, 64, bytes.length, "ICC profile")
    require(intent <= 3, s"bad ICC rendering intent $intent")
    val nTags = Bin.u32be(bytes, 128, bytes.length, "ICC profile")
    require(nTags <= (bytes.length - 132) / 12,
      s"ICC tag count $nTags overruns the table")
    (0 until nTags.toInt).foreach { i =>
      val off = Bin.u32be(bytes, 132 + 12 * i + 4, bytes.length, "ICC profile")
      val sz = Bin.u32be(bytes, 132 + 12 * i + 8, bytes.length, "ICC profile")
      require(off >= 132 + 12 * nTags,
        s"ICC tag $i at $off escapes into the tag table")
      Bin.checkRange(off, sz, size, "ICC tag escapes the profile")
    }
    IccMeta(size.toInt, verMajor, verMinor, devClass, cs, pcs.trim,
      intent.toInt, year, month, nTags.toInt)
  }

  /** Closed-form profile: class/space/version/intent/datetime/tag
    * count all integer-derived; 2 + d%3 tags with payloads packed
    * after the table so the containment checks are load-bearing. */
  def synth(d: Long): Array[Byte] = {
    val nTags = (2 + d % 3).toInt
    val paySizes = (0 until nTags).map(i => 12 + 4 * ((d + i) % 4).toInt)
    val size = 128 + 4 + 12 * nTags + paySizes.sum
    val b = new Array[Byte](size)
    def pcc(o: Int, s: String): Unit =
      s.getBytes("US-ASCII").copyToArray(b, o)
    Bin.put32be(b, 0, size)
    pcc(4, "gfts") // preferred CMM
    b(8) = (if (d % 2 == 0) 4 else 2).toByte
    b(9) = (if (d % 2 == 0) 0x30 else 0x40).toByte // 4.3 / 2.4
    pcc(12, Seq("mntr", "scnr", "prtr")((d % 3).toInt))
    pcc(16, if ((d / 3) % 2 == 0) "RGB " else "GRAY")
    pcc(20, if (d % 5 == 0) "Lab " else "XYZ ")
    Bin.put16be(b, 24, (2020 + d % 6).toInt); Bin.put16be(b, 26, (1 + d % 12).toInt)
    Bin.put16be(b, 28, (1 + d % 28).toInt)
    pcc(36, "acsp")
    Bin.put32be(b, 64, d % 4)
    Bin.put32be(b, 128, nTags)
    var payOff = 132 + 12 * nTags
    (0 until nTags).foreach { i =>
      pcc(132 + 12 * i, Seq("desc", "wtpt", "cprt")(i % 3))
      Bin.put32be(b, 132 + 12 * i + 4, payOff)
      Bin.put32be(b, 132 + 12 * i + 8, paySizes(i))
      (0 until paySizes(i)).foreach(j =>
        b(payOff + j) = ((d + 31 * i + j) % 251).toByte)
      payOff += paySizes(i)
    }
    b
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("size", IntegerType),
    StructField("ver_major", IntegerType),
    StructField("ver_minor", IntegerType),
    StructField("device_class", StringType),
    StructField("color_space", StringType),
    StructField("pcs", StringType),
    StructField("intent", IntegerType),
    StructField("year", IntegerType),
    StructField("month", IntegerType),
    StructField("n_tags", IntegerType)))

  /** ids -> closed-form profile -> header walk. Per-doc map work. */
  def metaFeatures(ids: DataFrame, idCol: String): DataFrame = {
    val idIdx = ids.schema.fieldIndex(idCol)
    val rdd = ids.rdd.mapPartitions { rows =>
      rows.map { r =>
        val d = r.getLong(idIdx)
        val m = parse(synth(d))
        Row(d, m.size, m.verMajor, m.verMinor, m.deviceClass,
          m.colorSpace, m.pcs, m.intent, m.year, m.month, m.nTags)
      }
    }
    ids.sparkSession.createDataFrame(rdd, schema)
  }
}
