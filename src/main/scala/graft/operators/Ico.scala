package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** ICO (favicon) container walk — the multi-resolution icon directory
  * every crawled site ships: ICONDIR (reserved 0, type 1, count) then
  * 16-byte ICONDIRENTRY rows (width/height bytes where 0 means 256,
  * bit depth, payload size + absolute offset), entries containment-
  * checked against the file and against EACH OTHER (a directory whose
  * payloads overlap is how hostile icons smuggle parser confusion).
  * Modern favicon payloads are PNG — detected by magic and FULLY
  * decoded with the shared PNG decoder, declared-vs-decoded dims
  * cross-checked; classic BMP-DIB payloads (doubled-height
  * BITMAPINFOHEADER + AND mask) are the loud subset boundary. */
object Ico {

  final case class IcoEntry(width: Int, height: Int, bpp: Int,
      size: Int, offset: Int, isPng: Boolean,
      sumR: Long, sumG: Long, sumB: Long)

  def entries(bytes: Array[Byte]): Seq[IcoEntry] = {
    require(bytes.length >= 6, "ICO shorter than its header")
    require(Bin.u16le(bytes, 0, bytes.length, "ICO truncated") == 0,
      "ICONDIR reserved field not zero")
    require(Bin.u16le(bytes, 2, bytes.length, "ICO truncated") == 1,
      "not an ICO (type != 1)")
    val n = Bin.u16le(bytes, 4, bytes.length, "ICO truncated")
    require(n >= 1, s"ICONDIR claims $n entries beyond the file")
    Bin.checkRange(6, 16 * n, bytes.length, "ICONDIR")
    val dir = (0 until n).map { i =>
      val e = 6 + 16 * i
      val w0 = bytes(e) & 0xff
      val h0 = bytes(e + 1) & 0xff
      val bpp = Bin.u16le(bytes, e + 6, bytes.length, "ICO truncated")
      val size = Bin.u32le(bytes, e + 8, bytes.length, "ICO truncated")
      val off = Bin.u32le(bytes, e + 12, bytes.length, "ICO truncated")
      require(size > 0 && off >= 6 + 16 * n,
        s"ICO entry $i [${off}, ${off + size}) escapes the file")
      Bin.checkRange(off, size, bytes.length, "ICO entry")
      (if (w0 == 0) 256 else w0, if (h0 == 0) 256 else h0, bpp,
        size.toInt, off.toInt)
    }
    // overlap check: payloads must not intersect one another
    dir.sortBy(_._5).sliding(2).foreach {
      case Seq(a, b) =>
        require(a._5 + a._4 <= b._5,
          s"ICO payloads overlap at offsets ${a._5} and ${b._5}")
      case _ => ()
    }
    dir.map { case (w, h, bpp, size, off) =>
      val isPng = size >= 8 && (bytes(off) & 0xff) == 0x89 &&
        bytes(off + 1) == 'P' && bytes(off + 2) == 'N' && bytes(off + 3) == 'G'
      require(isPng,
        "BMP-DIB icon payloads are outside the decode subset (PNG only)")
      val img = Codecs.decodePng(
        java.util.Arrays.copyOfRange(bytes, off, off + size))
      require(img.width == w && img.height == h,
        s"directory declares ${w}x$h but the PNG decodes to " +
          s"${img.width}x${img.height}")
      var sr = 0L; var sg = 0L; var sb = 0L
      img.pixels.foreach(_.foreach { case (r, g, b) =>
        sr += r; sg += g; sb += b
      })
      IcoEntry(w, h, bpp, size, off, isPng, sr, sg, sb)
    }
  }

  /** Closed-form favicon: 1 + d%3 PNG entries, entry i a
    * (8+4i)x(8+4i) truecolor PNG of the synthPixel closed form seeded
    * d + 100i — dims rotate so the 0-means-256 rule never fires in
    * range (it is covered by IcoSpec's crafted-directory test). */
  def synth(d: Long): Array[Byte] = {
    val n = (1 + d % 3).toInt
    val payloads = (0 until n).map { i =>
      val dim = 8 + 4 * i
      Codecs.encodePng(Codecs.synthBmp(d + 100L * i, dim, dim))
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(Bin.le16(0)); out.write(Bin.le16(1)); out.write(Bin.le16(n))
    var off = 6 + 16 * n
    payloads.zipWithIndex.foreach { case (p, i) =>
      val dim = 8 + 4 * i
      out.write(dim); out.write(dim)
      out.write(0); out.write(0) // colors, reserved
      out.write(Bin.le16(1)); out.write(Bin.le16(32)) // planes, bpp
      out.write(Bin.le32(p.length.toLong)); out.write(Bin.le32(off.toLong))
      off += p.length
    }
    payloads.foreach(p => out.write(p, 0, p.length))
    out.toByteArray
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("entry_idx", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("bpp", IntegerType),
    StructField("sum_r", LongType),
    StructField("sum_g", LongType),
    StructField("sum_b", LongType)))

  /** ids -> favicon -> directory walk + full PNG decode per entry. */
  def features(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, schema) { d =>
      entries(synth(d)).zipWithIndex.iterator.map { case (e, i) =>
        Row(d, i, e.width, e.height, e.bpp, e.sumR, e.sumG, e.sumB)
      }
    }
}
