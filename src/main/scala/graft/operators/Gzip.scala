package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Multi-member GZIP walk (RFC 1952) — the .gz triage pass for
  * concatenated-member archives (log shippers and WARC writers append
  * members; a reader that stops at the first trailer silently drops
  * the rest): per member, the full header surface — FLG bits, MTIME,
  * XFL/OS, FEXTRA (length-prefixed), FNAME/FCOMMENT (NUL-terminated
  * Latin-1), FHCRC (CRC16 = low 16 bits of CRC32 over the header,
  * VERIFIED) — then the deflate payload genuinely inflated (the
  * JDK's Inflater in raw mode) and BOTH trailer ladders checked:
  * CRC32 and ISIZE (mod 2^32) against the inflated bytes. Reserved
  * FLG bits, wrong magic, truncation, and trailer mismatches fail
  * loudly by name. */
object Gzip {

  final case class GzipMember(name: String, mtime: Long, os: Int,
      hasExtra: Boolean, hasComment: Boolean, hasHcrc: Boolean,
      compressedLen: Int, contentLen: Long, contentSum: Long)

  def members(bytes: Array[Byte]): Seq[GzipMember] = {
    val out = collection.mutable.ArrayBuffer.empty[GzipMember]
    var pos = 0
    while (pos < bytes.length) {
      require(pos + 10 <= bytes.length, s"truncated gzip header at $pos")
      require((bytes(pos) & 0xff) == 0x1f && (bytes(pos + 1) & 0xff) == 0x8b,
        s"bad gzip magic at $pos")
      require((bytes(pos + 2) & 0xff) == 8, "unknown gzip CM (not deflate)")
      val flg = bytes(pos + 3) & 0xff
      require((flg & 0xe0) == 0, s"reserved gzip FLG bits set ($flg)")
      val mtime = Bin.u32le(bytes, pos + 4, bytes.length, "gzip header")
      val os = bytes(pos + 9) & 0xff
      var p = pos + 10
      val hasExtra = (flg & 0x04) != 0
      if (hasExtra) {
        require(p + 2 <= bytes.length, "truncated FEXTRA length")
        val xlen = Bin.u16le(bytes, p, bytes.length)
        p += 2 + xlen
        require(p <= bytes.length, "FEXTRA overruns the stream")
      }
      var name: String = null
      if ((flg & 0x08) != 0) {
        val start = p
        while (p < bytes.length && bytes(p) != 0) p += 1
        require(p < bytes.length, "unterminated FNAME")
        name = new String(bytes, start, p - start, "ISO-8859-1")
        p += 1
      }
      val hasComment = (flg & 0x10) != 0
      if (hasComment) {
        while (p < bytes.length && bytes(p) != 0) p += 1
        require(p < bytes.length, "unterminated FCOMMENT")
        p += 1
      }
      val hasHcrc = (flg & 0x02) != 0
      if (hasHcrc) {
        require(p + 2 <= bytes.length, "truncated FHCRC")
        val crc = new java.util.zip.CRC32()
        crc.update(bytes, pos, p - pos)
        val stored = Bin.u16le(bytes, p, bytes.length)
        require(stored == (crc.getValue & 0xffff).toInt,
          "gzip header CRC16 mismatch")
        p += 2
      }
      // inflate the raw-deflate payload; Inflater reports how many
      // compressed bytes it consumed, locating the trailer exactly
      val inf = new java.util.zip.Inflater(true)
      inf.setInput(bytes, p, bytes.length - p)
      val crc = new java.util.zip.CRC32()
      val buf = new Array[Byte](8192)
      var contentLen = 0L
      var contentSum = 0L
      // deflate bombs: nothing is retained, but CPU is — cap the
      // inflated size at 4096x the input plus slack (the zstd/Flac
      // bomb posture) and fail loudly instead of grinding
      val contentCap = bytes.length.toLong * 4096 + (1L << 20)
      try {
        while (!inf.finished()) {
          val n =
            try inf.inflate(buf)
            catch {
              case e: java.util.zip.DataFormatException =>
                throw new IllegalArgumentException(
                  s"corrupt deflate stream at member ${out.size}: " +
                    e.getMessage)
            }
          require(n > 0 || inf.finished(),
            s"deflate stream stalls at member ${out.size}")
          crc.update(buf, 0, n)
          var i = 0
          while (i < n) { contentSum += buf(i) & 0xff; i += 1 }
          contentLen += n
          require(contentLen <= contentCap,
            s"member ${out.size} inflates past $contentCap bytes from a " +
              s"${bytes.length}-byte stream — deflate bomb")
        }
        val used = inf.getBytesRead.toInt
        val trailerAt = p + used
        require(trailerAt + 8 <= bytes.length,
          s"truncated gzip trailer at member ${out.size}")
        require(Bin.u32le(bytes, trailerAt, bytes.length,
          "gzip trailer") == crc.getValue,
          s"gzip CRC32 mismatch at member ${out.size}")
        require(Bin.u32le(bytes, trailerAt + 4, bytes.length,
          "gzip trailer") == (contentLen & 0xffffffffL),
          s"gzip ISIZE mismatch at member ${out.size}")
        out += GzipMember(name, mtime, os, hasExtra, hasComment, hasHcrc,
          used, contentLen, contentSum)
        pos = trailerAt + 8
      } finally inf.end()
    }
    require(out.nonEmpty, "empty gzip stream")
    out.toSeq
  }

  /** Closed-form multi-member fixture: 1 + d%4 members; member m
    * carries FNAME "m<d>_<m>" always, FEXTRA on (d+m)%3==0, FCOMMENT
    * on (d+m)%4==0, FHCRC on (d+m)%2==0, content = 30 + (11d+7m)%200
    * closed-form bytes deflated by the JDK. */
  def synth(d: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val nm = (1 + d % 4).toInt
    (0 until nm).foreach { m =>
      val content = Array.tabulate((30 + (11 * d + 7 * m) % 200).toInt)(
        p => ((d + 13 * m + p) % 251).toByte)
      val hdr = new java.io.ByteArrayOutputStream()
      val flg = 0x08 | (if ((d + m) % 3 == 0) 0x04 else 0) |
        (if ((d + m) % 4 == 0) 0x10 else 0) |
        (if ((d + m) % 2 == 0) 0x02 else 0)
      hdr.write(0x1f); hdr.write(0x8b); hdr.write(8); hdr.write(flg)
      val mtime = (1700000000L + d * 60 + m) & 0xffffffffL
      (0 until 4).foreach(i => hdr.write(((mtime >> (8 * i)) & 0xff).toInt))
      hdr.write(0); hdr.write((3 + d % 4).toInt) // XFL, OS
      if ((flg & 0x04) != 0) {
        val extra = Array[Byte]('g', 'f', 2, 0,
          (d % 251).toByte, (m % 251).toByte)
        hdr.write(extra.length & 0xff); hdr.write(0)
        hdr.write(extra, 0, extra.length)
      }
      hdr.write(s"m${d}_$m".getBytes("ISO-8859-1")); hdr.write(0)
      if ((flg & 0x10) != 0) {
        hdr.write(s"c$d".getBytes("ISO-8859-1")); hdr.write(0)
      }
      val hb = hdr.toByteArray
      out.write(hb, 0, hb.length)
      if ((flg & 0x02) != 0) {
        val crc = new java.util.zip.CRC32()
        crc.update(hb, 0, hb.length)
        out.write((crc.getValue & 0xff).toInt)
        out.write(((crc.getValue >> 8) & 0xff).toInt)
      }
      val def_ = new java.util.zip.Deflater(
        java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      def_.setInput(content); def_.finish()
      val buf = new Array[Byte](8192)
      while (!def_.finished()) {
        val n = def_.deflate(buf)
        out.write(buf, 0, n)
      }
      def_.end()
      val crc = new java.util.zip.CRC32()
      crc.update(content)
      (0 until 4).foreach(i =>
        out.write(((crc.getValue >> (8 * i)) & 0xff).toInt))
      (0 until 4).foreach(i =>
        out.write(((content.length.toLong >> (8 * i)) & 0xff).toInt))
    }
    out.toByteArray
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("member_idx", IntegerType),
    StructField("name", StringType),
    StructField("mtime", LongType),
    StructField("os", IntegerType),
    StructField("has_extra", IntegerType),
    StructField("has_comment", IntegerType),
    StructField("has_hcrc", IntegerType),
    StructField("content_len", LongType),
    StructField("content_sum", LongType)))

  /** ids -> multi-member .gz -> member walk with verified trailers.
    * Per-doc map work. */
  def memberFeatures(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, schema) { d =>
      members(synth(d)).zipWithIndex.iterator.map { case (m, i) =>
        Row(d, i, m.name, m.mtime, m.os,
          if (m.hasExtra) 1 else 0, if (m.hasComment) 1 else 0,
          if (m.hasHcrc) 1 else 0, m.contentLen, m.contentSum)
      }
    }
}
