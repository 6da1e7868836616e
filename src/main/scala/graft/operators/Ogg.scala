package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Ogg container walk (RFC 3533) + OpusHead identification header
  * (RFC 7845 §5.1) — the page-level provenance pass for .ogg/.opus
  * audio beside the FLAC metadata walk and the ID3 tag walk. The page
  * machinery is real: capture-pattern sync, the non-reflected
  * poly-0x04C11DB7 page CRC computed over the page with its CRC field
  * zeroed (verified per page), lacing-value packet assembly (255 =
  * continues, <255 = ends), cross-page CONTINUED packets with the
  * header-flag consistency checked in both directions, BOS/EOS flag
  * placement, constant serials, and consecutive page sequence
  * numbers. Granule positions are validated monotone and the last one
  * converts to a duration at the Opus-mandated 48 kHz granule rate.
  * Every audio packet's TOC byte (RFC 6716 section 3.1) is parsed —
  * config → mode (SILK/Hybrid/CELT) + frame duration, stereo flag,
  * frame-count code incl. the code-3 count byte — and the summed
  * per-packet durations are CROSS-CHECKED against the container's
  * granule ledger, so a desynced TOC parse or a lying muxer fails
  * loudly. SILK/CELT frame payload decode stays behind the documented
  * lossy-audio boundary. Malformed input fails loudly
  * (require → IllegalArgumentException), never limps.
  */
object Ogg {

  /** Ogg page CRC: poly 0x04C11DB7, init 0, no reflection, no final
    * xor (RFC 3533 §6) — NOT java.util.zip.CRC32 (which is the
    * reflected variant). */
  private def crcOgg(b: Array[Byte], from: Int, until: Int,
      zeroFrom: Int, zeroUntil: Int): Int = {
    var c = 0
    var i = from
    while (i < until) {
      val v = if (i >= zeroFrom && i < zeroUntil) 0 else b(i) & 0xff
      c ^= v << 24
      var k = 0
      while (k < 8) {
        c = if (c < 0) (c << 1) ^ 0x04c11db7 else c << 1
        k += 1
      }
      i += 1
    }
    c
  }

  final case class OggInfo(serial: Int, nPages: Int, nPackets: Int,
      lastGranule: Long, channels: Int, preSkip: Int, inputRate: Int,
      durationMs: Long, nSilk: Int, nHybrid: Int, nCelt: Int,
      nStereo: Int, nFrames: Int)

  /** Opus packet TOC parse (RFC 6716 section 3.1): config (mode +
    * bandwidth + frame duration), stereo flag, frame-count code.
    * Returns (mode 0=SILK 1=Hybrid 2=CELT, stereo, frames, granules).
    * Code 3 packets read their count byte; VBR or padded code-3
    * packets are outside the walk subset and rejected by name. The
    * 120 ms packet ceiling is enforced. */
  private[operators] def tocInfo(pkt: Array[Byte]): (Int, Boolean, Int, Long) = {
    require(pkt.length >= 1, "empty Opus packet")
    val toc = pkt(0) & 0xff
    val config = toc >>> 3
    val stereo = (toc & 4) != 0
    val code = toc & 3
    val (mode, frameGran) =
      if (config <= 11) (0, Array(480L, 960L, 1920L, 2880L)(config % 4))
      else if (config <= 15) (1, Array(480L, 960L)(config % 2))
      else (2, Array(120L, 240L, 480L, 960L)(config % 4))
    val frames = code match {
      case 0 => 1
      case 1 =>
        require((pkt.length - 1) % 2 == 0,
          "code-1 Opus packet with an odd payload cannot split evenly")
        2
      case 2 => 2
      case _ =>
        require(pkt.length >= 2, "code-3 Opus packet without a count byte")
        require((pkt(1) & 0xc0) == 0,
          "VBR/padded code-3 Opus packets are outside the walk subset")
        val fc = pkt(1) & 0x3f
        require(fc >= 1, "code-3 Opus packet with zero frames")
        fc
    }
    val total = frames.toLong * frameGran
    require(total <= 5760, s"Opus packet spans $total granules > 120 ms")
    (mode, stereo, frames, total)
  }

  /** Parse an Opus-in-Ogg stream: page walk with every structural
    * validation named, packet reassembly across lacing values and
    * page boundaries, OpusHead fields off the first packet. */
  def parse(bytes: Array[Byte]): OggInfo = {
    var off = 0
    var pageIdx = 0
    var serial = 0
    var lastGranule = -1L
    var nPackets = 0
    var sawEos = false
    var midPacket = false // a packet is open across a page boundary
    var firstPacket: Array[Byte] = null
    var completedPackets = 0 // stream-wide index: 0=OpusHead, 1=OpusTags
    var open = new java.io.ByteArrayOutputStream()
    var nSilk = 0; var nHybrid = 0; var nCelt = 0
    var nStereo = 0; var nFrames = 0
    var tocGranules = 0L
    while (off < bytes.length) {
      require(!sawEos, "page after the EOS page")
      require(off + 27 <= bytes.length, "truncated Ogg page header")
      require(bytes(off) == 'O' && bytes(off + 1) == 'g' &&
        bytes(off + 2) == 'g' && bytes(off + 3) == 'S',
        "lost Ogg capture pattern")
      require(bytes(off + 4) == 0, "unsupported Ogg version")
      val flags = bytes(off + 5) & 0xff
      require((flags & ~0x7) == 0, s"reserved Ogg header flags $flags")
      val continued = (flags & 0x1) != 0
      val bos = (flags & 0x2) != 0
      val eos = (flags & 0x4) != 0
      require(bos == (pageIdx == 0),
        if (bos) "BOS flag on a non-first page" else "first page lacks BOS")
      require(continued == midPacket,
        if (continued) "continued flag with no packet open"
        else "open packet but the next page lacks the continued flag")
      val granule = Bin.u64le(bytes, off + 6, bytes.length, "ogg")
      val ser = Bin.u32le(bytes, off + 14, bytes.length, "ogg").toInt
      if (pageIdx == 0) serial = ser
      else require(ser == serial,
        s"page serial $ser != stream serial $serial (chained streams " +
          "are outside the walk's scope)")
      val seq = Bin.u32le(bytes, off + 18, bytes.length, "ogg").toInt
      require(seq == pageIdx, s"page sequence $seq != expected $pageIdx")
      val nSegs = bytes(off + 26) & 0xff
      Bin.checkRange(off + 27, nSegs, bytes.length, "truncated segment table")
      var payload = 0
      var s = 0
      while (s < nSegs) { payload += bytes(off + 27 + s) & 0xff; s += 1 }
      val pageEnd = off + 27 + nSegs + payload
      require(pageEnd <= bytes.length, "Ogg page overruns the file")
      val crcStored = Bin.u32le(bytes, off + 22, bytes.length, "ogg").toInt
      require(crcOgg(bytes, off, pageEnd, off + 22, off + 26) == crcStored,
        s"Ogg page $pageIdx CRC mismatch")
      // packet assembly off the lacing values
      var body = off + 27 + nSegs
      var completedOnPage = 0
      s = 0
      while (s < nSegs) {
        val lace = bytes(off + 27 + s) & 0xff
        open.write(bytes, body, lace)
        if (lace < 255) {
          // a packet completes here
          val pkt = open.toByteArray
          open = new java.io.ByteArrayOutputStream()
          if (completedPackets == 0) firstPacket = pkt
          else if (completedPackets == 1) {
            // RFC 7845 §5.2: packet 1 is the MANDATORY OpusTags comment
            // header — metadata, not audio: never TOC-parsed, never
            // counted. A stream whose second packet is not OpusTags is
            // not a conformant Opus-in-Ogg stream.
            require(pkt.length >= 8 &&
              new String(pkt, 0, 8, "US-ASCII") == "OpusTags",
              "packet 1 is not the mandatory OpusTags comment header")
          } else {
            nPackets += 1 // audio packets (packets 0/1 are headers)
            val (mode, st, frames, gran) = tocInfo(pkt)
            mode match {
              case 0 => nSilk += 1
              case 1 => nHybrid += 1
              case _ => nCelt += 1
            }
            if (st) nStereo += 1
            nFrames += frames
            tocGranules += gran
          }
          completedPackets += 1
          completedOnPage += 1
          midPacket = false
        } else midPacket = true
        body += lace
        s += 1
      }
      if (completedOnPage > 0) {
        // granule = last completed sample position on this page (a
        // page may still END mid-packet — the spanning layout)
        require(granule >= lastGranule,
          s"granule position regressed on page $pageIdx")
        lastGranule = granule
      }
      sawEos = eos
      off = pageEnd
      pageIdx += 1
    }
    require(pageIdx > 0, "empty Ogg stream")
    require(sawEos, "stream ends without an EOS page")
    require(!midPacket, "stream ends inside an open packet")
    require(firstPacket != null, "no completed packets")
    require(completedPackets >= 2,
      "stream lacks the mandatory OpusTags comment header")
    // OpusHead (RFC 7845 §5.1): magic, version 1, channels, pre-skip
    // (LE16), input sample rate (LE32), output gain, mapping family
    val oh = firstPacket
    require(oh.length >= 19 &&
      new String(oh, 0, 8, "US-ASCII") == "OpusHead",
      "first packet is not an OpusHead identification header")
    require((oh(8) & 0xf0) == 0, s"unsupported OpusHead version ${oh(8)}")
    val channels = oh(9) & 0xff
    require(channels >= 1, "OpusHead declares zero channels")
    val preSkip = Bin.u16le(oh, 10, oh.length)
    val inputRate = Bin.u32le(oh, 12, oh.length, "ogg").toInt
    require(oh(18) == 0,
      "channel mapping families beyond 0 are outside the walk's scope")
    require(lastGranule >= 0, "no granule position completed")
    // the TOC cross-check: summed per-packet durations must equal the
    // container's granule ledger — a desynced TOC parse (or a muxer
    // lying about durations) fails loudly instead of shipping a wrong
    // duration downstream. SUBSET BOUNDARY: the check assumes the
    // final page's granule covers every emitted sample — RFC 7845
    // end-trimming (a final granule DELIBERATELY short of the packet
    // sum, trimming trailing samples) is outside the walk subset and
    // fails here by design; pre-skip is reported, not subtracted.
    require(tocGranules == lastGranule,
      s"TOC durations sum to $tocGranules granules but the last page " +
        s"claims $lastGranule")
    // Opus granules tick at 48 kHz regardless of the input rate
    OggInfo(serial, pageIdx, nPackets, lastGranule, channels, preSkip,
      inputRate, lastGranule * 1000L / 48000L, nSilk, nHybrid, nCelt,
      nStereo, nFrames)
  }

  // ------------------------------------------------------------------
  // Closed-form fixture: one Opus-in-Ogg stream per id. Data pages
  // n = 2 + d%4, each completing 1 + (d+p)%3 audio packets of 20 ms
  // (960 granules at 48 kHz); d%5==1 docs SPAN one packet across every
  // interior page boundary (lacing 255 tail + continued flag), so the
  // cross-page reassembly path rides the oracle. The header page
  // carries only OpusHead (channels 1 + d%2, pre-skip 312 + d%100,
  // input rate by d%3) at granule 0.
  // ------------------------------------------------------------------

  /** The 20 ms and 10 ms Opus config sets the fixture rotates
    * through (indices 0-2 SILK, 3-4 Hybrid, 5-8 CELT in both). */
  private val Cfg20 = Array(1, 5, 9, 13, 15, 19, 23, 27, 31)
  private val Cfg10 = Array(0, 4, 8, 12, 14, 18, 22, 26, 30)

  def dataPages(d: Long): Int = (2 + d % 4).toInt
  def packetsOnPage(d: Long, p: Int): Int = (1 + (d + p) % 3).toInt
  def totalPackets(d: Long): Int =
    (0 until dataPages(d)).map(packetsOnPage(d, _)).sum
  def spanning(d: Long): Boolean = d % 5 == 1

  private def writePage(out: java.io.ByteArrayOutputStream, flags: Int,
      granule: Long, serial: Int, seq: Int, laces: Seq[Int],
      body: Array[Byte]): Unit = {
    val hdr = new Array[Byte](27 + laces.size)
    hdr(0) = 'O'; hdr(1) = 'g'; hdr(2) = 'g'; hdr(3) = 'S'
    hdr(4) = 0; hdr(5) = flags.toByte
    var i = 0
    while (i < 8) { hdr(6 + i) = ((granule >> (8 * i)) & 0xff).toByte; i += 1 }
    i = 0
    while (i < 4) {
      hdr(14 + i) = ((serial >> (8 * i)) & 0xff).toByte
      hdr(18 + i) = ((seq >> (8 * i)) & 0xff).toByte
      i += 1
    }
    hdr(26) = laces.size.toByte
    laces.zipWithIndex.foreach { case (l, k) => hdr(27 + k) = l.toByte }
    val page = hdr ++ body
    val crc = crcOgg(page, 0, page.length, 22, 26)
    i = 0
    while (i < 4) { page(22 + i) = ((crc >> (8 * i)) & 0xff).toByte; i += 1 }
    out.write(page, 0, page.length)
  }

  /** Synthesize the closed-form Opus-in-Ogg stream for id d. */
  def synth(d: Long): Array[Byte] = {
    val serial = ((1000 + d * 7) % 100000).toInt
    val ch = (1 + d % 2).toInt
    val preSkip = (312 + d % 100).toInt
    val rate = (d % 3) match {
      case 0 => 48000; case 1 => 44100; case _ => 16000
    }
    val out = new java.io.ByteArrayOutputStream(4096)
    // page 0: BOS, OpusHead only, granule 0
    val oh = new Array[Byte](19)
    "OpusHead".getBytes("US-ASCII").copyToArray(oh)
    oh(8) = 1; oh(9) = ch.toByte
    oh(10) = (preSkip & 0xff).toByte; oh(11) = ((preSkip >> 8) & 0xff).toByte
    oh(12) = (rate & 0xff).toByte; oh(13) = ((rate >> 8) & 0xff).toByte
    oh(14) = ((rate >> 16) & 0xff).toByte; oh(15) = ((rate >> 24) & 0xff).toByte
    writePage(out, 0x2, 0L, serial, 0, Seq(oh.length), oh)
    // page 1: the MANDATORY OpusTags comment header (RFC 7845 §5.2) on
    // its own page at granule 0 — a real Opus-in-Ogg stream always
    // carries it, so the walk's packet-1 skip path rides the oracle
    val vendor = "graft".getBytes("US-ASCII")
    val ot = new java.io.ByteArrayOutputStream()
    ot.write("OpusTags".getBytes("US-ASCII"))
    ot.write(vendor.length); ot.write(0); ot.write(0); ot.write(0)
    ot.write(vendor)
    ot.write(0); ot.write(0); ot.write(0); ot.write(0) // 0 user comments
    val otb = ot.toByteArray
    writePage(out, 0x0, 0L, serial, 1, Seq(otb.length), otb)
    val n = dataPages(d)
    var completed = 0
    // carried tail of a spanning packet (bytes deferred to this page)
    var carryBytes = 0
    var p = 0
    while (p < n) {
      val laces = Seq.newBuilder[Int]
      val body = new java.io.ByteArrayOutputStream(2048)
      def emit(sz: Int, seed: Int, prefix: Seq[Int]): Unit = {
        var rem = sz
        while (rem >= 255) { laces += 255; rem -= 255 }
        laces += rem
        prefix.foreach(body.write)
        var b = prefix.length
        while (b < sz) {
          body.write((seed + 11 * b) % 251); b += 1
        }
      }
      if (carryBytes > 0) { // finish the packet spanning into this page
        emit(carryBytes, (d + 97 * p).toInt % 251, Seq.empty)
        completed += 1
        carryBytes = 0
      }
      val np = packetsOnPage(d, p)
      var k = 0
      while (k < np) {
        // every audio packet leads with a REAL Opus TOC byte summing
        // to exactly 960 granules (20 ms), three shapes: code 0 with
        // a 20 ms config / code 1 (two equal 10 ms frames — payload
        // parity enforced) / code 3 with an explicit count byte of 1
        val shape = ((d + p + k) % 3).toInt
        val idx = ((d + p + 3 * k) % 9).toInt
        val st = ((d + p + k) % 2).toInt
        val raw = 20 + ((d + 31 * p + 17 * k) % 500).toInt
        val sz = if (shape == 1 && raw % 2 == 0) raw + 1 else raw
        val prefix = shape match {
          case 0 => Seq((Cfg20(idx) << 3) | (st << 2))
          case 1 => Seq((Cfg10(idx) << 3) | (st << 2) | 1)
          case _ => Seq((Cfg20(idx) << 3) | (st << 2) | 3, 1)
        }
        emit(sz, (d + 7 * p + k).toInt % 251, prefix)
        completed += 1
        k += 1
      }
      // on spanning docs, open one more packet at every interior
      // boundary: 255 bytes here (lacing 255 alone = still open),
      // the 45-144-byte remainder carried to the next page. The
      // opened packet counts toward the NEXT page's completions, so
      // packetsOnPage stays the per-page closed form for granules.
      val span = spanning(d) && p < n - 1
      if (span) {
        laces += 255
        val seed = (d + 97 * (p + 1)).toInt % 251
        // the spanning packet's TOC: code 0, one 20 ms frame
        body.write((Cfg20(((d + p) % 9).toInt) << 3) |
          ((((d + p) % 2).toInt) << 2))
        var b = 1
        while (b < 255) { body.write((seed + 11 * b) % 251); b += 1 }
        carryBytes = (45 + ((d + p) % 100).toInt)
      }
      // completions since the spanning tail belongs to the next page:
      // granule = 960 · packets completed THROUGH this page
      val flags = (if (p == n - 1) 0x4 else 0) |
        (if (p > 0 && spanning(d)) 0x1 else 0)
      writePage(out, flags, 960L * completed, serial, 2 + p,
        laces.result(), body.toByteArray)
      p += 1
    }
    out.toByteArray
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("serial", IntegerType),
    StructField("n_pages", IntegerType),
    StructField("n_packets", IntegerType),
    StructField("last_granule", LongType),
    StructField("channels", IntegerType),
    StructField("pre_skip", IntegerType),
    StructField("input_rate", IntegerType),
    StructField("duration_ms", LongType),
    StructField("n_silk", IntegerType),
    StructField("n_hybrid", IntegerType),
    StructField("n_celt", IntegerType),
    StructField("n_stereo", IntegerType),
    StructField("n_frames", IntegerType)))

  /** ids → parsed Ogg/Opus features over the closed-form fixture. */
  def oggFeatures(ids: DataFrame, idCol: String): DataFrame = {
    val idIdx = ids.schema.fieldIndex(idCol)
    val rdd = ids.rdd.mapPartitions { rows =>
      rows.map { r =>
        val d = r.getLong(idIdx)
        val m = parse(synth(d))
        Row(d, m.serial, m.nPages, m.nPackets, m.lastGranule, m.channels,
          m.preSkip, m.inputRate, m.durationMs, m.nSilk, m.nHybrid,
          m.nCelt, m.nStereo, m.nFrames)
      }
    }
    ids.sparkSession.createDataFrame(rdd, schema)
  }
}
