package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** HEVC / H.265 NAL + SPS metadata walk — the filter-before-decode
  * pass for the other half of modern video, twin to the H.264 row
  * (llm_video_nal_meta). Implemented from ITU-T H.265: the two-byte
  * NAL header (forbidden bit, 6-bit type, 6-bit layer id, 3-bit
  * temporal id), profile_tier_level (profile space / tier / profile
  * idc / compatibility flags / source flags / level idc), and the SPS
  * fields through the bit depths: chroma format, luma dimensions,
  * conformance window (output size = luma size minus SubWidthC/
  * SubHeightC-scaled offsets), bit_depth_luma/chroma_minus8. The 44
  * reserved/constraint bits after the source flags are skipped
  * without validation (real encoders set profile-specific constraint
  * flags there; a metadata gate must tolerate them).
  *
  * Framing reuses the shared NAL splitter: Annex-B start codes or
  * 4-byte length prefixes (reported as 'hvcc'). Emulation-prevention
  * unescaping is PROVEN on the oracle path exactly like the AVC row:
  * the fixture PPS embeds a 00 00 01 triple, so the wire form always
  *carries an escape byte and a parser that skips unescaping reports
  * the wrong pps_rbsp_len. Slice payload decode is the documented
  * boundary (llm_video_decode_iframe covers H.264; HEVC CABAC is
  * out), rejected by construction: only VPS/SPS/PPS/IDR/TRAIL NAL
  * types are accepted in the shell, anything else fails by name. */
object Hevc {

  final case class HevcMeta(framing: String, nNals: Int, nSlices: Int,
      hasVps: Boolean, tier: Int, profile: Int, level: Int,
      width: Int, height: Int, chromaFormat: Int,
      bitDepthLuma: Int, bitDepthChroma: Int, ppsRbspLen: Int)

  /** SPS parse through the bit depths; `rbsp` EXCLUDES the 2-byte
    * NAL header. Returns (tier, profile, level, width, height,
    * chromaFormat, bitDepthLuma, bitDepthChroma). */
  def parseSps(rbsp: Array[Byte]): (Int, Int, Int, Int, Int, Int, Int, Int) = {
    val r = new Bin.MsbReader(rbsp, "HEVC SPS")
    r.u(4) // sps_video_parameter_set_id
    val maxSubLayers = r.u(3)
    require(maxSubLayers == 0,
      "sub-layer profile_tier_level is outside the meta subset")
    r.u(1) // sps_temporal_id_nesting_flag
    // profile_tier_level
    val space = r.u(2)
    require(space == 0, s"bad general_profile_space $space")
    val tier = r.u(1)
    val profile = r.u(5)
    r.u(16); r.u(16) // general_profile_compatibility_flags (32)
    r.u(4) // progressive / interlaced / non_packed / frame_only
    // 43 reserved/constraint bits + 1 inbld/reserved bit: tolerated,
    // not validated (profile-specific constraint flags live here)
    r.u(22); r.u(22)
    val level = r.u(8)
    r.ue() // sps_seq_parameter_set_id
    val chroma = r.ue()
    require(chroma <= 3, s"bad chroma_format_idc $chroma")
    if (chroma == 3) r.u(1) // separate_colour_plane_flag
    val wLuma = r.ue()
    val hLuma = r.ue()
    var (cl, cr, ct, cb) = (0, 0, 0, 0)
    if (r.u(1) == 1) { cl = r.ue(); cr = r.ue(); ct = r.ue(); cb = r.ue() }
    val bdLuma = r.ue() + 8
    val bdChroma = r.ue() + 8
    // SubWidthC/SubHeightC per chroma_format_idc (4:2:0 -> 2/2)
    val subW = if (chroma == 1 || chroma == 2) 2 else 1
    val subH = if (chroma == 1) 2 else 1
    val width = wLuma - subW * (cl + cr)
    val height = hLuma - subH * (ct + cb)
    require(width > 0 && height > 0, s"conformance window eats the frame")
    (tier, profile, level, width, height, chroma, bdLuma, bdChroma)
  }

  /** Full stream walk: framing detect (shared splitter) -> per-NAL
    * two-byte header check -> SPS parse -> PPS unescaped length. */
  def nalMeta(bytes: Array[Byte]): HevcMeta = {
    val (framing, nals) = Codecs.nalUnits(bytes)
    var sps: Option[(Int, Int, Int, Int, Int, Int, Int, Int)] = None
    var ppsLen = -1
    var slices = 0
    var hasVps = false
    nals.foreach { nal =>
      require(nal.length >= 2, "HEVC NAL shorter than its 2-byte header")
      val b0 = nal(0) & 0xff
      val b1 = nal(1) & 0xff
      require((b0 & 0x80) == 0, "forbidden_zero_bit set")
      val nalType = (b0 >> 1) & 0x3f
      val layerId = ((b0 & 1) << 5) | (b1 >> 3)
      val tidPlus1 = b1 & 0x7
      require(layerId == 0, s"multi-layer nuh_layer_id $layerId " +
        "is outside the meta subset")
      require(tidPlus1 >= 1, "nuh_temporal_id_plus1 must be nonzero")
      val rbsp = Codecs.rbspUnescape(nal.drop(2))
      nalType match {
        case 32 => hasVps = true
        case 33 =>
          require(sps.isEmpty, "duplicate SPS in metadata shell")
          sps = Some(parseSps(rbsp))
        case 34 => ppsLen = rbsp.length
        case 0 | 1 | 19 | 20 | 21 => slices += 1
        case t =>
          throw new IllegalArgumentException(
            s"unexpected HEVC NAL type $t in metadata shell")
      }
    }
    val (tier, p, l, w, h, cf, bdl, bdc) =
      sps.getOrElse(throw new IllegalArgumentException("stream carries no SPS"))
    require(ppsLen >= 0, "stream carries no PPS")
    HevcMeta(if (framing == "avcc") "hvcc" else framing, nals.length,
      slices, hasVps, tier, p, l, w, h, cf, bdl, bdc, ppsLen)
  }

  // ---------------------------------------------------------- fixtures

  private def nalHeader(nalType: Int): Array[Byte] =
    Array(((nalType << 1) & 0x7e).toByte, 0x01.toByte) // layer 0, tid+1 = 1

  /** Closed-form SPS NAL: profile rotates Main/Main10/MainStillPicture
    * (Main10 pairs with 10-bit depths, the realistic coupling), tier
    * set on d%7==0, level over five real idc values, dims in luma
    * samples with a conformance window on d%4==0. */
  def synthSpsNal(d: Long): Array[Byte] = {
    val profile = Array(1, 2, 3)((d % 3).toInt)
    val tier = if (d % 7 == 0) 1 else 0
    val level = Array(93, 120, 123, 150, 153)((d % 5).toInt)
    val bd = if (profile == 2) 2 else 0
    val w = new Bin.MsbWriter
    w.u(0, 4) // vps id
    w.u(0, 3) // max_sub_layers_minus1
    w.u(1, 1) // temporal_id_nesting
    w.u(0, 2); w.u(tier, 1); w.u(profile, 5)
    // compat flags are written MSB-first: flag[0] is the top bit, so
    // setting flag[profile] means bit (15 - profile) of the first
    // 16-bit word (ADVICE r15: 16 - profile set flag[profile-1])
    w.u(1 << (15 - profile), 16); w.u(0, 16)
    w.u(0x9, 4) // progressive=1, interlaced=0, non_packed=0, frame_only=1
    w.u(0, 22); w.u(0, 22) // reserved/constraint bits
    w.u(level, 8)
    w.ue(0) // sps id
    w.ue(1) // chroma 4:2:0
    w.ue((8 * (8 + d % 20)).toInt) // pic_width_in_luma_samples
    w.ue((8 * (6 + d % 15)).toInt) // pic_height_in_luma_samples
    if (d % 4 == 0) {
      w.u(1, 1)
      w.ue(0); w.ue(1 + ((d / 4) % 2).toInt) // left, right
      w.ue(0); w.ue(((d / 4) % 2).toInt)     // top, bottom
    } else w.u(0, 1)
    w.ue(bd); w.ue(bd)
    w.ue((d % 5).toInt) // log2_max_pic_order_cnt_lsb_minus4
    nalHeader(33) ++ Codecs.rbspEscape(Codecs.rbspTrailing(w))
  }

  /** Fixture PPS: 9 + d%5 RBSP bytes embedding a 00 00 01 triple so
    * the wire form always needs an emulation-prevention byte. */
  def synthPpsNal(d: Long): Array[Byte] = {
    val rbsp = new Array[Byte]((9 + d % 5).toInt)
    rbsp.indices.foreach(i => rbsp(i) = ((d + 29 * i) % 250 + 1).toByte)
    rbsp(3) = 0; rbsp(4) = 0; rbsp(5) = 1
    nalHeader(34) ++ Codecs.rbspEscape(rbsp)
  }

  /** Closed-form HEVC metadata shell: optional VPS (absent when
    * d%3==1), SPS, PPS, then 1 + d%4 slice NALs (an IDR — W_RADL or
    * N_LP rotating by d%2 — followed by TRAIL_R). Length-prefixed
    * 'hvcc' framing on even d, Annex-B on odd. */
  def synthHevcStream(d: Long): Array[Byte] = {
    val nals = collection.mutable.ArrayBuffer.empty[Array[Byte]]
    if (d % 3 != 1)
      nals += (nalHeader(32) ++ Array.tabulate(4)(i =>
        ((d + 17 * i) % 250 + 1).toByte))
    nals += synthSpsNal(d)
    nals += synthPpsNal(d)
    val nSlices = (1 + d % 4).toInt
    (0 until nSlices).foreach { k =>
      val t = if (k == 0) (if (d % 2 == 0) 19 else 20) else 1
      nals += (nalHeader(t) ++ Array.tabulate(6 + k)(i =>
        ((d + 7 * k + 3 * i) % 250 + 1).toByte))
    }
    if (d % 2 == 0) {
      val out = new java.io.ByteArrayOutputStream()
      nals.foreach { n =>
        out.write(n.length >>> 24); out.write((n.length >> 16) & 0xff)
        out.write((n.length >> 8) & 0xff); out.write(n.length & 0xff)
        out.write(n, 0, n.length)
      }
      out.toByteArray
    } else {
      val out = new java.io.ByteArrayOutputStream()
      nals.zipWithIndex.foreach { case (n, k) =>
        if (k == 0 || k % 2 == 1) out.write(0) // mixed 4- and 3-byte codes
        out.write(0); out.write(0); out.write(1)
        out.write(n, 0, n.length)
      }
      out.toByteArray
    }
  }

  // ------------------------------------------------ hvcC-in-MP4 walk

  final case class HvccMeta(nVps: Int, nSps: Int, nPps: Int,
      nalLenSize: Int, tier: Int, profile: Int, level: Int,
      chromaFormat: Int, bitDepthLuma: Int, bitDepthChroma: Int,
      width: Int, height: Int)

  /** Parse the HEVCDecoderConfigurationRecord (ISO 14496-15) out of
    * moov/trak/../stsd/hvc1/hvcC and CROSS-CHECK the record's mirror
    * fields (profile space/tier/profile/level, chroma format, bit
    * depths) against an SPS parse of the embedded SPS NAL, plus the
    * hvc1 entry dims against the SPS conformance-window dims — a
    * muxer disagreeing with its own bitstream fails loudly, exactly
    * the avcC discipline. */
  def hvccMeta(bytes: Array[Byte]): HvccMeta = {
    val kids = Codecs.stblKids(bytes)
    val stsd = Codecs.oneBox(kids, "stsd")
    require(stsd.end - stsd.start >= 8, "truncated stsd header")
    val hvc1 = Codecs.oneBox(
      Codecs.mp4Walk(bytes, stsd.start + 8, stsd.end), "hvc1")
    require(hvc1.end - hvc1.start >= 78, "truncated hvc1 sample entry")
    val entryW = Bin.u16be(bytes, hvc1.start + 24, bytes.length)
    val entryH = Bin.u16be(bytes, hvc1.start + 26, bytes.length)
    val hvcc = Codecs.oneBox(
      Codecs.mp4Walk(bytes, hvc1.start + 78, hvc1.end), "hvcC")
    val a = java.util.Arrays.copyOfRange(bytes, hvcc.start, hvcc.end)
    require(a.length >= 23, "truncated HEVCDecoderConfigurationRecord")
    require((a(0) & 0xff) == 1, "bad hvcC configurationVersion")
    require(((a(1) >> 6) & 0x3) == 0, "bad general_profile_space in hvcC")
    val recTier = (a(1) >> 5) & 1
    val recProfile = a(1) & 0x1f
    val recLevel = a(12) & 0xff
    val recChroma = a(16) & 0x3
    val recBdLuma = (a(17) & 0x7) + 8
    val recBdChroma = (a(18) & 0x7) + 8
    val nalLenSize = (a(21) & 0x3) + 1
    val nArrays = a(22) & 0xff
    var pos = 23
    var nVps = 0
    var nSps = 0
    var nPps = 0
    var spsNal: Array[Byte] = null
    (0 until nArrays).foreach { _ =>
      require(pos + 3 <= a.length, "truncated hvcC NAL array header")
      val nalType = a(pos) & 0x3f
      val nNalus = Bin.u16be(a, pos + 1, a.length)
      pos += 3
      (0 until nNalus).foreach { _ =>
        require(pos + 2 <= a.length, "truncated hvcC NAL length")
        val len = Bin.u16be(a, pos, a.length)
        pos += 2
        require(len >= 2, s"hvcC NAL length $len out of bounds")
        Bin.checkRange(pos, len, a.length, "hvcC NAL length")
        nalType match {
          case 32 => nVps += 1
          case 33 =>
            nSps += 1
            if (spsNal == null)
              spsNal = java.util.Arrays.copyOfRange(a, pos, pos + len)
          case 34 => nPps += 1
          case t =>
            throw new IllegalArgumentException(s"unexpected hvcC array NAL type $t")
        }
        pos += len
      }
    }
    require(spsNal != null, "hvcC carries no SPS")
    require(nVps >= 1 && nPps >= 1, "hvcC lacks a VPS or PPS array")
    val (tier, p, l, w, h, cf, bdl, bdc) =
      parseSps(Codecs.rbspUnescape(spsNal.drop(2)))
    require(tier == recTier && p == recProfile,
      s"hvcC profile/tier $recProfile/$recTier disagree with SPS $p/$tier")
    require(l == recLevel, s"hvcC level $recLevel disagrees with SPS $l")
    require(cf == recChroma,
      s"hvcC chroma $recChroma disagrees with SPS $cf")
    require(bdl == recBdLuma && bdc == recBdChroma,
      s"hvcC depths $recBdLuma/$recBdChroma disagree with SPS $bdl/$bdc")
    require(w == entryW && h == entryH,
      s"hvc1 dims ${entryW}x$entryH disagree with SPS ${w}x$h")
    HvccMeta(nVps, nSps, nPps, nalLenSize, tier, p, l, cf, bdl, bdc, w, h)
  }

  /** stsd carrying a real hvc1/hvcC entry for the fixture VPS/SPS/PPS
    * (three NAL arrays, lengthSizeMinusOne = 3); mirror fields are
    * derived FROM the SPS so the cross-checks hold by construction. */
  def hvcStsdBox(d: Long): Array[Byte] = {
    val sps = synthSpsNal(d)
    val pps = synthPpsNal(d)
    val vps = nalHeader(32) ++ Array.tabulate(4)(i =>
      ((d + 17 * i) % 250 + 1).toByte)
    val (tier, profile, level, w, h, cf, bdl, bdc) =
      parseSps(Codecs.rbspUnescape(sps.drop(2)))
    val rec = new java.io.ByteArrayOutputStream()
    rec.write(1) // configurationVersion
    rec.write((tier << 5) | profile) // space 0 | tier | profile_idc
    rec.write(0); rec.write(0); rec.write(0); rec.write(0) // compat flags
    (0 until 6).foreach(_ => rec.write(0)) // constraint flags
    rec.write(level)
    rec.write(0xf0); rec.write(0) // min_spatial_segmentation_idc
    rec.write(0xfc) // parallelismType 0
    rec.write(0xfc | cf)
    rec.write(0xf8 | (bdl - 8))
    rec.write(0xf8 | (bdc - 8))
    rec.write(0); rec.write(0) // avgFrameRate
    rec.write(0x03 | (1 << 3) | (1 << 2)) // 1 layer, nested, lenSize-1=3
    rec.write(3) // numOfArrays: VPS, SPS, PPS
    def array(t: Int, nal: Array[Byte]): Unit = {
      rec.write(0x80 | t) // array_completeness
      rec.write(0); rec.write(1)
      rec.write(nal.length >> 8); rec.write(nal.length & 0xff)
      rec.write(nal, 0, nal.length)
    }
    array(32, vps); array(33, sps); array(34, pps)
    val hvcc = Codecs.mp4Box("hvcC", rec.toByteArray)
    val entry = new Array[Byte](78)
    entry(7) = 1 // data_reference_index
    Bin.put16be(entry, 24, w)
    Bin.put16be(entry, 26, h)
    entry(28) = 0; entry(29) = 0x48; entry(32) = 0; entry(33) = 0x48
    entry(40) = 1 // frame_count
    entry(74) = 0x18 // depth 24
    entry(76) = 0xff.toByte; entry(77) = 0xff.toByte
    val hvc1 = Codecs.mp4Box("hvc1", entry ++ hvcc)
    Codecs.mp4Box("stsd", Array[Byte](0, 0, 0, 0, 0, 0, 0, 1) ++ hvc1)
  }

  /** Minimal MP4 metadata shell around the hvc1/hvcC entry (the
    * synthAvcMp4 shape with the HEVC brand). */
  def synthHevcMp4(d: Long): Array[Byte] = {
    val stbl = Codecs.mp4Box("stbl", hvcStsdBox(d))
    val minf = Codecs.mp4Box("minf", stbl)
    val mdia = Codecs.mp4Box("mdia", minf)
    val trak = Codecs.mp4Box("trak", mdia)
    val moov = Codecs.mp4Box("moov", trak)
    val ftyp = Codecs.mp4Box("ftyp",
      "isom".getBytes("US-ASCII") ++ Array[Byte](0, 0, 2, 0) ++
        "isomhvc1".getBytes("US-ASCII"))
    ftyp ++ moov
  }

  private val hvccSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("n_vps", IntegerType),
    StructField("n_sps", IntegerType),
    StructField("n_pps", IntegerType),
    StructField("nal_len_size", IntegerType),
    StructField("tier", IntegerType),
    StructField("profile", IntegerType),
    StructField("level", IntegerType),
    StructField("chroma_fmt", IntegerType),
    StructField("bit_depth_luma", IntegerType),
    StructField("bit_depth_chroma", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType)))

  /** ids -> hvcC-in-MP4 shell -> record walk + SPS cross-check. */
  def hvccFeatures(ids: DataFrame, idCol: String): DataFrame = {
    val idIdx = ids.schema.fieldIndex(idCol)
    val rdd = ids.rdd.mapPartitions { rows =>
      rows.map { r =>
        val d = r.getLong(idIdx)
        val m = hvccMeta(synthHevcMp4(d))
        Row(d, m.nVps, m.nSps, m.nPps, m.nalLenSize, m.tier, m.profile,
          m.level, m.chromaFormat, m.bitDepthLuma, m.bitDepthChroma,
          m.width, m.height)
      }
    }
    ids.sparkSession.createDataFrame(rdd, hvccSchema)
  }

  // ---------------------------------------------------- Spark features

  private val metaSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("framing", StringType),
    StructField("n_nals", IntegerType),
    StructField("n_slices", IntegerType),
    StructField("has_vps", IntegerType),
    StructField("tier", IntegerType),
    StructField("profile", IntegerType),
    StructField("level", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("chroma_fmt", IntegerType),
    StructField("bit_depth_luma", IntegerType),
    StructField("bit_depth_chroma", IntegerType),
    StructField("pps_rbsp_len", IntegerType)))

  /** ids -> closed-form HEVC shell -> NAL/SPS walk. Pure per-doc map
    * work — the scan-stage-only gate a 100 TB video corpus runs
    * before deciding what to transcode or decode. */
  def metaFeatures(ids: DataFrame, idCol: String): DataFrame = {
    val idIdx = ids.schema.fieldIndex(idCol)
    val rdd = ids.rdd.mapPartitions { rows =>
      rows.map { r =>
        val d = r.getLong(idIdx)
        val m = nalMeta(synthHevcStream(d))
        Row(d, m.framing, m.nNals, m.nSlices, if (m.hasVps) 1 else 0,
          m.tier, m.profile, m.level, m.width, m.height, m.chromaFormat,
          m.bitDepthLuma, m.bitDepthChroma, m.ppsRbspLen)
      }
    }
    ids.sparkSession.createDataFrame(rdd, metaSchema)
  }
}
