package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** MPEG-1 Layer III SIDE INFORMATION parse (ISO 11172-3 section
  * 2.4.1.7) — the audio twin of the VP8 key-frame header: the fixed
  * bit-field block after each frame header carries the curation
  * signals a lossy-audio gate reads WITHOUT Huffman-decoding any
  * spectrum — main_data_begin (bit-reservoir usage: how hard the
  * encoder was squeezing), global_gain per granule/channel (loudness
  * proxy), and window switching / short-block counts (transient
  * density — speech/music/percussion discrimination). 17 bytes for
  * mono, 32 for two-channel; 2 granules x channels, each 59 bits:
  * part2_3_length(12) big_values(9) global_gain(8)
  * scalefac_compress(4) window_switching(1) then EITHER
  * [block_type(2) mixed(1) table_select x2 (5) subblock_gain x3 (3)]
  * OR [table_select x3 (5) region0(4) region1(3)], then preflag(1)
  * scalefac_scale(1) count1table_select(1). Huffman spectrum decode
  * stays the documented lossy boundary.
  *
  * Both directions are implemented (the fixture embeds REAL side
  * info in every synthMp3 frame) and the bit layout is pinned by the
  * byte-width invariant: mono must consume exactly 17 bytes and
  * stereo exactly 32, enforced loudly after every parse. */
object Mp3Side {

  /** One granule-channel's header fields (the gate-relevant subset
    * surfaced; table selects and region counts are parsed and
    * validated but not emitted). */
  final case class GranChan(part23Len: Int, bigValues: Int,
      globalGain: Int, windowSwitching: Boolean, blockType: Int)

  final case class SideInfo(mainDataBegin: Int, grans: Seq[GranChan])

  /** Parse the side info at `pos` (just past a CRC-less MPEG-1 header)
    * for `nch` channels; enforces the exact byte width. */
  def parse(bytes: Array[Byte], pos: Int, nch: Int): SideInfo = {
    require(nch == 1 || nch == 2, s"bad channel count $nch")
    val r = new Bin.MsbReader(bytes, pos, bytes.length, "MP3 side info")
    val mainDataBegin = r.u(9)
    r.u(if (nch == 1) 5 else 3) // private bits
    (0 until nch).foreach(_ => r.u(4)) // scfsi
    val grans = for (g <- 0 until 2; c <- 0 until nch) yield {
      val p23 = r.u(12)
      val bigValues = r.u(9)
      require(bigValues <= 288, s"big_values $bigValues > 288 (g$g c$c)")
      val gain = r.u(8)
      r.u(4) // scalefac_compress
      val switching = r.u(1) == 1
      val blockType =
        if (switching) {
          val bt = r.u(2)
          require(bt != 0, s"block_type 0 with window switching (g$g c$c)")
          r.u(1) // mixed_block_flag
          r.u(5); r.u(5) // table_select x2
          r.u(3); r.u(3); r.u(3) // subblock_gain x3
          bt
        } else {
          r.u(5); r.u(5); r.u(5) // table_select x3
          r.u(4); r.u(3) // region0_count, region1_count
          0
        }
      r.u(1); r.u(1); r.u(1) // preflag, scalefac_scale, count1table
      GranChan(p23, bigValues, gain, switching, blockType)
    }
    val expected = if (nch == 1) 17 else 32
    require(r.bitPos - pos * 8 == expected * 8,
      s"side info consumed ${r.bitPos - pos * 8} bits, " +
        s"expected ${expected * 8}")
    SideInfo(mainDataBegin, grans)
  }

  /** Closed-form side info for (doc d, frame f): every emitted field
    * integer-recomputable; window switching fires on a 1-in-3
    * rotation with block types cycling 1..3 (2 = short blocks). */
  def encode(d: Long, f: Int, nch: Int): Array[Byte] = {
    val w = new Bin.MsbWriter
    w.u(((d + 7 * f) % 512).toInt, 9)
    w.u(0, if (nch == 1) 5 else 3)
    (0 until nch).foreach(c => w.u(((d + f + c) % 16).toInt, 4))
    for (g <- 0 until 2; c <- 0 until nch) {
      w.u(((3 * d + 11 * f + 17 * g + 23 * c) % 4096).toInt, 12)
      w.u(((d + 5 * f + g + c) % 289).toInt, 9)
      w.u(((d + 2 * f + 3 * g + 5 * c) % 256).toInt, 8)
      w.u(((d + g) % 16).toInt, 4)
      val switching = (d + f + g + c) % 3 == 0
      w.u(if (switching) 1 else 0, 1)
      if (switching) {
        w.u((1 + (d + g + c) % 3).toInt, 2)
        w.u(((d + c) % 2).toInt, 1)
        w.u(((d + 4 * f + c) % 32).toInt, 5); w.u(((d + f) % 32).toInt, 5)
        w.u(((d + g) % 8).toInt, 3); w.u(((d + c) % 8).toInt, 3)
        w.u(((d + f) % 8).toInt, 3)
      } else {
        w.u(((d + 4 * f + c) % 32).toInt, 5); w.u(((d + f) % 32).toInt, 5)
        w.u(((d + g + c) % 32).toInt, 5)
        w.u(((d + g) % 16).toInt, 4); w.u(((d + c) % 8).toInt, 3)
      }
      w.u(((d + f) % 2).toInt, 1)
      w.u(((d + g) % 2).toInt, 1)
      w.u(((d + c) % 2).toInt, 1)
    }
    require(w.bitPos % 8 == 0,
      s"side info must be byte-aligned, ${w.bitPos % 8} over")
    val out = w.toBytes
    require(out.length == (if (nch == 1) 17 else 32),
      s"encoded side info ${out.length} bytes")
    out
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("n_frames", IntegerType),
    StructField("n_channels", IntegerType),
    StructField("n_gran_chans", IntegerType),
    StructField("n_switching", IntegerType),
    StructField("n_short_blocks", IntegerType),
    StructField("sum_global_gain", LongType),
    StructField("max_main_data_begin", IntegerType),
    StructField("f0_part23_len", IntegerType),
    StructField("f0_big_values", IntegerType)))

  /** ids -> synthMp3 -> per-frame side-info parse -> the gate
    * aggregates (transient density, loudness, reservoir pressure)
    * plus a frame-0 probe. Per-doc map work; the frame walk advances
    * by the same computed lengths as Codecs.mp3Meta. */
  def features(ids: DataFrame, idCol: String): DataFrame = {
    val idIdx = ids.schema.fieldIndex(idCol)
    val rdd = ids.rdd.mapPartitions { rows =>
      rows.map { r =>
        val d = r.getLong(idIdx)
        val bytes = Codecs.synthMp3(d)
        var pos = Codecs.mp3Id3v2Len(bytes)
        var nFrames = 0
        var nSwitch = 0
        var nShort = 0
        var gainSum = 0L
        var maxMdb = 0
        var nch = 0
        var f0p23 = -1
        var f0big = -1
        var done = false
        while (!done) {
          if (pos >= bytes.length - 128 &&
            (pos == bytes.length ||
              (bytes.length - pos == 128 && bytes(pos) == 'T'))) done = true
          else {
            val (frameLen, channels) = Codecs.mp3FrameHeader(bytes, pos)
            nch = channels
            val si = parse(bytes, pos + 4, channels)
            if (nFrames == 0) {
              f0p23 = si.grans.head.part23Len
              f0big = si.grans.head.bigValues
            }
            si.grans.foreach { gc =>
              gainSum += gc.globalGain
              if (gc.windowSwitching) nSwitch += 1
              if (gc.blockType == 2) nShort += 1
            }
            if (si.mainDataBegin > maxMdb) maxMdb = si.mainDataBegin
            nFrames += 1
            pos += frameLen
          }
        }
        Row(d, nFrames, nch, nFrames * 2 * nch, nSwitch, nShort,
          gainSum, maxMdb, f0p23, f0big)
      }
    }
    ids.sparkSession.createDataFrame(rdd, schema)
  }
}
