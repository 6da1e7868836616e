package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** ADTS frame walk — the RAW wire form of AAC (.aac streams, HLS
  * segments) beside the mp4a/esds container form the MP4 walk reads:
  * 12-bit 0xFFF syncwords, the 56-bit fixed+variable header per frame
  * (profile, sampling-frequency index, channel configuration, 13-bit
  * frame length INCLUDING the header, 11-bit buffer fullness, raw-
  * data-block count), frames advanced by their declared lengths.
  * Profile / sample rate / channels must stay constant across frames
  * (drift means the walk desynced — the mp3Meta discipline); duration
  * derives from 1024 samples per raw data block. The CRC-protected
  * header form (protection_absent = 0) is outside the walk subset and
  * rejected by name — real streams overwhelmingly ship CRC-less.
  * AAC spectrum decode stays the documented lossy boundary. */
object Adts {

  private val SampleRates = Array(96000, 88200, 64000, 48000, 44100,
    32000, 24000, 22050, 16000, 12000, 11025, 8000, 7350)

  final case class AdtsMeta(profile: Int, sampleRate: Int, channels: Int,
      nFrames: Int, nRawBlocks: Int, totalBytes: Long, maxFullness: Int,
      durationMs: Long)

  def parse(bytes: Array[Byte]): AdtsMeta = {
    var pos = 0
    var nFrames = 0
    var nBlocks = 0
    var profile = -1
    var srIdx = -1
    var chan = -1
    var maxFull = 0
    while (pos < bytes.length) {
      require(pos + 7 <= bytes.length, s"truncated ADTS header at $pos")
      val b0 = bytes(pos) & 0xff
      val b1 = bytes(pos + 1) & 0xff
      require(b0 == 0xff && (b1 & 0xf0) == 0xf0,
        s"lost ADTS sync at offset $pos")
      require((b1 & 0x06) == 0, s"ADTS layer must be 00 at $pos")
      require((b1 & 0x01) == 1,
        "CRC-protected ADTS headers are outside the walk subset")
      val b2 = bytes(pos + 2) & 0xff
      val p = (b2 >> 6) & 0x3
      val sr = (b2 >> 2) & 0xf
      require(sr < SampleRates.length,
        s"reserved ADTS sampling-frequency index $sr at $pos")
      val b3 = bytes(pos + 3) & 0xff
      val ch = ((b2 & 1) << 2) | ((b3 >> 6) & 0x3)
      require(ch >= 1 && ch <= 7, s"bad ADTS channel configuration $ch")
      if (nFrames == 0) { profile = p; srIdx = sr; chan = ch }
      else {
        require(p == profile && sr == srIdx && ch == chan,
          s"ADTS stream parameters drift at offset $pos — walk desynced")
      }
      val b4 = bytes(pos + 4) & 0xff
      val b5 = bytes(pos + 5) & 0xff
      val b6 = bytes(pos + 6) & 0xff
      val frameLen = ((b3 & 0x3) << 11) | (b4 << 3) | ((b5 >> 5) & 0x7)
      require(frameLen >= 7,
        s"ADTS frame length $frameLen overruns the stream at $pos")
      Bin.checkRange(pos, frameLen, bytes.length, "ADTS frame length")
      val fullness = ((b5 & 0x1f) << 6) | ((b6 >> 2) & 0x3f)
      if (fullness > maxFull) maxFull = fullness
      nBlocks += (b6 & 0x3) + 1
      nFrames += 1
      pos += frameLen
    }
    require(nFrames > 0, "ADTS stream carries no frames")
    val rate = SampleRates(srIdx)
    AdtsMeta(profile, rate, chan, nFrames, nBlocks, bytes.length,
      maxFull, nBlocks.toLong * 1024L * 1000L / rate)
  }

  /** Closed-form fixture: 4 + d%6 frames, profile d%3, sample rate
    * from {48000, 44100, 16000}, 1 + d%2 channels, frame f carrying
    * 1 + (d+f)%2 raw data blocks, buffer fullness (d+13f)%2048,
    * payload length 50 + (3d+17f)%400 filler bytes. */
  def synth(d: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val profile = (d % 3).toInt
    val srIdx = Array(3, 4, 8)((d % 3).toInt) // 48000 / 44100 / 16000
    val ch = (1 + d % 2).toInt
    val n = (4 + d % 6).toInt
    (0 until n).foreach { f =>
      val payload = (50 + (3 * d + 17 * f) % 400).toInt
      val frameLen = 7 + payload
      val fullness = ((d + 13 * f) % 2048).toInt
      val blocksM1 = ((d + f) % 2).toInt
      out.write(0xff)
      out.write(0xf1) // MPEG-4, layer 00, protection_absent = 1
      out.write((profile << 6) | (srIdx << 2) | ((ch >> 2) & 1))
      out.write(((ch & 0x3) << 6) | ((frameLen >> 11) & 0x3))
      out.write((frameLen >> 3) & 0xff)
      out.write(((frameLen & 0x7) << 5) | ((fullness >> 6) & 0x1f))
      out.write(((fullness & 0x3f) << 2) | blocksM1)
      (0 until payload).foreach(i =>
        out.write(((5 * d + 7 * f + i) % 251).toInt))
    }
    out.toByteArray
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("profile", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("n_raw_blocks", IntegerType),
    StructField("total_bytes", LongType),
    StructField("max_fullness", IntegerType),
    StructField("duration_ms", LongType)))

  /** ids -> closed-form ADTS stream -> frame walk. Per-doc map work. */
  def metaFeatures(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, schema) { d =>
      val m = parse(synth(d))
      Iterator.single(Row(d, m.profile, m.sampleRate, m.channels, m.nFrames,
        m.nRawBlocks, m.totalBytes, m.maxFullness, m.durationMs))
    }
}
