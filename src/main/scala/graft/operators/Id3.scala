package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** ID3v2.3 text-frame walk — the MP3 tag sibling of FLAC's
  * VORBIS_COMMENT ([[Flac]]): audio curation reads title/artist/album
  * tags for provenance and dedup keys without touching a single audio
  * frame. llm_audio_mp3_meta's frame walk SKIPS the ID3v2 block by its
  * syncsafe length; this operator walks INSIDE it.
  *
  * From the public id3.org v2.3 spec:
  *   - `ID3` magic, version (2 bytes), flags, then the tag size as a
  *     28-bit SYNCSAFE integer (7 bits per byte, high bit zero — the
  *     format's signature quirk, so the size can never contain a frame
  *     sync byte 0xFF);
  *   - frames: 4-char id, 4-byte BIG-ENDIAN size (plain, NOT syncsafe
  *     in v2.3), 2 flag bytes, payload; a ZERO byte where a frame id
  *     should start means padding — the walk stops there;
  *   - text frames (`T...`): 1 encoding byte (0 = ISO-8859-1 and 3 =
  *     UTF-8 supported; UTF-16 is out of subset and LOUD), then the
  *     text, optionally NUL-terminated.
  *
  * Loud failures: bad magic, non-v2.3 major version, a non-zero
  * syncsafe high bit, a frame size overrunning the tag, an
  * out-of-subset text encoding.
  */
object Id3 {

  final case class Id3Tag(tagSize: Int, nFrames: Int,
      title: String, artist: String, album: String, year: Int)

  def parse(bytes: Array[Byte]): Id3Tag = {
    require(bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' &&
      bytes(2) == '3', "not an ID3v2 tag")
    require(bytes(3) == 3, s"only ID3v2.3 in subset, got 2.${bytes(3)}")
    // size: 4 syncsafe bytes (high bit of each must be zero)
    (6 to 9).foreach(k => require((bytes(k) & 0x80) == 0,
      "ID3v2 size byte has its high (sync) bit set"))
    val tagSize = ((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
      ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)
    Bin.checkRange(10, tagSize, bytes.length, "ID3v2 tag size")
    var off = 10
    val end = 10 + tagSize
    var n = 0
    var title: String = null; var artist: String = null
    var album: String = null; var year = -1
    var done = false
    while (!done && off < end) {
      if (bytes(off) == 0) done = true // padding begins
      else {
        require(off + 10 <= end, "truncated ID3v2 frame header")
        val fid = new String(bytes, off, 4, "US-ASCII")
        require(fid.forall(c => c.isUpper || c.isDigit),
          s"bad ID3v2 frame id '$fid'")
        val fsz = Bin.u32be(bytes, off + 4, bytes.length).toInt
        require(fsz > 0, s"ID3v2 frame $fid size $fsz overruns the tag")
        Bin.checkRange(off + 10, fsz, end, "ID3v2 frame")
        if (fid.charAt(0) == 'T') {
          val enc = bytes(off + 10) & 0xff
          require(enc == 0 || enc == 3,
            s"ID3v2 text encoding $enc out of subset (latin1/utf8 only)")
          var tl = fsz - 1
          // optional trailing NUL
          while (tl > 0 && bytes(off + 10 + tl) == 0) tl -= 1
          val text = new String(bytes, off + 11, tl,
            if (enc == 0) "ISO-8859-1" else "UTF-8")
          fid match {
            case "TIT2" => title = text
            case "TPE1" => artist = text
            case "TALB" => album = text
            case "TYER" => year = text.toInt
            case _ => ()
          }
        }
        n += 1
        off += 10 + fsz
      }
    }
    Id3Tag(tagSize, n, title, artist, album, year)
  }

  /** Closed-form ID3v2.3 tag for id d — TIT2/TPE1/TYER always, TALB on
    * even ids, then 3 + d%6 padding bytes, then non-tag filler the
    * walk must never read past the syncsafe bound into. */
  def synth(d: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(128)
    def frame(id: String, text: String): Unit = {
      val t = text.getBytes("ISO-8859-1")
      out.write(id.getBytes("US-ASCII"), 0, 4)
      val sz = t.length + 1
      out.write(Bin.be32(sz))
      out.write(0); out.write(0) // flags
      out.write(0) // encoding: ISO-8859-1
      out.write(t, 0, t.length)
    }
    frame("TIT2", s"t${d % 20}")
    frame("TPE1", s"a${d % 13}")
    if (d % 2 == 0) frame("TALB", s"b${d % 7}")
    frame("TYER", (1990 + d % 30).toString)
    val frames = out.toByteArray
    val pad = (3 + d % 6).toInt
    val tagSize = frames.length + pad
    val full = new java.io.ByteArrayOutputStream(tagSize + 20)
    full.write('I'); full.write('D'); full.write('3')
    full.write(3); full.write(0); full.write(0) // v2.3.0, no flags
    full.write((tagSize >> 21) & 0x7f); full.write((tagSize >> 14) & 0x7f)
    full.write((tagSize >> 7) & 0x7f); full.write(tagSize & 0x7f)
    full.write(frames, 0, frames.length)
    (0 until pad).foreach(_ => full.write(0))
    // trailing "audio" filler: 0xFF sync-ish bytes the walk must not
    // interpret as frames (the syncsafe bound stops it first)
    (0 until 4).foreach(_ => full.write(0xff))
    full.toByteArray
  }

  private val tagSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("tag_size", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("title", StringType),
    StructField("artist", StringType),
    StructField("album", StringType),
    StructField("year", IntegerType)))

  /** ids → parsed tag features over closed-form fixtures. */
  def tagFeatures(ids: DataFrame, idCol: String): DataFrame = {
    val idIdx = ids.schema.fieldIndex(idCol)
    val rdd = ids.rdd.mapPartitions { rows =>
      rows.map { r =>
        val d = r.getLong(idIdx)
        val t = parse(synth(d))
        Row(d, t.tagSize, t.nFrames, t.title, t.artist, t.album, t.year)
      }
    }
    ids.sparkSession.createDataFrame(rdd, tagSchema)
  }
}
