package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing (SURVEY.md §2.11).
  *
  * Media is an opaque binary column plus typed metadata:
  * struct<bytes:binary, mime:string, meta:map<string,string>>. All the
  * Spark-side mechanics — schema, partition-friendly batch shape,
  * per-partition decode — are real; only the codec itself is stubbed
  * (image/audio libraries are not in this container) with a
  * deterministic fake so tests are reproducible. On a real cluster the
  * stub body is replaced by the JNI/library call; the per-partition
  * walk around it ([[PerDoc]]: one batch per partition, not per row) is
  * exactly the shape that call needs.
  */
object Multimodal {

  val mediaType: StructType = StructType(Seq(
    StructField("bytes", BinaryType),
    StructField("mime", StringType),
    StructField("meta", MapType(StringType, StringType))))

  /** Wrap a text corpus as a media column (fixture stand-in for real
    * image/audio payloads). */
  def asMedia(df: DataFrame, idCol: String, textCol: String,
      extraMeta: Seq[String]): DataFrame =
    df.select(
      col(idCol),
      struct(
        to_binary(col(textCol), lit("utf-8")).as("bytes"),
        lit("application/octet-stream").as("mime"),
        map(extraMeta.flatMap(m => Seq(lit(m), col(m).cast("string"))): _*)
          .as("meta")).as("media"))

  /** STUB CODEC — deterministic fake "decode + feature extract".
    *
    * Real implementation would decode image bytes and emit e.g. a CLIP
    * embedding; here: 4 floats derived from byte statistics, stable
    * across runs/partitions. Marked clearly per the north star — the
    * Spark plumbing around it is the deliverable.
    */
  private def stubDecodeFeatures(bytes: Array[Byte]): Array[Float] = {
    if (bytes == null) return Array.fill(4)(0f)
    var s0 = 0L; var s1 = 0L
    var i = 0
    while (i < bytes.length) {
      s0 += bytes(i) & 0xff
      s1 += (bytes(i) & 0xff).toLong * ((i % 251) + 1)
      i += 1
    }
    Array(
      bytes.length.toFloat,
      (s0 % 10007).toFloat,
      (s1 % 10007).toFloat,
      if (bytes.length > 0) s0.toFloat / bytes.length else 0f)
  }

  /** STUB RESIZE — deterministic fake "resample to targetBytes".
    * Real implementation: image decode → resample → re-encode. Here:
    * truncate or cyclically pad the payload to exactly targetBytes, so
    * the downstream contract (fixed-size payloads) is real and
    * testable while the pixel math is stubbed. */
  private def stubResize(bytes: Array[Byte], targetBytes: Int): Array[Byte] = {
    if (bytes == null || bytes.length == 0) return new Array[Byte](targetBytes)
    val out = new Array[Byte](targetBytes)
    var i = 0
    while (i < targetBytes) { out(i) = bytes(i % bytes.length); i += 1 }
    out
  }

  /** Resize every media payload to a fixed byte budget (stub codec,
    * real batch shape: one codec init per partition). The media struct
    * shape is preserved; meta records the original size. */
  def resize(df: DataFrame, idCol: String, targetBytes: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType), StructField("media", mediaType)))
    val idIdx = df.schema.fieldIndex(idCol)
    val mediaIdx = df.schema.fieldIndex("media")
    PerDoc.rows(df, outSchema) { r =>
      val media = r.getStruct(mediaIdx)
      val bytes = media.getAs[Array[Byte]]("bytes")
      val meta = media.getAs[Map[String, String]]("meta") +
        ("orig_bytes" -> String.valueOf(if (bytes == null) 0 else bytes.length))
      Iterator.single(Row(r.getLong(idIdx),
        Row(stubResize(bytes, targetBytes), media.getAs[String]("mime"), meta)))
    }
  }

  /** Frame sampling: one media row → `frames` frame rows (the
    * generator shape a video pipeline needs — at scale the fan-out
    * happens inside the partition, nothing reshuffles). STUB sampler:
    * frame i is the byte slice [i·n/F, (i+1)·n/F) of the payload (a
    * real codec would seek and decode every k-th frame); the slice
    * arithmetic is deliberately SQL-replicable so the plumbing has a
    * DuckDB oracle even though the codec is a stub. */
  def frameSample(df: DataFrame, idCol: String, frames: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("frame", mediaType)))
    val idIdx = df.schema.fieldIndex(idCol)
    val mediaIdx = df.schema.fieldIndex("media")
    PerDoc.rows(df, outSchema) { r =>
      val media = r.getStruct(mediaIdx)
      val bytes = media.getAs[Array[Byte]]("bytes")
      val n = if (bytes == null) 0 else bytes.length
      (0 until frames).map { i =>
        val lo = i * n / frames
        val hi = (i + 1) * n / frames
        val slice =
          if (bytes == null) Array.emptyByteArray
          else java.util.Arrays.copyOfRange(bytes, lo, hi)
        Row(r.getLong(idIdx), i,
          Row(slice, media.getAs[String]("mime"),
            media.getAs[Map[String, String]]("meta") +
              ("frame" -> i.toString)))
      }
    }
  }

  // ------------------------------------------------------------------
  // REAL codec paths (graft.operators.Codecs): BMP and WAV are
  // fixed-layout formats decodable with plain byte arithmetic, so for
  // them the codec body is NOT a stub — synthesize real files from
  // closed-form integer pixels/samples, then genuinely parse the bytes
  // back. The closed form is what gives the decode a cross-engine
  // oracle: DuckDB recomputes the expected features from (id, x, y) /
  // (id, i) without touching bytes, so encoder, decoder, or feature
  // drift all break the driver hash.
  // ------------------------------------------------------------------

  /** Shared synth-media wrapper: one closed-form payload per id,
    * wrapped into the media struct schema — every fixture generator
    * differs only in the byte generator, mime, and metadata. */
  private def synthMedia(ids: DataFrame, mime: String,
      meta: Map[String, String])(gen: Long => Array[Byte]): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType), StructField("media", mediaType)))
    PerDoc.walk(ids, outSchema) { d =>
      Iterator.single(Row(d, Row(gen(d), mime, meta)))
    }
  }

  /** ids → media rows carrying an actual 24-bit BMP payload. */
  def synthBmpMedia(ids: DataFrame): DataFrame =
    synthMedia(ids, "image/bmp", Map("w" -> "16", "h" -> "12"))(
      d => Codecs.encodeBmp(Codecs.synthBmp(d)))

  /** ids → media rows carrying an actual 8-bit PNG payload — same
    * closed-form pixels as the BMP twin, so the same oracle formulas
    * apply; the per-row filter cycles 0-4, so every payload exercises
    * all five PNG unfilter paths (Sub/Up/Average/Paeth included);
    * odd ids are Adam7-INTERLACED (like the GIF fixture) so both scan
    * layouts sit on the oracle path; and d%3==2 ids are PALETTE-coded
    * (color type 3 — pixel-value-invariant, so the oracle again never
    * moves while the PLTE build/lookup and the bpp=1 filter offsets
    * ride the oracle path, crossed with both scan layouts). */
  def synthPngMedia(ids: DataFrame): DataFrame =
    synthMedia(ids, "image/png", Map("w" -> "16", "h" -> "12"))(
      d => Codecs.encodePng(Codecs.synthBmp(d), interlaced = d % 2 == 1,
        colorType = if (d % 3 == 2) 3 else 2))

  /** ids → media rows carrying a GRAYSCALE (color type 0) PNG: one
    * byte per pixel, v = (d + x + 11y) % 256 replicated to (v,v,v) on
    * decode — its own closed form since the RGB fixture isn't gray.
    * Interlace cycles like the color twin. */
  def synthPngGrayMedia(ids: DataFrame): DataFrame =
    synthMedia(ids, "image/png", Map("w" -> "16", "h" -> "12")) { d =>
      val px = Array.tabulate(12, 16) { (y, x) =>
        val v = ((d + x + 11 * y) % 256).toInt
        (v, v, v)
      }
      Codecs.encodePng(Codecs.Bmp(16, 12, px), interlaced = d % 2 == 1,
        colorType = 0)
    }

  /** ids → media rows carrying an actual RIFF/PCM16 WAV payload. */
  def synthWavMedia(ids: DataFrame): DataFrame =
    synthMedia(ids, "audio/wav", Map("sr" -> "8000", "n" -> "2000"))(
      d => Codecs.encodeWavPcm16(Codecs.synthWav(d)))

  private val bmpFeatureSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("width", IntegerType), StructField("height", IntegerType),
    StructField("sum_r", LongType), StructField("sum_g", LongType),
    StructField("sum_b", LongType),
    StructField("px32_r", IntegerType), StructField("px32_g", IntegerType),
    StructField("px32_b", IntegerType)))

  private def bmpFeatureRow(id: Long, img: Codecs.Bmp): Row = {
    var sr = 0L; var sg = 0L; var sb = 0L
    var y = 0
    while (y < img.height) {
      var x = 0
      while (x < img.width) {
        val (r, g, b) = img.pixels(y)(x); sr += r; sg += g; sb += b; x += 1
      }
      y += 1
    }
    val (pr, pg, pb) = img.pixels(2)(3)
    Row(id, img.width, img.height, sr, sg, sb, pr, pg, pb)
  }

  /** REAL image decode per partition: `decode` turns each payload into
    * pixels; the row carries dimensions, per-channel sums (exact
    * integers), and the pixel at (x=3, y=2) — the single-pixel probe
    * pins row order and channel byte order, which channel sums alone
    * cannot. Every image codec shares this row, so the closed-form
    * oracles are shared too. The decodes in use:
    *  - `Codecs.decodeBmp`: header parse + bottom-up pixel-grid walk;
    *  - `Codecs.decodePng`: chunk/CRC parse, zlib inflate, per-row
    *    unfilter;
    *  - `Codecs.decodeJpeg`: marker walk, Huffman entropy decode (with
    *    restarts), dequant, IDCT, fixed-point YCbCr→RGB;
    *  - `Codecs.decodeGif`: LZW + palette;
    *  - decode → nearest-neighbor resize → RE-ENCODE → decode again
    *    (BMP, PNG, and the JPEG → PNG transcode): features come off
    *    the second decode, so both codec directions sit on the oracle
    *    path at the reduced size. */
  def imageFeatures(df: DataFrame)(
      decode: Array[Byte] => Codecs.Bmp): DataFrame =
    PerDoc.walkMedia(df, bmpFeatureSchema) { (d, bytes) =>
      Iterator.single(bmpFeatureRow(d, decode(bytes)))
    }

  /** REAL WAV decode per partition: RIFF header parse + i16le
    * sign-extension. Features are exact integers (peak, a pinned
    * directional zero-crossing count, energy) so the closed-form
    * oracle compares bit-for-bit. */
  def decodeWavFeatures(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("n_samples", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("peak", IntegerType),
      StructField("zero_cross", LongType),
      StructField("sum_sq", LongType)))
    PerDoc.walkMedia(df, outSchema) { (d, bytes) =>
      val wav = Codecs.decodeWav(bytes)
      var peak = 0; var zc = 0L; var ss = 0L
      var i = 0
      while (i < wav.samples.length) {
        val s = wav.samples(i)
        if (math.abs(s) > peak) peak = math.abs(s)
        if (i > 0 && wav.samples(i - 1) < 0 && s >= 0) zc += 1
        ss += s.toLong * s
        i += 1
      }
      Iterator.single(Row(d, wav.samples.length, wav.sampleRate, peak, zc, ss))
    }
  }

  /** ids → media rows carrying a structurally real JPEG shell (SOI,
    * JFIF APP0, varying-length COM, DQT, SOF0/SOF2, SOS stub). */
  def synthJpegMedia(ids: DataFrame): DataFrame =
    synthMedia(ids, "image/jpeg", Map.empty)(Codecs.synthJpeg)

  /** REAL JPEG marker walk per partition — dims/components/progressive
    * without decoding the entropy stream: the "filter a 100 TB image
    * corpus by metadata before paying for decode" pass. */
  def jpegMetaFeatures(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("width", IntegerType), StructField("height", IntegerType),
      StructField("n_components", IntegerType),
      StructField("progressive", IntegerType)))
    PerDoc.walkMedia(df, outSchema) { (d, bytes) =>
      val m = Codecs.jpegMeta(bytes)
      Iterator.single(Row(d, m.width, m.height, m.nComponents,
        if (m.progressive) 1 else 0))
    }
  }

  /** ids → media rows carrying a REAL baseline JPEG (flat 8x8 blocks +
    * unit quant tables → decode is bit-exact; restart interval cycles
    * per id — see Codecs.synthBaselineJpeg). */
  def synthJpegImageMedia(ids: DataFrame): DataFrame =
    synthMedia(ids, "image/jpeg", Map.empty)(Codecs.synthBaselineJpeg)

  /** ids → media rows carrying a REAL 4:2:0 (2x2-subsampled) baseline
    * JPEG — the layout real-world color JPEGs overwhelmingly use. Luma
    * is constant per 16x16 MCU and chroma exactly constant per doc, so
    * full decode through the subsampled path is bit-exact (see
    * Codecs.synthJpegImage420). */
  def synthJpeg420Media(ids: DataFrame): DataFrame =
    synthMedia(ids, "image/jpeg", Map.empty)(Codecs.synthBaselineJpeg420)

  /** ids → media rows carrying a REAL 4:2:2 (2x1-subsampled) baseline
    * JPEG over the same MCU-flat constant-chroma family as the 4:2:0
    * fixture (see Codecs.synthBaselineJpeg422). */
  def synthJpeg422Media(ids: DataFrame): DataFrame =
    synthMedia(ids, "image/jpeg", Map.empty)(Codecs.synthBaselineJpeg422)

  /** ids → media rows carrying a REAL 4:1:1 (luma 4x1) baseline JPEG —
    * same constant-chroma family, 32x8 MCUs, replication upsample. */
  def synthJpeg411Media(ids: DataFrame): DataFrame =
    synthMedia(ids, "image/jpeg", Map.empty)(Codecs.synthBaselineJpeg411)

  /** ids → media rows carrying a REAL vertical-only (luma 1x2)
    * baseline JPEG — same family, 8x16 MCUs, vertical fancy upsample. */
  def synthJpegH1v2Media(ids: DataFrame): DataFrame =
    synthMedia(ids, "image/jpeg", Map.empty)(Codecs.synthBaselineJpegH1v2)

  /** ids → media rows carrying a REAL progressive (SOF2) JPEG of the
    * same closed-form flat-block images as the baseline fixture — DC
    * successive approximation + EOB-run AC scans (see
    * Codecs.synthProgressiveJpeg). */
  def synthProgressiveJpegMedia(ids: DataFrame): DataFrame =
    synthMedia(ids, "image/jpeg", Map.empty)(Codecs.synthProgressiveJpeg)

  /** ids → media rows carrying a structurally real ISO-BMFF metadata
    * shell (ftyp + varying free + moov{mvhd v0/v1, trak/tkhd}). */
  def synthMp4Media(ids: DataFrame): DataFrame =
    synthMedia(ids, "video/mp4", Map.empty)(Codecs.synthMp4)

  /** REAL ISO-BMFF box walk per partition — duration/dims/track
    * metadata without touching sample data. */
  def mp4MetaFeatures(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("timescale", IntegerType),
      StructField("duration_s", LongType),
      StructField("width", IntegerType), StructField("height", IntegerType),
      StructField("track_id", IntegerType),
      StructField("mvhd_version", IntegerType)))
    PerDoc.walkMedia(df, outSchema) { (d, bytes) =>
      val m = Codecs.mp4Meta(bytes)
      Iterator.single(Row(d, m.timescale, m.durationS, m.width, m.height,
        m.trackId, m.mvhdVersion))
    }
  }

  def synthAvcMedia(ids: DataFrame): DataFrame =
    synthMedia(ids, "video/h264", Map.empty)(d =>
      Codecs.synthAvcStream(d))

  /** REAL H.264 NAL walk per partition: framing detect (AVCC and
    * Annex-B), emulation-prevention unescape, Exp-Golomb SPS parse →
    * profile/level/dims — the filter-before-decode pass. */
  def avcNalFeatures(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("framing", StringType),
      StructField("n_nals", IntegerType),
      StructField("n_slices", IntegerType),
      StructField("profile_idc", IntegerType),
      StructField("level_idc", IntegerType),
      StructField("width", IntegerType), StructField("height", IntegerType),
      StructField("pps_rbsp_len", IntegerType)))
    PerDoc.walkMedia(df, outSchema) { (d, bytes) =>
      val m = Codecs.avcNalMeta(bytes)
      Iterator.single(Row(d, m.framing, m.nNals, m.nSlices, m.profileIdc,
        m.levelIdc, m.width, m.height, m.ppsRbspLen))
    }
  }

  def synthMp3Media(ids: DataFrame): DataFrame =
    synthMedia(ids, "audio/mpeg", Map.empty)(d => Codecs.synthMp3(d))

  /** MP3 frame-header walk per partition (Codecs.mp3Meta): ID3v2
    * syncsafe skip, sync/bitrate/samplerate/padding frame advance,
    * ID3v1 trailer — duration and bitrate with zero audio decode,
    * the audio filter-before-decode pass. */
  def mp3Features(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("id3v2_len", IntegerType),
      StructField("n_frames", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("mode", StringType),
      StructField("avg_kbps", IntegerType),
      StructField("frame_bytes", LongType),
      StructField("duration_ms", LongType),
      StructField("has_id3v1", IntegerType)))
    PerDoc.walkMedia(df, outSchema) { (d, bytes) =>
      val m = Codecs.mp3Meta(bytes)
      Iterator.single(Row(d, m.id3v2Len, m.nFrames, m.sampleRate, m.mode,
        m.avgKbps, m.frameBytes, m.durationMs, if (m.hasId3v1) 1 else 0))
    }
  }

  def synthMp4aMedia(ids: DataFrame): DataFrame =
    synthMedia(ids, "audio/mp4", Map.empty)(d => Codecs.synthMp4aMp4(d))

  /** stsd/mp4a/esds walk per partition (Codecs.mp4aMeta): descriptor
    * chain + AudioSpecificConfig with sample-entry cross-checks — the
    * audio twin of avccFeatures. */
  def mp4aFeatures(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("object_type", IntegerType),
      StructField("sr_index", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("channels", IntegerType),
      StructField("avg_bitrate", IntegerType),
      StructField("max_bitrate", IntegerType)))
    PerDoc.walkMedia(df, outSchema) { (d, bytes) =>
      val m = Codecs.mp4aMeta(bytes)
      Iterator.single(Row(d, m.objectType, m.srIndex, m.sampleRate, m.channels,
        m.avgBitrate, m.maxBitrate))
    }
  }

  def synthAvcMp4Media(ids: DataFrame): DataFrame =
    synthMedia(ids, "video/mp4", Map.empty)(d =>
      Codecs.synthAvcMp4(d))

  /** ids → media rows carrying an AVC-in-MP4 whose samples are REAL
    * length-prefixed IDR keyframes decodable under the avcC parameter
    * sets (Avc.synthIdrMp4). */
  def synthIdrMp4Media(ids: DataFrame): DataFrame =
    synthMedia(ids, "video/mp4", Map.empty)(d => Avc.synthIdrMp4(d))

  /** stsd/avc1/avcC walk per partition: the
    * AVCDecoderConfigurationRecord + SPS parse with record-vs-SPS and
    * avc1-vs-SPS cross-checks (Codecs.avccMeta). */
  def avccFeatures(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("n_sps", IntegerType),
      StructField("n_pps", IntegerType),
      StructField("nal_len_size", IntegerType),
      StructField("profile_idc", IntegerType),
      StructField("level_idc", IntegerType),
      StructField("width", IntegerType), StructField("height", IntegerType)))
    PerDoc.walkMedia(df, outSchema) { (d, bytes) =>
      val m = Codecs.avccMeta(bytes)
      Iterator.single(Row(d, m.nSps, m.nPps, m.nalLenSize, m.profileIdc,
        m.levelIdc, m.width, m.height))
    }
  }

  /** ids → media rows carrying a structurally real moov with full
    * trak/mdia/minf/stbl sample tables (stts/stsz/stco). */
  def synthMp4SamplesMedia(ids: DataFrame): DataFrame =
    synthMedia(ids, "video/mp4", Map.empty)(Codecs.synthMp4Samples)

  /** REAL sample-table walk per partition — sample count / byte volume
    * / duration ticks / chunk count without touching sample data: what
    * a frame-sampling pipeline reads to budget its decode pass. */
  def mp4SampleFeatures(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("n_samples", IntegerType),
      StructField("total_bytes", LongType),
      StructField("max_sample_bytes", IntegerType),
      StructField("duration_ticks", LongType),
      StructField("n_chunks", IntegerType)))
    PerDoc.walkMedia(df, outSchema) { (d, bytes) =>
      val m = Codecs.mp4Samples(bytes)
      Iterator.single(Row(d, m.nSamples, m.totalBytes, m.maxSampleBytes,
        m.durationTicks, m.nChunks))
    }
  }

  /** ids → media rows whose moov carries a REAL stsc (sample-to-chunk)
    * table: multi-sample chunks in an alternating doc-derived pattern,
    * run-compressed entries, contiguous chunk layout (see
    * Codecs.synthMp4Chunks). */
  def synthMp4ChunksMedia(ids: DataFrame): DataFrame =
    synthMedia(ids, "video/mp4", Map.empty)(Codecs.synthMp4Chunks)

  /** REAL sample→chunk→offset walk per partition: the stsc expansion
    * joined with stco/stsz (Codecs.mp4SampleLocations), fanned out to
    * one row per sample — the exact table a frame sampler consumes to
    * slice sample bytes out of a real multi-sample-chunk MP4. */
  def mp4SampleLocationFeatures(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("sample_idx", IntegerType),
      StructField("chunk_idx", IntegerType),
      StructField("offset", LongType),
      StructField("n_bytes", IntegerType)))
    PerDoc.walkMedia(df, outSchema) { (d, bytes) =>
      Codecs.mp4SampleLocations(bytes)
        .iterator.map(l =>
          Row(d, l.sampleIdx, l.chunkIdx, l.offset, l.size))
    }
  }

  /** ids → media rows carrying an MP4 WITH an actual mdat: samples at
    * real absolute file offsets, byte content closed-form per
    * (doc, sample, position) — see Codecs.synthMp4Data. */
  def synthMp4DataMedia(ids: DataFrame): DataFrame =
    synthMedia(ids, "video/mp4", Map.empty)(Codecs.synthMp4Data)

  /** ids → media rows carrying an MJPEG-in-MP4 whose samples are real
    * baseline JPEGs of the closed-form flat-block family. */
  def synthMjpegMp4Media(ids: DataFrame): DataFrame =
    synthMedia(ids, "video/mp4", Map.empty)(Codecs.synthMjpegMp4)

  /** REAL video-frame decode per partition: the sample walk + mdat
    * slice (llm_video_sample_bytes' machinery) COMPOSED with the JPEG
    * decoder — one row per frame with the same pixel features as the
    * image rows, plus the frame index. The per-partition batch loop is
    * the right 100 TB shape for byte codecs (embarrassingly parallel,
    * no shuffle; ~2k JPEG decodes/s/core measured). */
  def videoFrameFeatures(df: DataFrame): DataFrame = {
    val outSchema = StructType(
      StructField("id", LongType) +:
        StructField("frame_idx", IntegerType) +:
        bmpFeatureSchema.fields.toSeq.drop(1))
    PerDoc.walkMedia(df, outSchema) { (d, bytes) =>
      Codecs.decodeMjpegFrames(bytes).iterator.map { case (fi, bmp) =>
        Row.fromSeq(d +: fi +: bmpFeatureRow(d, bmp).toSeq.drop(1))
      }
    }
  }

  /** REAL sample-byte extraction per partition: the stsc/stco/stsz
    * location walk PLUS the actual mdat slice (containment-checked),
    * one row per sample with its unsigned byte sum — the operation a
    * frame sampler performs before handing bytes to a codec. */
  def mp4SampleByteFeatures(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("sample_idx", IntegerType),
      StructField("chunk_idx", IntegerType),
      StructField("data_offset", LongType),
      StructField("n_bytes", IntegerType),
      StructField("byte_sum", LongType)))
    PerDoc.walkMedia(df, outSchema) { (d, bytes) =>
      Codecs.mp4ExtractSamples(bytes)
        .iterator.map(s =>
          Row(d, s.sampleIdx, s.chunkIdx, s.dataOffset, s.size, s.byteSum))
    }
  }

  /** ids → media rows carrying a plain closed-form WARC file. */
  def synthWarcMedia(ids: DataFrame): DataFrame =
    synthMedia(ids, "application/warc", Map.empty)(Codecs.synthWarc)

  /** ids → media rows carrying the per-record-gzipped WARC form. */
  def synthWarcGzMedia(ids: DataFrame): DataFrame =
    synthMedia(ids, "application/warc", Map.empty)(Codecs.synthWarcGz)

  /** ids → media rows carrying a real GIF89a payload (LZW-compressed
    * paletted pixels; odd docs interlaced so both row orders sit on
    * the oracle path). */
  def synthGifMedia(ids: DataFrame): DataFrame =
    synthMedia(ids, "image/gif", Map.empty)(
      d => Codecs.encodeGif(Codecs.synthGif(d), interlaced = d % 2 == 1))

  /** ids → media rows carrying an animated GIF89a (shared palette,
    * NETSCAPE loop extension, per-frame GCE delays). */
  def synthGifAnimMedia(ids: DataFrame): DataFrame =
    synthMedia(ids, "image/gif", Map.empty) { d =>
      val (frames, delays) = Codecs.synthGifAnim(d)
      Codecs.encodeGifAnim(frames, delays)
    }

  private val gifFrameSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("frame_idx", IntegerType),
    StructField("delay_cs", IntegerType),
    StructField("sum_r", LongType),
    StructField("sum_g", LongType),
    StructField("sum_b", LongType)))

  /** Animated-GIF frame walk: one row per frame with its GCE delay
    * and channel sums — the frame-sampling primitive for the one
    * animated format the web ships. */
  def gifFrameFeatures(df: DataFrame): DataFrame =
    PerDoc.walkMedia(df, gifFrameSchema) { (d, bytes) =>
      Codecs.decodeGifFrames(bytes).zipWithIndex.iterator.map {
        case ((delay, bmp), f) =>
          var sr = 0L; var sg = 0L; var sb = 0L
          (0 until bmp.height).foreach { y =>
            (0 until bmp.width).foreach { x =>
              val (rr, gg, bb) = bmp.pixels(y)(x)
              sr += rr; sg += gg; sb += bb
            }
          }
          Row(d, f, delay, sr, sg, sb)
      }
    }

  /** ids → media rows: WARC whose response records are real HTTP
    * messages with HTML bodies (plain form). */
  def synthWarcWebMedia(ids: DataFrame): DataFrame =
    synthMedia(ids, "application/warc", Map.empty)(Codecs.synthWarcWeb)

  /** Per-record-gzipped form — the shipped Common Crawl layout. */
  def synthWarcWebGzMedia(ids: DataFrame): DataFrame =
    synthMedia(ids, "application/warc", Map.empty)(
      Codecs.synthWarcWebGz)

  private val webFeatureSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("rec_idx", IntegerType),
    StructField("uri", StringType),
    StructField("status", IntegerType),
    StructField("chunked", BooleanType),
    StructField("content_type", StringType),
    StructField("x_seq", IntegerType),
    StructField("body_len", IntegerType),
    StructField("title", StringType),
    StructField("n_links", IntegerType),
    StructField("first_link", StringType),
    StructField("n_words", IntegerType),
    StructField("text", StringType),
    StructField("links", ArrayType(StringType)),
    StructField("link_texts", ArrayType(StringType))))

  /** The full web-ingest chain, one partition-local pass: WARC record
    * walk (optionally per-record-gunzip) → keep `response` records →
    * HTTP message parse (Content-Length AND chunked bodies) → HTML
    * visible-text extraction. One row per response record. This is
    * the crawl-archive-to-documents primitive: pure per-document
    * compute, zero shuffle — the whole 100 TB input streams through
    * map tasks and only the (much smaller) extracted text moves on.
    */
  def webTextFeatures(df: DataFrame,
      gz: Boolean = false): DataFrame =
    PerDoc.walkMedia(df, webFeatureSchema) { (d, raw) =>
      val (plain, recs) =
        if (gz) Codecs.warcRecordsGz(raw)
        else (raw, Codecs.warcRecords(raw))
      recs.iterator.filter(_.recType == "response").map { rec =>
        val msg = java.util.Arrays.copyOfRange(
          plain, rec.payloadStart, rec.payloadStart + rec.contentLength)
        val http = Codecs.httpParse(msg)
        val html = new String(http.body, "UTF-8")
        val doc = Html.extract(html)
        Row(d, rec.recIdx, rec.targetUri, http.status,
          http.header("transfer-encoding").exists(
            _.equalsIgnoreCase("chunked")),
          http.header("content-type").getOrElse(""),
          http.header("x-seq").map(_.toInt).getOrElse(-1),
          http.body.length,
          doc.title, doc.links.length,
          if (doc.links.isEmpty) "" else doc.links.head,
          if (doc.text.isEmpty) 0 else doc.text.split(" ").length,
          doc.text, doc.links.toSeq, doc.linkTexts.toSeq)
      }
    }

  private val webMetaSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("rec_idx", IntegerType),
    StructField("og_title", StringType),
    StructField("og_image", StringType),
    StructField("twitter_card", StringType),
    StructField("n_og", IntegerType),
    StructField("n_twitter", IntegerType),
    StructField("n_ld", IntegerType),
    StructField("ld_type", StringType),
    StructField("ld_name", StringType),
    StructField("ld_position", LongType)))

  /** WARC walk + HTTP frame + Html.metadata per page — the
    * structured-data twin of webTextFeatures: OpenGraph/Twitter meta
    * (entity-decoded attribute values) and ld+json @type/name/position
    * as a per-page metadata row. Same pipeline shape, pure map work. */
  def webMetadataFeatures(df: DataFrame): DataFrame =
    PerDoc.walkMedia(df, webMetaSchema) { (d, raw) =>
      val recs = Codecs.warcRecords(raw)
      recs.iterator.filter(_.recType == "response").map { rec =>
        val msg = java.util.Arrays.copyOfRange(
          raw, rec.payloadStart, rec.payloadStart + rec.contentLength)
        val http = Codecs.httpParse(msg)
        val m = Html.metadata(new String(http.body, "UTF-8"))
        def first(kv: Array[(String, String)], k: String): String =
          kv.collectFirst { case (key, v) if key == k => v }.orNull
        Row(d, rec.recIdx,
          first(m.og, "title"), first(m.og, "image"),
          first(m.twitter, "card"),
          m.og.length, m.twitter.length, m.nLd,
          m.ldTypes.headOption.orNull, m.ldNames.headOption.orNull,
          m.ldPositions.headOption.map(Long.box).orNull)
      }
    }

  private val audioPipelineSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("kind", StringType),
    StructField("kept", IntegerType),
    StructField("dedup_key", StringType)))

  /** The audio twin of the image-curation pipeline: format dispatch
    * (mp3/flac/ogg by id), a per-format quality gate read from the
    * REAL walks — mp3 passes at mean bitrate >= 96 kbps (the lossy
    * quality dial), lossless FLAC always passes, Opus-in-Ogg passes
    * at >= 120 ms of audio — and a VORBIS_COMMENT title dedup key for
    * the FLAC files (the re-encode collapse). One map pass; the
    * declared query adds the single rollup shuffle. */
  def audioPipelineFeatures(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, audioPipelineSchema) { d =>
      val (kind, kept, key) = (d % 3) match {
        case 0 =>
          val m = Codecs.mp3Meta(Codecs.synthMp3(d))
          ("mp3", m.avgKbps >= 96, null: String)
        case 1 =>
          val m = graft.operators.Flac.meta(graft.operators.Flac.synth(d))
          ("flac", true, m.title)
        case _ =>
          val m = Ogg.parse(Ogg.synth(d))
          ("ogg", m.durationMs >= 120, null: String)
      }
      Iterator.single(Row(d, kind, if (kept) 1 else 0, key))
    }

  private val sitemapSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("entry_idx", IntegerType),
    StructField("loc", StringType),
    StructField("lastmod", DateType),
    StructField("changefreq", StringType),
    StructField("priority", DoubleType)))

  /** Per-site sitemap.xml walk (Sitemap.parse) over closed-form
    * fixtures — one row per <url> entry, pure map work. */
  def sitemapFeatures(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, sitemapSchema) { d =>
      Sitemap.parse(Sitemap.synth(d)).zipWithIndex.iterator.map {
        case (e, j) =>
          Row(d, j, e.loc, java.sql.Date.valueOf(e.lastmod),
            e.changefreq, e.priority)
      }
    }

  private val sitemapIndexSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("sitemap_idx", IntegerType),
    StructField("entry_idx", IntegerType),
    StructField("loc", StringType),
    StructField("priority", DoubleType)))

  /** TWO-LEVEL sitemap walk (Sitemap.parseIndex → per-child
    * Sitemap.parse): the full URL inventory behind a site's
    * sitemapindex. In a deployment each ref's loc is fetched; the
    * fixture derives child k's urlset id (1000·d + k) from the index
    * position, which the walk validates against the ref's loc. */
  def sitemapIndexFeatures(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, sitemapIndexSchema) { d =>
      Sitemap.parseIndex(Sitemap.synthIndex(d)).zipWithIndex.iterator
        .flatMap { case (ref, k) =>
          require(ref.loc == s"http://site$d.example/sm$k.xml",
            s"index ref $k points at unexpected child ${ref.loc}")
          val cid = 1000 * d + k
          Sitemap.parse(Sitemap.synth(cid)).zipWithIndex.iterator.map {
            case (e, j) => Row(d, k, j, e.loc, e.priority)
          }
        }
    }

  private val charsetSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("charset", StringType),
    StructField("n_chars", IntegerType),
    StructField("n_repl", IntegerType),
    StructField("text", StringType)))

  /** Id-driven FIXTURE feature generator (like sitemapFeatures): each
    * input row's id re-synthesizes its (charset, bytes) payload via
    * Codecs.synthEncodedText, then runs the real charset-dispatch
    * decode — strict UTF-8 validation with replacement counts, 1:1
    * ISO-8859-1. It does NOT read charset/bytes from the input row;
    * real media rows go through Codecs.decodeCharset directly. */
  def charsetDecodeFeatures(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, charsetSchema) { d =>
      val (cs, bytes) = Codecs.synthEncodedText(d)
      val (text, repl) = Codecs.decodeCharset(bytes, cs)
      Iterator.single(Row(d, cs, text.codePointCount(0, text.length), repl,
        text))
    }

  /** BOM-dispatch decode over the synthBomText fixture: the transport
    * always declares UTF-8; the decoder must let a UTF-16 BOM win
    * (the WHATWG sniffing rule). Emits the charset ACTUALLY used. */
  def bomDecodeFeatures(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, charsetSchema) { d =>
      val (cs, text, repl) =
        Codecs.decodeWithBom(Codecs.synthBomText(d), "UTF-8")
      Iterator.single(Row(d, cs, text.codePointCount(0, text.length), repl,
        text))
    }

  private val mainContentSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("n_blocks", IntegerType),
    StructField("n_content", IntegerType),
    StructField("n_words_main", IntegerType),
    StructField("main_text", StringType)))

  /** Boilerplate removal over synthetic closed-form pages: segment
    * into blocks (Html.blocks), keep content blocks under the jusText
    * rule, join their text. Pure per-row compute — zero shuffle. */
  def mainContentFeatures(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, mainContentSchema) { d =>
      val bs = Html.blocks(Codecs.synthWebPage(d))
      val content = bs.filter(_.isContent)
      val mainText = content.map(_.text).mkString(" ")
      Iterator.single(Row(d, bs.length, content.length,
        content.map(_.nWords).sum, mainText))
    }

  private val warcFeatureSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("rec_idx", IntegerType),
    StructField("rec_type", StringType),
    StructField("uri", StringType),
    StructField("content_length", IntegerType),
    StructField("byte_sum", LongType)))

  /** REAL WARC record walk per partition — record framing, header
    * parse, payload checksum; `gz = true` inflates the concatenated
    * per-record gzip members first (the Common Crawl layout). One row
    * per record: the ingest-side primitive every web-corpus curation
    * pipeline starts with. */
  def warcRecordFeatures(df: DataFrame,
      gz: Boolean = false): DataFrame =
    PerDoc.walkMedia(df, warcFeatureSchema) { (d, raw) =>
      val (plain, recs) =
        if (gz) Codecs.warcRecordsGz(raw)
        else (raw, Codecs.warcRecords(raw))
      recs.iterator.map { rec =>
        var sum = 0L
        var j = 0
        while (j < rec.contentLength) {
          sum += plain(rec.payloadStart + j) & 0xff; j += 1
        }
        Row(d, rec.recIdx, rec.recType, rec.targetUri,
          rec.contentLength, sum)
      }
    }

  /** ids → media rows carrying a real ustar archive (3-7 members,
    * every 4th a directory, verified checksums). */
  def synthTarMedia(ids: DataFrame): DataFrame =
    synthMedia(ids, "application/x-tar", Map.empty)(Codecs.synthTar)

  /** ustar header walk per partition (Codecs.tarEntries), one output
    * row per member: checksum-verified headers, octal size/mtime, and
    * a payload byte-sum proving the data offsets — the archive-listing
    * pre-pass that decides what to extract at all. */
  def tarEntryFeatures(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("entry_idx", IntegerType),
      StructField("name", StringType),
      StructField("kind", StringType),
      StructField("size", LongType),
      StructField("mtime", LongType),
      StructField("payload_sum", LongType)))
    PerDoc.walkMedia(df, outSchema) { (d, bytes) =>
      Codecs.tarEntries(bytes).iterator.map {
        e => Row(d, e.idx, e.name, e.typeflag, e.size, e.mtime,
          e.payloadSum)
      }
    }
  }

  /** ids → media rows carrying a real ustar whose members are ASCII
    * text documents (the archives-as-corpus fixture). */
  def synthTarDocsMedia(ids: DataFrame): DataFrame =
    synthMedia(ids, "application/x-tar", Map.empty)(
      Codecs.synthTarDocs)

  /** Extract every regular-file member's payload as text, one row per
    * member: (id, entry_idx, name, text). Extraction is the ONLY work
    * done here (partition-local, sharing the listing walk's checksum/
    * bounds verification) — tokenization and any analysis compose on
    * top as ordinary Column expressions, so the optimizer sees them. */
  def tarTextMembers(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("entry_idx", IntegerType),
      StructField("name", StringType),
      StructField("text", StringType)))
    PerDoc.walkMedia(df, outSchema) { (d, bytes) =>
      Codecs.tarExtract(bytes).iterator
        .filter(_._1.typeflag == "file").map { case (e, body) =>
          Row(d, e.idx, e.name, new String(body, "US-ASCII"))
        }
    }
  }

  /** ids → media rows carrying a real ZIP (stored + deflated members,
    * EOCD comment so the backward scan is exercised). */
  def synthZipMedia(ids: DataFrame): DataFrame =
    synthMedia(ids, "application/zip", Map.empty)(Codecs.synthZip)

  /** ids → media rows carrying a "zip64-always" ZIP: every count,
    * size, and offset at its marker ceiling with the true values in
    * 0x0001 extras + the Zip64 EOCD record/locator chain. */
  def synthZip64Media(ids: DataFrame): DataFrame =
    synthMedia(ids, "application/zip", Map.empty)(Codecs.synthZip64)

  /** ZIP central-directory walk per partition (Codecs.zipEntries), one
    * output row per member — every member's local header is
    * cross-validated and its payload integrity-checked (stored: CRC32;
    * deflated: raw-inflate + length + CRC), so a green hash here means
    * every archive byte was actually verified. */
  def zipEntryFeatures(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("entry_idx", IntegerType),
      StructField("name", StringType),
      StructField("method", StringType),
      StructField("usize", LongType)))
    PerDoc.walkMedia(df, outSchema) { (d, bytes) =>
      Codecs.zipEntries(bytes).iterator.map {
        e => Row(d, e.idx, e.name, e.method, e.usize)
      }
    }
  }

  /** Per-partition batched decode: one "codec" per partition, rows
    * streamed through it. Output schema: id, mime, n_bytes, features. */
  def decode(df: DataFrame, idCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("mime", StringType),
      StructField("n_bytes", IntegerType),
      StructField("features", ArrayType(FloatType))))
    val idIdx = df.schema.fieldIndex(idCol)
    val mediaIdx = df.schema.fieldIndex("media")
    PerDoc.rows(df, outSchema) { r =>
      val media = r.getStruct(mediaIdx)
      val bytes = media.getAs[Array[Byte]]("bytes")
      Iterator.single(Row(
        r.getLong(idIdx),
        media.getAs[String]("mime"),
        if (bytes == null) 0 else bytes.length,
        stubDecodeFeatures(bytes).toSeq))
    }
  }

  // ------------------------------------------------------------------
  // Mixed-format document dispatch — the production first-mile shape:
  // a crawl yields MIXED content types, and the extraction pass
  // dispatches each payload to its format's extractor in ONE
  // partition-local pass, emitting a uniform (text, n_words) row that
  // everything downstream (dedup, quality, tokenize) consumes without
  // caring where the text came from.
  // ------------------------------------------------------------------

  /** ids → media rows whose payload/mime CYCLE by id%3: a real HTML
    * page (text/html), a markdown document (text/markdown), or a PDF
    * (application/pdf) — each the same closed-form fixture its
    * dedicated query family uses, so the dispatch oracle reuses those
    * closed forms verbatim. */
  def synthMixedDocsMedia(ids: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType), StructField("media", mediaType)))
    PerDoc.walk(ids, outSchema) { d =>
      val (bytes, mime) = (d % 3) match {
        case 0 => (Codecs.synthHtml(d, 1).getBytes("UTF-8"), "text/html")
        case 1 => (Markdown.synthMd(d).getBytes("UTF-8"), "text/markdown")
        case _ => (Pdf.synthPdf(d), "application/pdf")
      }
      Iterator.single(Row(d, Row(bytes, mime, Map.empty[String, String])))
    }
  }

  /** Dispatch each media row on its DECLARED mime to the matching
    * extractor (Html / Markdown / Pdf) — genuinely reading bytes+mime
    * from the row, so it runs on any media frame carrying these three
    * types; an undeclared mime fails loudly rather than guessing. */
  def docDispatchFeatures(df: DataFrame, idCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("format", StringType),
      StructField("text", StringType),
      StructField("n_words", IntegerType)))
    val idIdx = df.schema.fieldIndex(idCol)
    val mediaIdx = df.schema.fieldIndex("media")
    PerDoc.rows(df, outSchema) { r =>
      val media = r.getStruct(mediaIdx)
      val bytes = media.getAs[Array[Byte]]("bytes")
      val (fmt, text) = media.getAs[String]("mime") match {
        case "text/html" =>
          ("html", Html.extract(new String(bytes, "UTF-8")).text)
        case "text/markdown" =>
          ("markdown", Markdown.extract(new String(bytes, "UTF-8")).text)
        case "application/pdf" =>
          ("pdf", Pdf.extract(bytes).text)
        case other =>
          throw new IllegalArgumentException(s"no extractor for mime '$other'")
      }
      val nWords = if (text.isEmpty) 0 else text.split(" ").length
      Iterator.single(Row(r.getLong(idIdx), fmt, text, nWords))
    }
  }
}
