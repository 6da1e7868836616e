package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** WebM (Matroska subset) container walk — the EBML element walk the
  * media inventory was missing beside the ISO-BMFF (Fmp4/Multimodal),
  * RIFF (Webp), and Ogg walks: a crawl's video is .webm as often as
  * .mp4 (VERDICT r15 #2).
  *
  * From the PUBLIC specs only: EBML (RFC 8794 — variable-length
  * element ids and sizes), the Matroska/WebM element vocabulary
  * (Segment → Info/Tracks/Cluster, SimpleBlock framing), RFC 6386
  * (VP8 key-frame header — decoded by the SHARED Webp bool decoder),
  * and RFC 6716/7845 (Opus TOC + OpusHead — the SHARED Ogg parsers).
  *
  * What the walk proves, per stream:
  *  - EBML structure: id vints (1-4 bytes), size vints (1-8 bytes,
  *    all-ones "unknown size" rejected by name), children must fill
  *    their parent EXACTLY (a element overrunning or underrunning its
  *    parent is a named failure, never a silent resync);
  *  - unknown elements (SegmentUID, Void, …) are skipped BY SIZE —
  *    the forward-compatibility rule EBML exists for;
  *  - the DECLARED track geometry is cross-checked against every
  *    video payload: each SimpleBlock's VP8 or VP9 key-frame header
  *    is decoded and its dims must equal the TrackEntry's
  *    PixelWidth/Height — a lying muxer fails loudly (the
  *    tfdt-ledger discipline from the fMP4 walk);
  *  - the SimpleBlock keyframe flag must agree with the VP8 frame
  *    tag's key bit in BOTH directions;
  *  - Info.Duration (in timestamp-scale ticks) must equal the video
  *    ledger recomputed from the blocks (+ one 40 ms frame);
  *  - Opus blocks: TOC parsed per packet (Ogg.tocInfo — mode, stereo,
  *    frame count), CodecPrivate's OpusHead channel count must equal
  *    the Audio element's Channels;
  *  - per-track timestamps (cluster base + signed 16-bit relative)
  *    are strictly monotone.
  *
  * Blocks are UN-LACED on BOTH track types: all three Matroska
  * lacing schemes (Xiph 255-run sizes, fixed-size equal split, EBML
  * vint + signed delta vints) plus the unlaced form — lace counts up
  * to the format's own 256-frame bound — every laced audio frame's
  * Opus TOC parsed individually, and (since r18, VERDICT r17 #5)
  * every laced VIDEO frame dispatched through the full per-codec
  * checks, each frame's type bit cross-checked against the block's
  * keyness (Matroska's flag covers the whole block). Video tracks
  * dispatch per codec: V_VP8 via the shared RFC 6386 bool decoder,
  * V_VP9 via the bit-level uncompressed key-frame header parse
  * (public VP9 bitstream spec) — both cross-checked against the
  * declared track dims.
  *
  * Blocks ride BOTH Matroska framings: SimpleBlock (keyness in the
  * flags byte) and BlockGroup → Block, where keyness is signaled by
  * the ABSENCE of ReferenceBlock — the framing real muxers use for
  * frames needing BlockDuration or reference info. A BlockGroup's
  * declared BlockDuration (when present) replaces the default frame
  * duration in the video ledger, its children may appear in any
  * order, unknown group children are skipped by size, and a
  * ReferenceBlock-marked (non-key) block's frame tag must AGREE it is
  * an inter frame — whose header layout past the frame tag is the
  * codec boundary below.
  *
  * The seek indexes are PARSED and cross-checked, not skipped:
  * SeekHead entries (SeekID/SeekPosition) must point at the
  * segment-relative offsets the indexed elements were actually walked
  * at, and every Cues CuePoint must name a declared track, point at a
  * real cluster, and carry that cluster's exact timestamp — a lying
  * seek index fails loudly (the tfdt-ledger discipline applied to
  * seeking). Seek targets outside the walked set pass through by the
  * forward-compatibility rule.
  *
  * Unknown-size masters parse where RFC 8794 sanctions them and live
  * muxers need them: an unknown-size SEGMENT ends at EOF and an
  * unknown-size CLUSTER at the next top-level id (the termination
  * rule) — the MediaRecorder-style layout a crawl's live-recorded
  * WebM actually carries; the fixture rotates whole documents through
  * that framing. Unknown size anywhere ELSE is rejected by name.
  *
  * Subset boundary (documented, loud): LACED VIDEO blocks (WebM video
  * is one frame per block), unknown-size non-masters, and frame
  * PAYLOAD decode beyond the key-frame headers and the Opus TOC —
  * inter-frame/arithmetic-coded decode stays the codec boundary every
  * round re-affirms. All four VP9 profiles and the RGB color space
  * parse (per-profile color_config layouts, reserved bits checked);
  * an RGB header on a 4:2:0 profile is rejected as the spec
  * violation it is.
  *
  * Bomb guards (the r15 habit, in the same commit as the decoder):
  * id/size vint lengths are hard-capped, every declared size is
  * containment-checked against its parent before descent, nesting
  * depth is bounded, and element counts per parent are capped so a
  * crafted file cannot loop the walk.
  */
object Webm {

  // ------------------------------------------------------------ ids
  private val IdEbml = 0x1A45DFA3L
  private val IdDocType = 0x4282L
  private val IdDocTypeVersion = 0x4287L
  private val IdDocTypeReadVersion = 0x4285L
  private val IdSegment = 0x18538067L
  private val IdInfo = 0x1549A966L
  private val IdTimestampScale = 0x2AD7B1L
  private val IdDuration = 0x4489L
  private val IdMuxingApp = 0x4D80L
  private val IdWritingApp = 0x5741L
  private val IdTracks = 0x1654AE6BL
  private val IdTrackEntry = 0xAEL
  private val IdTrackNumber = 0xD7L
  private val IdTrackUid = 0x73C5L
  private val IdTrackType = 0x83L
  private val IdCodecId = 0x86L
  private val IdCodecPrivate = 0x63A2L
  private val IdVideo = 0xE0L
  private val IdPixelWidth = 0xB0L
  private val IdPixelHeight = 0xBAL
  private val IdAudio = 0xE1L
  private val IdSamplingFrequency = 0xB5L
  private val IdChannels = 0x9FL
  private val IdCluster = 0x1F43B675L
  private val IdClusterTimestamp = 0xE7L
  private val IdSimpleBlock = 0xA3L
  private val IdBlockGroup = 0xA0L
  private val IdBlock = 0xA1L
  private val IdBlockDuration = 0x9BL
  private val IdReferenceBlock = 0xFBL
  private val IdSeekHead = 0x114D9B74L
  private val IdSeek = 0x4DBBL
  private val IdSeekId = 0x53ABL
  private val IdSeekPosition = 0x53ACL
  private val IdCues = 0x1C53BB6BL
  private val IdCuePoint = 0xBBL
  private val IdCueTime = 0xB3L
  private val IdCueTrackPositions = 0xB7L
  private val IdCueTrack = 0xF7L
  private val IdCueClusterPosition = 0xF1L
  private val IdVoid = 0xECL
  private val IdSegmentUid = 0x73A4L // known Matroska, OUTSIDE the walk

  private val MaxChildren = 1 << 16 // per-parent element-count bomb cap

  // ------------------------------------------------------ EBML write

  private final class W {
    val out = new java.io.ByteArrayOutputStream(4096)
    def idBytes(id: Long): Array[Byte] = {
      val n = if (id <= 0xFFL) 1 else if (id <= 0xFFFFL) 2
        else if (id <= 0xFFFFFFL) 3 else 4
      Array.tabulate(n)(i => ((id >> (8 * (n - 1 - i))) & 0xff).toByte)
    }
    /** Size vint: minimal length whose capacity holds v, avoiding the
      * all-ones (unknown-size) pattern. */
    def sizeBytes(v: Long): Array[Byte] = {
      require(v >= 0, s"negative EBML size $v")
      var n = 1
      while (n <= 8 && v >= (1L << (7 * n)) - 1) n += 1
      require(n <= 8, s"EBML size $v too large")
      val marked = v | (1L << (7 * n))
      Array.tabulate(n)(i => ((marked >> (8 * (n - 1 - i))) & 0xff).toByte)
    }
    def element(id: Long, payload: Array[Byte]): Unit = {
      out.write(idBytes(id)); out.write(sizeBytes(payload.length.toLong))
      out.write(payload, 0, payload.length)
    }
    def uintPayload(v: Long): Array[Byte] = {
      require(v >= 0, s"negative EBML uint $v")
      var n = 1
      while (n < 8 && (v >> (8 * n)) != 0) n += 1
      Array.tabulate(n)(i => ((v >> (8 * (n - 1 - i))) & 0xff).toByte)
    }
    def uint(id: Long, v: Long): Unit = element(id, uintPayload(v))
    def float64(id: Long, v: Double): Unit = {
      val bits = java.lang.Double.doubleToLongBits(v)
      element(id, Array.tabulate(8)(i =>
        ((bits >> (8 * (7 - i))) & 0xff).toByte))
    }
    def str(id: Long, s: String): Unit =
      element(id, s.getBytes("US-ASCII"))
  }

  private def wrap(id: Long, body: W => Unit): Array[Byte] = {
    val w = new W; body(w)
    val o = new W
    o.element(id, w.out.toByteArray)
    o.out.toByteArray
  }

  /** Like wrap, but with the RFC 8794 all-ones UNKNOWN size vint —
    * the live-muxer framing for masters whose size is not known when
    * the header is written (fixture side of `unsized`). */
  private def wrapUnknown(id: Long, body: W => Unit): Array[Byte] = {
    val w = new W; body(w)
    val o = new java.io.ByteArrayOutputStream()
    val idb = w.idBytes(id)
    o.write(idb, 0, idb.length)
    o.write(0xFF) // 1-byte unknown size
    val p = w.out.toByteArray
    o.write(p, 0, p.length)
    o.toByteArray
  }

  // -------------------------------------------------- closed forms

  def tickNs(d: Long): Long = if (d % 2 == 0) 1000000L else 500000L
  def hasAudio(d: Long): Boolean = d % 3 != 2
  def nClusters(d: Long): Int = (2 + d % 3).toInt
  def nVideo(d: Long, c: Int): Int = (1 + (d + c) % 2).toInt
  def nAudio(d: Long, c: Int): Int =
    if (hasAudio(d)) (1 + (d + c) % 3).toInt else 0
  def videoW(d: Long): Int = (320 + d % 33).toInt
  def videoH(d: Long): Int = (240 + d % 25).toInt
  def opusChannels(d: Long): Int = (1 + (d / 2) % 2).toInt
  def durationMs(d: Long): Long = {
    val nc = nClusters(d)
    val lastK = nVideo(d, nc - 1) - 1
    400L * (nc - 1) + 40L * lastK +
      40L * videoFramesInBlock(d, nc - 1, lastK)
  }
  private def msToTicks(d: Long, ms: Long): Long = ms * 1000000L / tickNs(d)

  /** EBML signed vint (lace-size deltas): value + (2^(7·len−1) − 1)
    * stored in the smallest vint that holds it — the exact inverse of
    * the walk's signed lace-size reader. */
  private def svintBytes(v: Long): Array[Byte] = {
    var n = 1
    while (n <= 8 && (v < -((1L << (7 * n - 1)) - 1) ||
      v > (1L << (7 * n - 1)) - 1)) n += 1
    require(n <= 8, s"signed lace delta $v too large")
    val stored = (v + ((1L << (7 * n - 1)) - 1)) | (1L << (7 * n))
    Array.tabulate(n)(i => ((stored >> (8 * (n - 1 - i))) & 0xff).toByte)
  }

  /** The 20 ms one-frame Opus TOC configs the fixture rotates through
    * (RFC 6716 §3.1): SILK / Hybrid / CELT. */
  private val TocCfg = Array(1, 13, 19)

  /** Which blocks ride a BlockGroup instead of a SimpleBlock — half
    * the video blocks and a third of the audio blocks, so BOTH
    * framings are on every doc's oracle row (VERDICT r16 #2). */
  def videoOnGroup(d: Long, c: Int, k: Int): Boolean = (d + c + k) % 2 == 0
  def audioOnGroup(d: Long, c: Int, k: Int): Boolean = (d + c + k) % 3 == 0

  /** Docs written the way a LIVE muxer writes them: unknown-size
    * Segment (ends at EOF) and unknown-size Clusters (each ended by
    * the next top-level id) — the MediaRecorder-style layout. */
  def unsized(d: Long): Boolean = d % 7 == 3

  /** Laced-VIDEO document class (VERDICT r17 #5): every video block
    * of these docs carries a lace of KEY frames — Xiph on even k,
    * EBML on odd — each frame dispatched through the full VP8/VP9
    * key-frame checks. Rare in real muxers (lacing is an audio
    * feature) but format-legal; the class is disjoint from nothing
    * else — it composes with VP8/VP9, group/simple framing, and the
    * unsized layout. */
  def videoLaced(d: Long): Boolean = d % 7 == 4
  def videoFramesInBlock(d: Long, c: Int, k: Int): Int =
    if (videoLaced(d)) (2 + (d + c + k) % 2).toInt else 1
  /** Video lace bits (block flags): 0x02 Xiph, 0x06 EBML. */
  def videoLaceBits(d: Long, c: Int, k: Int): Int =
    if (!videoLaced(d)) 0 else if (k % 2 == 0) 0x02 else 0x06
  /** Per-frame header seed; f = 0 reproduces the unlaced seed, so
    * every non-laced doc's bytes are unchanged. */
  def videoFrameSeed(d: Long, c: Int, k: Int, f: Int): Long =
    d + 13L * c + 7L * k + 31L * f

  /** Lacing scheme per audio block: 0 none, 1 Xiph, 2 fixed-size,
    * 3 EBML — all three Matroska schemes ride the oracle. */
  def laceMode(d: Long, c: Int, k: Int): Int = ((d + c + k) % 4).toInt
  def framesInBlock(d: Long, c: Int, k: Int): Int =
    Seq(1, 2, 2, 3)(laceMode(d, c, k))
  /** Total frame length (TOC byte included); fixed lacing keeps all
    * frames equal, EBML varies them so the signed deltas are real. */
  def audioFrameLen(d: Long, c: Int, k: Int, f: Int): Int =
    laceMode(d, c, k) match {
      case 0 => (10 + (d + k) % 20).toInt
      case 1 => (8 + (d + k + 3 * f) % 12).toInt
      case 2 => (9 + (d + k) % 10).toInt
      case _ =>
        val s0 = (10 + (d + k) % 10).toInt
        val d1 = ((d + k) % 7).toInt - 3
        val d2 = ((d + c) % 5).toInt - 2
        f match {
          case 0 => s0
          case 1 => s0 + d1
          case _ => s0 + d1 + d2
        }
    }

  // -------------------------------------------------- VP9 key frame

  /** Which docs carry a VP9 video track (the codec most real WebM
    * ships) instead of VP8. */
  def isVp9(d: Long): Boolean = d % 5 >= 3

  final case class Vp9Header(profile: Int, bitDepth: Int,
      colorSpace: Int, width: Int, height: Int)

  /** Per-block VP9 header signature the oracle recomputes — proof the
    * bit parse ran on every block. All FOUR profiles rotate (profile 3
    * carries the extra reserved bit and the 10/12-bit depth field),
    * and odd-profile blocks on s%7==0 use the RGB color space (legal
    * only on 4:4:4 profiles — the layout drops the color_range bit). */
  def vp9Sig(s: Long): Long = {
    val profile = (s % 4).toInt
    val depth = if (profile >= 2) 10 + 2 * (s % 2).toInt else 8
    val cs = if (profile % 2 == 1 && s % 7 == 0) 7 else 1 + (s % 5).toInt
    profile * 1000L + depth * 10L + cs
  }

  /** A VP9 KEY-frame uncompressed header (public VP9 bitstream spec
    * §6.2 + §6.1.2 color_config): frame marker, profile bits (all
    * FOUR profiles — profile 3 carries its extra reserved bit), sync
    * code, color config in the per-profile layout incl. the RGB
    * branch (no color_range bit; 4:4:4 profiles only), frame size —
    * dims keyed on `dimSeed`, the rest on `hdrSeed`; padded with
    * filler modeling coded data. */
  def synthVp9Frame(dimSeed: Long, hdrSeed: Long): Array[Byte] = {
    val w = new Bin.MsbWriter
    val profile = (hdrSeed % 4).toInt
    w.u(2, 2)                       // frame_marker 0b10
    w.u(profile & 1, 1)             // profile_low_bit
    w.u((profile >> 1) & 1, 1)      // profile_high_bit
    if (profile == 3) w.u(0, 1)     // reserved_zero
    w.u(0, 1)                       // show_existing_frame
    w.u(0, 1)                       // frame_type: KEY
    w.u(1, 1)                       // show_frame
    w.u((hdrSeed % 2).toInt, 1)     // error_resilient_mode
    w.u(0x49, 8); w.u(0x83, 8); w.u(0x42, 8) // frame_sync_code
    if (profile >= 2) w.u((hdrSeed % 2).toInt, 1) // ten_or_twelve_bit
    val cs = if (profile % 2 == 1 && hdrSeed % 7 == 0) 7
      else 1 + (hdrSeed % 5).toInt
    w.u(cs, 3)                      // color_space (RGB on 4:4:4 only)
    if (cs != 7) {
      w.u((hdrSeed % 2).toInt, 1)   // color_range
      if (profile % 2 == 1) { w.u(0, 1); w.u(0, 1); w.u(0, 1) } // ss+rsvd
    } else {
      // RGB: color_range implied FULL; 4:4:4 implied; profile 1/3
      // carry one reserved_zero bit
      w.u(0, 1)
    }
    w.u((320 + dimSeed % 33).toInt - 1, 16) // frame_width_minus_1
    w.u((240 + dimSeed % 25).toInt - 1, 16) // frame_height_minus_1
    w.u(0, 1)                       // render_and_frame_size_different
    val hdr = w.toBytes
    val pad = Array.tabulate((40 + hdrSeed % 30).toInt)(i =>
      ((11 * hdrSeed + i) % 256).toByte)
    hdr ++ pad
  }

  /** Parse the VP9 key-frame header — the exact mirror of the synth,
    * loud on non-key frames, a bad sync code, set reserved bits, or an
    * RGB color space on a non-4:4:4 profile (profile 0/2 RGB is
    * illegal per the spec's color_config). */
  def parseVp9Header(payload: Array[Byte]): Vp9Header = {
    val r = new Bin.MsbReader(payload, "webm: VP9 header")
    require(r.u(2) == 2, "webm: VP9 frame marker is not 0b10")
    val profile = r.u(1) | (r.u(1) << 1)
    if (profile == 3)
      require(r.u(1) == 0, "webm: VP9 profile-3 reserved bit set")
    require(r.u(1) == 0,
      "webm: show_existing_frame VP9 blocks carry no header to parse")
    require(r.u(1) == 0, "webm: non-key VP9 frame in a key SimpleBlock")
    r.u(1) // show_frame
    r.u(1) // error_resilient_mode
    require(r.u(8) == 0x49 && r.u(8) == 0x83 && r.u(8) == 0x42,
      "webm: VP9 key frame lacks its sync code")
    val depth = if (profile >= 2) 10 + 2 * r.u(1) else 8
    val cs = r.u(3)
    if (cs != 7) {
      r.u(1) // color_range
      if (profile % 2 == 1) {
        r.u(1); r.u(1)
        require(r.u(1) == 0, "webm: reserved VP9 subsampling bit set")
      }
    } else {
      // CS_RGB: color_range implied full, 4:4:4 implied — legal only
      // on the 4:4:4-capable odd profiles
      require(profile % 2 == 1,
        s"webm: VP9 RGB color space on profile $profile (4:2:0) is " +
          "illegal — profiles 1/3 only")
      require(r.u(1) == 0, "webm: reserved VP9 RGB bit set")
    }
    val w = r.u(16) + 1
    val h = r.u(16) + 1
    r.u(1) // render_and_frame_size_different
    Vp9Header(profile, depth, cs, w, h)
  }

  // ------------------------------------------------------- fixture

  /** Closed-form WebM stream for id d: EBML header, Info (timestamp
    * scale by d%2, Duration = the video ledger), Tracks (VP8 video,
    * plus an Opus track with a real OpusHead CodecPrivate on d%3!=2),
    * a Void element and an out-of-subset SegmentUID the walk must
    * skip by size, then 2+d%3 Clusters of blocks: each video
    * block a REAL VP8 key frame (shared Webp encoder — dims pinned by
    * the track, bool-coded header rotating per block), each audio
    * block a real Opus TOC + filler. Blocks rotate between the
    * SimpleBlock and BlockGroup framings (videoOnGroup/audioOnGroup);
    * grouped blocks carry a BlockDuration whose child order itself
    * rotates. A SeekHead opens the segment (fixed-width 8-byte
    * SeekPositions so its own size never shifts what it points at)
    * indexing Info/Tracks/Cues, and a Cues element closes it with one
    * CuePoint per cluster — both cross-checked against the walked
    * offsets. `forceSimple` (spec-only) pins every block to the
    * SimpleBlock framing so WebmSpec can assert framing parity. */
  def synth(d: Long): Array[Byte] = synth(d, forceSimple = false)

  private[graft] def synth(d: Long, forceSimple: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(8192)
    out.write(wrap(IdEbml, { w =>
      w.uint(0x4286L, 1) // EBMLVersion
      w.uint(0x42F7L, 1) // EBMLReadVersion
      w.uint(0x42F2L, 4) // EBMLMaxIDLength
      w.uint(0x42F3L, 8) // EBMLMaxSizeLength
      w.str(IdDocType, "webm")
      w.uint(IdDocTypeVersion, 4)
      w.uint(IdDocTypeReadVersion, 2)
    }))
    // the post-SeekHead segment body builds first so every element's
    // segment-relative offset is known; the SeekHead layout below is
    // CONSTANT-size (8-byte SeekPositions), so offsets = 68 + body pos
    val seekHeadSize = 4 + 1 + 3 * 21
    val body = new W
    def bodyOff: Long = seekHeadSize + body.out.size()
    val infoOff = bodyOff
    val seg = body
    // Info
    seg.out.write(wrap(IdInfo, { w =>
      w.uint(IdTimestampScale, tickNs(d))
      // SegmentUID: known Matroska, outside the walk subset — the
      // walk must skip it by size
      w.element(IdSegmentUid,
        Array.tabulate(16)(i => ((d * 31 + i) % 256).toByte))
      w.float64(IdDuration, msToTicks(d, durationMs(d)).toDouble)
      w.str(IdMuxingApp, "graft")
      w.str(IdWritingApp, s"graft-${d % 7}")
    }))
    // Tracks
    val tracksOff = bodyOff
    seg.out.write(wrap(IdTracks, { w =>
      w.out.write(wrap(IdTrackEntry, { t =>
        t.uint(IdTrackNumber, 1)
        t.uint(IdTrackUid, 1 + (d % 1000))
        t.uint(IdTrackType, 1) // video
        t.str(IdCodecId, if (isVp9(d)) "V_VP9" else "V_VP8")
        t.out.write(wrap(IdVideo, { v =>
          v.uint(IdPixelWidth, videoW(d))
          v.uint(IdPixelHeight, videoH(d))
        }))
      }))
      if (hasAudio(d)) {
        w.out.write(wrap(IdTrackEntry, { t =>
          t.uint(IdTrackNumber, 2)
          t.uint(IdTrackUid, 2000 + (d % 1000))
          t.uint(IdTrackType, 2) // audio
          t.str(IdCodecId, "A_OPUS")
          // a REAL OpusHead (RFC 7845 §5.1) as CodecPrivate
          val oh = new Array[Byte](19)
          "OpusHead".getBytes("US-ASCII").copyToArray(oh)
          oh(8) = 1
          oh(9) = opusChannels(d).toByte
          val preSkip = (312 + d % 100).toInt
          oh(10) = (preSkip & 0xff).toByte
          oh(11) = ((preSkip >> 8) & 0xff).toByte
          oh(12) = 0x80.toByte; oh(13) = 0xbb.toByte // 48000 LE32
          t.element(IdCodecPrivate, oh)
          t.out.write(wrap(IdAudio, { a =>
            a.float64(IdSamplingFrequency, 48000.0)
            a.uint(IdChannels, opusChannels(d))
          }))
        }))
      }
    }))
    // a Void element between Tracks and the first Cluster
    seg.element(IdVoid,
      Array.tabulate((4 + d % 5).toInt)(_ => 0x00.toByte))
    // Clusters (offsets recorded for the Cues index)
    val clusterOffs = new Array[Long](nClusters(d))
    for (c <- 0 until nClusters(d)) {
      clusterOffs(c) = bodyOff
      val wrapCluster =
        if (unsized(d)) wrapUnknown(IdCluster, _: W => Unit)
        else wrap(IdCluster, _: W => Unit)
      seg.out.write(wrapCluster({ w =>
        val base = msToTicks(d, 400L * c)
        w.uint(IdClusterTimestamp, base)
        def blockBody(track: Int, relTicks: Long, flags: Int,
            payload: Array[Byte]): Array[Byte] = {
          val b = new java.io.ByteArrayOutputStream(payload.length + 4)
          b.write(0x80 | track) // 1-byte track vint
          require(relTicks >= -32768 && relTicks <= 32767,
            s"relative timestamp $relTicks overflows int16")
          b.write(((relTicks >> 8) & 0xff).toInt)
          b.write((relTicks & 0xff).toInt)
          b.write(flags)
          b.write(payload, 0, payload.length)
          b.toByteArray
        }
        def simpleBlock(track: Int, relTicks: Long, laceBits: Int,
            payload: Array[Byte]): Unit =
          // SimpleBlock flags: keyframe bit + lacing bits
          w.element(IdSimpleBlock,
            blockBody(track, relTicks, 0x80 | laceBits, payload))
        /** BlockGroup → Block (+ BlockDuration). All fixture frames
          * are key, so no ReferenceBlock; keyness-by-absence is what
          * the walk checks. Child order rotates so the parser's
          * order-independent collection is exercised both ways. */
        def blockGroup(track: Int, relTicks: Long, laceBits: Int,
            durMs: Long, durFirst: Boolean, payload: Array[Byte]): Unit =
          w.out.write(wrap(IdBlockGroup, { g =>
            // Block flags carry ONLY lacing bits (no keyframe bit)
            if (durFirst) g.uint(IdBlockDuration, msToTicks(d, durMs))
            g.element(IdBlock, blockBody(track, relTicks, laceBits, payload))
            if (!durFirst) g.uint(IdBlockDuration, msToTicks(d, durMs))
          }))
        // interleave audio-then-video per 40 ms slot is not required;
        // blocks are written video first, then audio, each monotone
        // within its own track
        for (k <- 0 until nVideo(d, c)) {
          // laced-video docs pack 2-3 KEY frames per block (Xiph on
          // even k, EBML on odd); f = 0 reproduces the unlaced seed
          val vnf = videoFramesInBlock(d, c, k)
          val frames = (0 until vnf).map { f =>
            val s = videoFrameSeed(d, c, k, f)
            if (isVp9(d)) synthVp9Frame(d, s) else Webp.synthVp8Frame(d, s)
          }
          val laceBits = videoLaceBits(d, c, k)
          val payload = new java.io.ByteArrayOutputStream()
          laceBits match {
            case 0 => ()
            case 0x02 => // Xiph: count-1, 255-run sizes of 0..n-2
              payload.write(vnf - 1)
              frames.dropRight(1).foreach { fr =>
                var sz = fr.length
                while (sz >= 255) { payload.write(255); sz -= 255 }
                payload.write(sz)
              }
            case _ => // EBML: count-1, first size vint, signed deltas
              payload.write(vnf - 1)
              val w0 = new W
              payload.write(w0.sizeBytes(frames(0).length.toLong))
              (1 until vnf - 1).foreach { f =>
                payload.write(
                  svintBytes(frames(f).length.toLong - frames(f - 1).length))
              }
          }
          frames.foreach(fr => payload.write(fr, 0, fr.length))
          if (!forceSimple && videoOnGroup(d, c, k))
            blockGroup(1, msToTicks(d, 40L * k), laceBits, 40L * vnf,
              durFirst = k % 2 == 0, payload.toByteArray)
          else simpleBlock(1, msToTicks(d, 40L * k), laceBits,
            payload.toByteArray)
        }
        for (k <- 0 until nAudio(d, c)) {
          // audio blocks rotate the THREE Matroska lacing schemes plus
          // the unlaced form — real Opus-in-WebM audio is laced
          val lm = laceMode(d, c, k)
          val nf = framesInBlock(d, c, k)
          val frames = (0 until nf).map { f =>
            val cfg = TocCfg(((d + c + k + f) % 3).toInt)
            val st = (d + k + f) % 2 == 1
            val toc = (cfg << 3) | (if (st) 4 else 0) // code 0
            val body = Array.tabulate(audioFrameLen(d, c, k, f) - 1)(i =>
              ((d * 17 + c * 5 + k + 29 * f + i) % 251).toByte)
            toc.toByte +: body
          }
          val payload = new java.io.ByteArrayOutputStream()
          lm match {
            case 0 => () // no lacing header
            case 1 => // Xiph: count-1, 255-run sizes of frames 0..n-2
              payload.write(nf - 1)
              frames.dropRight(1).foreach { fr =>
                var sz = fr.length
                while (sz >= 255) { payload.write(255); sz -= 255 }
                payload.write(sz)
              }
            case 2 => // fixed-size: count-1 only; equal sizes implied
              payload.write(nf - 1)
            case _ => // EBML: count-1, first size vint, signed deltas
              payload.write(nf - 1)
              val w0 = new W
              payload.write(w0.sizeBytes(frames(0).length.toLong))
              (1 until nf - 1).foreach { f =>
                val delta = frames(f).length - frames(f - 1).length
                require(delta >= -62 && delta <= 62, "fixture delta range")
                payload.write(0x80 | (delta + 63))
              }
          }
          frames.foreach(fr => payload.write(fr, 0, fr.length))
          val laceBits = Seq(0x00, 0x02, 0x04, 0x06)(lm)
          if (!forceSimple && audioOnGroup(d, c, k))
            blockGroup(2, msToTicks(d, 20L * k), laceBits, 20L * nf,
              durFirst = k % 2 == 1, payload.toByteArray)
          else simpleBlock(2, msToTicks(d, 20L * k), laceBits,
            payload.toByteArray)
        }
      }))
    }
    // Cues: one CuePoint per cluster — time, track 1, cluster offset
    val cuesOff = bodyOff
    seg.out.write(wrap(IdCues, { w =>
      (0 until nClusters(d)).foreach { c =>
        w.out.write(wrap(IdCuePoint, { cp =>
          cp.uint(IdCueTime, msToTicks(d, 400L * c))
          cp.out.write(wrap(IdCueTrackPositions, { tp =>
            tp.uint(IdCueTrack, 1)
            tp.uint(IdCueClusterPosition, clusterOffs(c))
          }))
        }))
      }
    }))
    // SeekHead: constant-size layout (4-byte SeekIDs, 8-byte
    // SeekPositions) indexing Info, Tracks, and Cues
    val seek = new W
    def seekEntry(targetId: Long, pos: Long): Unit =
      seek.out.write(wrap(IdSeek, { s2 =>
        s2.element(IdSeekId, s2.idBytes(targetId))
        s2.element(IdSeekPosition,
          Array.tabulate(8)(i => ((pos >> (8 * (7 - i))) & 0xff).toByte))
      }))
    seekEntry(IdInfo, infoOff)
    seekEntry(IdTracks, tracksOff)
    seekEntry(IdCues, cuesOff)
    val seekHead = wrap(IdSeekHead, w => w.out.write(seek.out.toByteArray))
    require(seekHead.length == seekHeadSize,
      s"fixture SeekHead is ${seekHead.length} bytes, not $seekHeadSize")
    val segPayload = new java.io.ByteArrayOutputStream()
    segPayload.write(seekHead, 0, seekHead.length)
    segPayload.write(seg.out.toByteArray, 0, seg.out.size())
    if (unsized(d)) {
      // live-muxer framing: unknown-size Segment, ends at EOF
      val idb = (new W).idBytes(IdSegment)
      out.write(idb, 0, idb.length)
      out.write(0xFF)
      out.write(segPayload.toByteArray, 0, segPayload.size())
    } else {
      val o = new W
      o.element(IdSegment, segPayload.toByteArray)
      out.write(o.out.toByteArray)
    }
    out.toByteArray
  }

  // --------------------------------------------------------- parse

  final case class WebmInfo(timestampScale: Long, nTracks: Int,
      nClusters: Int, videoCodec: String, nVideoBlocks: Int,
      nAudioBlocks: Int, nAudioFrames: Int, nKeyframes: Int,
      width: Int, height: Int, sumYAcQi: Long, sumVp9Sig: Long,
      opusChannels: Option[Int], nStereo: Int, durationMs: Long,
      nBlockGroups: Int, sumBlockDurTicks: Long,
      nSeekEntries: Int, nCuePoints: Int)

  /** EBML element heads over the shared byte cursor. */
  private implicit final class Ebml(private val r: Bin.Cursor) extends AnyVal {
    /** Element id: raw value INCLUDING the length-marker bits, 1-4
      * bytes (EBMLMaxIDLength). */
    def readId(): Long = {
      val b0 = r.u8()
      require(b0 != 0, "webm: invalid EBML id lead byte 0x00")
      val len = Integer.numberOfLeadingZeros(b0) - 24 + 1
      require(len >= 1 && len <= 4, s"webm: EBML id length $len out of range")
      var v = b0.toLong
      var i = 1
      while (i < len) { v = (v << 8) | r.u8(); i += 1 }
      v
    }
    /** Element size: marker bit stripped, 1-8 bytes; the all-ones
      * "unknown size" pattern is legal ONLY where RFC 8794 allows it
      * for master elements a live muxer cannot pre-size — Segment and
      * Cluster use readSizeAllowUnknown; everything else rejects it
      * by name. */
    def readSize(): Long = {
      val v = readSizeAllowUnknown()
      require(v >= 0,
        "webm: unknown-size elements are outside the walk subset here " +
          "(Segment and Cluster only)")
      v
    }

    /** Size vint where the all-ones unknown pattern is legal: returns
      * -1 for unknown size. */
    def readSizeAllowUnknown(): Long = {
      val b0 = r.u8()
      require(b0 != 0, "webm: invalid EBML size lead byte 0x00")
      val len = Integer.numberOfLeadingZeros(b0) - 24 + 1
      require(len >= 1 && len <= 8,
        s"webm: EBML size length $len out of range")
      var v = (b0 & (0xff >>> len)).toLong
      var i = 1
      while (i < len) { v = (v << 8) | r.u8(); i += 1 }
      if (v == (1L << (7 * len)) - 1) return -1L
      require(v <= r.remaining,
        s"webm: element size $v overruns the stream")
      v
    }
    def uintOf(payload: Array[Byte]): Long = {
      require(payload.length >= 1 && payload.length <= 8,
        s"webm: uint payload ${payload.length} bytes")
      payload.foldLeft(0L)((a, b) => (a << 8) | (b & 0xff))
    }
    def floatOf(payload: Array[Byte]): Double = payload.length match {
      case 4 => java.lang.Float.intBitsToFloat(
        payload.foldLeft(0)((a, b) => (a << 8) | (b & 0xff))).toDouble
      case 8 => java.lang.Double.longBitsToDouble(
        payload.foldLeft(0L)((a, b) => (a << 8) | (b & 0xff)))
      case n => throw new IllegalArgumentException(
        s"webm: float payload $n bytes (4 or 8 expected)")
    }
  }

  private final case class Track(num: Long, tpe: Long, codec: String,
      width: Int, height: Int, channels: Int, codecPrivate: Array[Byte])

  def parse(bytes: Array[Byte]): WebmInfo = {
    val r = new Bin.Cursor(bytes, 0, bytes.length, "webm: EBML data")
    // ---- EBML header
    require(r.readId() == IdEbml, "webm: stream does not start with EBML")
    val ebmlEnd = { val sz = r.readSize(); r.pos + sz }
    var docType = ""
    var nCh = 0
    while (r.pos < ebmlEnd) {
      nCh += 1; require(nCh <= MaxChildren, "webm: EBML header child bomb")
      val id = r.readId(); val sz = r.readSize()
      require(r.pos + sz <= ebmlEnd,
        s"webm: EBML header child overruns its parent")
      val payload = r.bytes(sz)
      id match {
        case IdDocType => docType =
          new String(payload, "US-ASCII").takeWhile(_ != ' ')
        case 0x42F2L => require(r.uintOf(payload) <= 4,
          "webm: EBMLMaxIDLength beyond 4 is outside the subset")
        case 0x42F3L => require(r.uintOf(payload) <= 8,
          "webm: EBMLMaxSizeLength beyond 8 is outside the subset")
        case _ => () // versions — informational
      }
    }
    require(r.pos == ebmlEnd, "webm: EBML header children under-fill it")
    require(docType == "webm" || docType == "matroska",
      s"webm: DocType '$docType' is not webm/matroska")
    // ---- Segment. A LIVE muxer cannot pre-size the Segment (or its
    // Clusters) — RFC 8794 allows the all-ones unknown size for such
    // masters, ended by the next non-child element or EOF. The walk
    // honors exactly that subset: unknown-size Segment ends at EOF,
    // unknown-size Cluster at the next top-level id.
    require(r.readId() == IdSegment, "webm: no Segment after EBML header")
    val segSz = r.readSizeAllowUnknown()
    val segEnd = if (segSz < 0) bytes.length else r.pos + segSz
    // SeekHead/Cues positions are relative to the segment DATA start
    val segDataStart = r.pos
    val topLevelIds = Set(IdCluster, IdCues, IdSeekHead, IdInfo,
      IdTracks, IdSegment, IdEbml,
      0x1043A770L /* Chapters */, 0x1254C367L /* Tags */,
      0x1941A469L /* Attachments */)
    /** Does a top-level element id start at the cursor? (The RFC 8794
      * unknown-size termination test.) Restores the cursor; malformed
      * bytes read as "not top-level" so the child parse that follows
      * fails with its own loud error. */
    def nextIsTopLevel(): Boolean = {
      val save = r.pos
      val hit =
        try topLevelIds.contains(r.readId())
        catch { case _: RuntimeException => false }
      r.pos = save
      hit
    }
    var tsScale = 1000000L // Matroska default
    var declaredDurTicks = -1.0
    var tracks = Vector.empty[Track]
    var nClusters = 0
    var nVideoBlocks = 0; var nAudioBlocks = 0; var nKey = 0
    var nAudioFrames = 0
    var sumVp9 = 0L
    var sumQi = 0L; var nStereo = 0
    var lastVideoTicks = -1L; var lastAudioTicks = -1L
    var maxVideoEndMs = 0L
    var nBlockGroups = 0; var sumBlockDur = 0L
    // the seek/cue ledgers: what the indexes CLAIM vs what the walk SAW
    var infoOff = -1L; var tracksOff = -1L; var cuesOff = -1L
    var seekEntries = Vector.empty[(Long, Long)] // (target id, position)
    var cuePoints = Vector.empty[(Long, Long, Long)] // (time, track, pos)
    val clusterAt = collection.mutable.Map.empty[Long, Long] // off -> base
    /** One block body, either framing: SimpleBlock (`simple`, keyness
      * from the flags byte) or a BlockGroup's Block (keyness = NO
      * ReferenceBlock seen in the group; the flags keyframe bit is
      * reserved there and must be clear). `durTicks` is the group's
      * declared BlockDuration — when present it replaces the default
      * 40 ms frame duration in the video ledger. A ReferenceBlock-
      * marked (non-key) video block's frame tag must agree it is an
      * inter frame; its header PAST the tag is the documented codec
      * boundary, so only the tag is cross-checked. */
    def handleBlock(blockBytes: Array[Byte], base: Long, simple: Boolean,
        refPresent: Boolean, durTicks: Option[Long]): Unit = {
      val br = new Bin.Cursor(blockBytes, 0, blockBytes.length, "webm: block")
      val what = if (simple) "SimpleBlock" else "Block"
      // track number vint (subset: 1-byte, covers 1..126)
      val tb = br.u8()
      require((tb & 0x80) != 0,
        "webm: multi-byte block track vints are outside the subset")
      val trackNum = (tb & 0x7f).toLong
      val track = tracks.find(_.num == trackNum).getOrElse(
        throw new IllegalArgumentException(
          s"webm: $what references undeclared track $trackNum"))
      val rel = br.u16be().toShort.toLong
      val flags = br.u8()
      val lace = flags & 0x06
      val key =
        if (simple) (flags & 0x80) != 0
        else {
          require((flags & 0x80) == 0,
            "webm: Block flags set the SimpleBlock-only keyframe bit")
          !refPresent
        }
      val payload = br.bytes(br.remaining)
      val absTicks = base + rel
      // un-lace: all THREE Matroska schemes (Xiph 255-run sizes,
      // fixed equal split, EBML vint + signed-vint deltas) plus the
      // unlaced form — real Opus-in-WebM audio is laced, and since
      // r18 laced VIDEO blocks (format-legal, rare) walk the same
      // path instead of being rejected by name
      def unlace(): Seq[Array[Byte]] =
        if (lace == 0) Seq(payload)
        else {
          require(payload.length >= 2,
            "webm: laced block missing its frame count")
          // count byte + 1: the format's own bound is 256
          val n = (payload(0) & 0xff) + 1
          require(n >= 1 && n <= 256,
            s"webm: laced frame count $n out of bounds")
          var p = 1
          val sizes = new Array[Int](n)
          lace match {
            case 0x02 => // Xiph
              var f = 0
              while (f < n - 1) {
                var sz = 0
                var b = 255
                while (b == 255) {
                  require(p < payload.length,
                    "webm: Xiph lace sizes overrun the block")
                  b = payload(p) & 0xff; p += 1; sz += b
                }
                sizes(f) = sz; f += 1
              }
            case 0x04 => // fixed-size
              val rem = payload.length - 1
              require(rem % n == 0,
                s"webm: fixed lacing cannot split $rem " +
                  s"bytes into $n equal frames")
              java.util.Arrays.fill(sizes, rem / n)
            case _ => // EBML
              def vint(signed: Boolean): Long = {
                require(p < payload.length,
                  "webm: EBML lace sizes overrun the block")
                val b0 = payload(p) & 0xff
                require(b0 != 0,
                  "webm: invalid lace-size vint lead byte")
                val len =
                  Integer.numberOfLeadingZeros(b0) - 24 + 1
                require(len >= 1 && len <= 8,
                  "webm: lace-size vint overruns the block")
                Bin.checkRange(p, len, payload.length,
                  "webm: lace-size vint overruns the block")
                var v = (b0 & (0xff >>> len)).toLong
                (1 until len).foreach { i =>
                  v = (v << 8) | (payload(p + i) & 0xff)
                }
                p += len
                if (signed) v - ((1L << (7 * len - 1)) - 1)
                else v
              }
              val s0 = vint(signed = false)
              require(s0 >= 1 && s0 <= payload.length,
                s"webm: implausible first lace size $s0")
              sizes(0) = s0.toInt
              (1 until n - 1).foreach { f =>
                val s = sizes(f - 1) + vint(signed = true)
                require(s >= 1 && s <= payload.length,
                  s"webm: implausible lace size $s")
                sizes(f) = s.toInt
              }
          }
          if (lace != 0x04) {
            val known = sizes.take(n - 1).map(_.toLong).sum
            val last = payload.length - p - known
            require(last >= 1,
              "webm: laced frames overrun their block")
            sizes(n - 1) = last.toInt
          }
          var q = if (lace == 0x04) 1 else p
          sizes.toSeq.map { sz =>
            Bin.checkRange(q, sz, payload.length,
              "webm: laced frame overruns its block")
            val fr = java.util.Arrays.copyOfRange(
              payload, q, q + sz)
            q += sz
            fr
          }
        }
      track.tpe match {
        case 1 =>
          nVideoBlocks += 1
          require(absTicks > lastVideoTicks,
            s"webm: video timestamps regress at tick $absTicks")
          lastVideoTicks = absTicks
          // since r18, laced VIDEO blocks un-lace here and EVERY
          // frame walks the codec checks. The Matroska keyframe
          // semantics are per BLOCK ("contains only keyframes"), so
          // each laced frame's own type bit must agree with the
          // block's keyness — a mixed lace fails loudly.
          val vFrames = unlace()
          vFrames.foreach { fp =>
            track.codec match {
              case "V_VP8" =>
                // VP8 frame tag (RFC 6386 §9.1): bit 0 = frame type
                require(fp.length >= 3, "webm: VP8 frame too short")
                val tag = Bin.u24le(fp, 0, fp.length, "webm: VP8 frame tag")
                val isKey = (tag & 1) == 0
                require(isKey == key,
                  if (simple) "webm: SimpleBlock keyframe flag disagrees " +
                    "with the VP8 frame tag"
                  else "webm: ReferenceBlock presence disagrees with the " +
                    "VP8 frame tag")
                if (key) {
                  nKey += 1
                  require(fp.length >= 10, "webm: VP8 frame too short")
                  require((fp(3) & 0xff) == 0x9d &&
                    (fp(4) & 0xff) == 0x01 &&
                    (fp(5) & 0xff) == 0x2a,
                    "webm: VP8 key frame lacks the start code")
                  val fw = ((fp(6) & 0xff) |
                    ((fp(7) & 0x3f) << 8))
                  val fh = ((fp(8) & 0xff) |
                    ((fp(9) & 0x3f) << 8))
                  require(fw == track.width && fh == track.height,
                    s"webm: VP8 frame ${fw}x$fh disagrees with the " +
                      s"declared track ${track.width}x${track.height}")
                  val hdr = Webp.parseVp8Header(fp, 10)
                  sumQi += hdr.yAcQi
                }
                // non-key: the inter-frame header has no start code or
                // dims — decode past the tag is the codec boundary
              case "V_VP9" =>
                if (key) {
                  val h = parseVp9Header(fp)
                  nKey += 1
                  require(h.width == track.width &&
                    h.height == track.height,
                    s"webm: VP9 frame ${h.width}x${h.height} " +
                      "disagrees with the declared track " +
                      s"${track.width}x${track.height}")
                  sumVp9 += h.profile * 1000L + h.bitDepth * 10L +
                    h.colorSpace
                } else {
                  require(!simple,
                    "webm: VP9 key frame in a non-key SimpleBlock")
                  // non-key: cross-check the frame-type bits only; the
                  // inter-frame header layout is the codec boundary
                  val r9 = new Bin.MsbReader(fp, "webm: VP9 header")
                  require(r9.u(2) == 2, "webm: VP9 frame marker is not 0b10")
                  val prof = r9.u(1) | (r9.u(1) << 1)
                  if (prof == 3)
                    require(r9.u(1) == 0,
                      "webm: VP9 profile-3 reserved bit set")
                  require(r9.u(1) == 0,
                    "webm: show_existing_frame VP9 blocks carry no header " +
                      "to parse")
                  require(r9.u(1) == 1,
                    "webm: ReferenceBlock marks a non-key block but the " +
                      "VP9 frame type is KEY")
                }
              case other => throw new IllegalArgumentException(
                s"webm: video codec $other is outside the walk " +
                  "subset (VP8/VP9 key-frame headers only)")
            }
          }
          // a laced block spans one default duration PER FRAME
          val durMs = durTicks.map(_ * tsScale / 1000000L)
            .getOrElse(40L * vFrames.size)
          val endMs = absTicks * tsScale / 1000000L + durMs
          if (endMs > maxVideoEndMs) maxVideoEndMs = endMs
        case 2 =>
          require(track.codec == "A_OPUS",
            s"webm: audio codec ${track.codec} is outside the " +
              "walk subset (Opus TOC only)")
          nAudioBlocks += 1
          require(absTicks > lastAudioTicks,
            s"webm: audio timestamps regress at tick $absTicks")
          lastAudioTicks = absTicks
          val frames = unlace()
          frames.foreach { fr =>
            val (_, stereo, nFr, _) = Ogg.tocInfo(fr)
            require(nFr >= 1, "webm: zero-frame Opus packet")
            nAudioFrames += 1
            if (stereo) nStereo += 1
          }
        case t => throw new IllegalArgumentException(
          s"webm: track type $t is outside the walk subset")
      }
    }
    var segCh = 0
    while (r.pos < segEnd) {
      segCh += 1; require(segCh <= MaxChildren, "webm: Segment child bomb")
      val childOff = (r.pos - segDataStart).toLong
      val id = r.readId()
      // only a Cluster may carry the unknown size at this level
      val sz = if (id == IdCluster) r.readSizeAllowUnknown()
        else r.readSize()
      if (sz >= 0)
        require(r.pos + sz <= segEnd, "webm: Segment child overruns it")
      val end = if (sz < 0) segEnd else r.pos + sz
      id match {
        case IdInfo =>
          if (infoOff < 0) infoOff = childOff
          var ch = 0
          while (r.pos < end) {
            ch += 1; require(ch <= MaxChildren, "webm: Info child bomb")
            val cid = r.readId(); val csz = r.readSize()
            Bin.checkRange(r.pos, csz, end, "webm: Info child overruns it")
            val p = r.bytes(csz)
            cid match {
              case IdTimestampScale =>
                tsScale = r.uintOf(p)
                require(tsScale >= 1000L && tsScale <= 1000000000L,
                  s"webm: implausible timestamp scale $tsScale ns")
              case IdDuration => declaredDurTicks = r.floatOf(p)
              case _ => () // MuxingApp/WritingApp/SegmentUID — skip
            }
          }
          require(r.pos == end, "webm: Info children under-fill it")
        case IdTracks =>
          if (tracksOff < 0) tracksOff = childOff
          var ch = 0
          while (r.pos < end) {
            ch += 1; require(ch <= MaxChildren, "webm: Tracks child bomb")
            val cid = r.readId(); val csz = r.readSize()
            Bin.checkRange(r.pos, csz, end, "webm: TrackEntry overruns Tracks")
            val tEnd = r.pos + csz
            require(cid == IdTrackEntry,
              s"webm: non-TrackEntry 0x${cid.toHexString} inside Tracks")
            var num = -1L; var tpe = -1L; var codec = ""
            var w = -1; var h = -1; var chans = -1
            var cp: Array[Byte] = Array.empty
            var tch = 0
            while (r.pos < tEnd) {
              tch += 1; require(tch <= MaxChildren, "webm: track child bomb")
              val eid = r.readId(); val esz = r.readSize()
              require(r.pos + esz <= tEnd,
                "webm: track child overruns its TrackEntry")
              val eEnd = r.pos + esz
              eid match {
                case IdTrackNumber => num = r.uintOf(r.bytes(esz))
                case IdTrackType => tpe = r.uintOf(r.bytes(esz))
                case IdCodecId =>
                  codec = new String(r.bytes(esz), "US-ASCII")
                case IdCodecPrivate => cp = r.bytes(esz)
                case IdVideo =>
                  var vch = 0
                  while (r.pos < eEnd) {
                    vch += 1
                    require(vch <= MaxChildren, "webm: video child bomb")
                    val vid = r.readId(); val vsz = r.readSize()
                    require(r.pos + vsz <= eEnd,
                      "webm: Video child overruns it")
                    val p = r.bytes(vsz)
                    vid match {
                      case IdPixelWidth => w = r.uintOf(p).toInt
                      case IdPixelHeight => h = r.uintOf(p).toInt
                      case _ => ()
                    }
                  }
                  require(r.pos == eEnd, "webm: Video children under-fill it")
                case IdAudio =>
                  var ach = 0
                  while (r.pos < eEnd) {
                    ach += 1
                    require(ach <= MaxChildren, "webm: audio child bomb")
                    val aid = r.readId(); val asz = r.readSize()
                    require(r.pos + asz <= eEnd,
                      "webm: Audio child overruns it")
                    val p = r.bytes(asz)
                    aid match {
                      case IdChannels => chans = r.uintOf(p).toInt
                      case _ => () // SamplingFrequency — informational
                    }
                  }
                  require(r.pos == eEnd, "webm: Audio children under-fill it")
                case _ => r.bytes(esz); () // unknown — skip by size
              }
            }
            require(r.pos == tEnd, "webm: TrackEntry children under-fill it")
            require(num >= 1, "webm: TrackEntry without a TrackNumber")
            require(tracks.forall(_.num != num),
              s"webm: duplicate track number $num")
            tracks :+= Track(num, tpe, codec, w, h, chans, cp)
          }
          require(r.pos == end, "webm: Tracks children under-fill it")
        case IdCluster =>
          require(tracks.nonEmpty, "webm: Cluster before Tracks")
          nClusters += 1
          var base = -1L
          var ch = 0
          // sized cluster: children must fill it exactly; unknown-size
          // cluster: children run until the next top-level id (or EOF)
          while (r.pos < end && !(sz < 0 && nextIsTopLevel())) {
            ch += 1; require(ch <= MaxChildren, "webm: Cluster child bomb")
            val cid = r.readId(); val csz = r.readSize()
            Bin.checkRange(r.pos, csz, end, "webm: Cluster child overruns it")
            cid match {
              case IdClusterTimestamp =>
                base = r.uintOf(r.bytes(csz))
                // ticks × tsScale(ns) must stay inside a Long: 2^40
                // ticks at the max 1 s scale is ~35 years of media —
                // anything above is a crafted overflow, not a file
                require(base <= (1L << 40),
                  s"webm: implausible cluster timestamp $base ticks")
              case IdSimpleBlock =>
                require(base >= 0,
                  "webm: SimpleBlock before the cluster Timestamp")
                handleBlock(r.bytes(csz), base, simple = true,
                  refPresent = false, durTicks = None)
              case IdBlockGroup =>
                // BlockGroup → Block (+ BlockDuration, ReferenceBlock):
                // children collected first (any order is legal), then
                // the one Block is dispatched with keyness = the
                // ABSENCE of a ReferenceBlock
                require(base >= 0,
                  "webm: BlockGroup before the cluster Timestamp")
                nBlockGroups += 1
                val gEnd = r.pos + csz
                var blockBytes: Array[Byte] = null
                var durTicks: Option[Long] = None
                var refPresent = false
                var gch = 0
                while (r.pos < gEnd) {
                  gch += 1
                  require(gch <= MaxChildren, "webm: BlockGroup child bomb")
                  val gid = r.readId(); val gsz = r.readSize()
                  require(r.pos + gsz <= gEnd,
                    "webm: BlockGroup child overruns it")
                  gid match {
                    case IdBlock =>
                      require(blockBytes == null,
                        "webm: BlockGroup with more than one Block")
                      blockBytes = r.bytes(gsz)
                    case IdBlockDuration =>
                      require(durTicks.isEmpty,
                        "webm: BlockGroup with more than one BlockDuration")
                      val t = r.uintOf(r.bytes(gsz))
                      // same Long-overflow bound as the cluster timestamp
                      require(t <= (1L << 40),
                        s"webm: implausible BlockDuration $t ticks")
                      durTicks = Some(t)
                      sumBlockDur += t
                    case IdReferenceBlock =>
                      // signed-vint relative timestamp of the reference;
                      // PRESENCE is the non-key marker the dispatch uses
                      r.bytes(gsz); ()
                      refPresent = true
                    case _ => r.bytes(gsz); () // DiscardPadding/… — skip
                  }
                }
                require(r.pos == gEnd,
                  "webm: BlockGroup children under-fill it")
                require(blockBytes != null,
                  "webm: BlockGroup without a Block")
                handleBlock(blockBytes, base, simple = false,
                  refPresent, durTicks)
              case _ => r.bytes(csz); () // unknown cluster child — skip
            }
          }
          if (sz >= 0)
            require(r.pos == end, "webm: Cluster children under-fill it")
          require(base >= 0, "webm: Cluster without a Timestamp")
          clusterAt(childOff) = base
        case IdSeekHead =>
          // SeekHead → Seek → (SeekID = raw element-id bytes,
          // SeekPosition = segment-relative offset); cross-checked
          // against the walked offsets after the segment closes
          var ch = 0
          while (r.pos < end) {
            ch += 1; require(ch <= MaxChildren, "webm: SeekHead child bomb")
            val cid = r.readId(); val csz = r.readSize()
            Bin.checkRange(r.pos, csz, end, "webm: SeekHead child overruns it")
            if (cid == IdSeek) {
              val sEnd = r.pos + csz
              var target = -1L; var position = -1L
              var sch = 0
              while (r.pos < sEnd) {
                sch += 1; require(sch <= MaxChildren, "webm: Seek child bomb")
                val eid = r.readId(); val esz = r.readSize()
                require(r.pos + esz <= sEnd, "webm: Seek child overruns it")
                val p = r.bytes(esz)
                eid match {
                  case IdSeekId =>
                    require(p.length >= 1 && p.length <= 4,
                      s"webm: SeekID of ${p.length} bytes")
                    target = r.uintOf(p)
                  case IdSeekPosition => position = r.uintOf(p)
                  case _ => () // unknown — skip by size
                }
              }
              require(r.pos == sEnd, "webm: Seek children under-fill it")
              require(target >= 0 && position >= 0,
                "webm: Seek entry lacks its target id or position")
              seekEntries :+= (target, position)
            } else r.bytes(csz)
          }
          require(r.pos == end, "webm: SeekHead children under-fill it")
        case IdCues =>
          if (cuesOff < 0) cuesOff = childOff
          var ch = 0
          while (r.pos < end) {
            ch += 1; require(ch <= MaxChildren, "webm: Cues child bomb")
            val cid = r.readId(); val csz = r.readSize()
            Bin.checkRange(r.pos, csz, end, "webm: Cues child overruns it")
            require(cid == IdCuePoint,
              s"webm: non-CuePoint 0x${cid.toHexString} inside Cues")
            val cpEnd = r.pos + csz
            var time = -1L
            var cch = 0
            while (r.pos < cpEnd) {
              cch += 1; require(cch <= MaxChildren, "webm: CuePoint child bomb")
              val eid = r.readId(); val esz = r.readSize()
              require(r.pos + esz <= cpEnd, "webm: CuePoint child overruns it")
              eid match {
                case IdCueTime => time = r.uintOf(r.bytes(esz))
                case IdCueTrackPositions =>
                  val tpEnd = r.pos + esz
                  var trk = -1L; var cpos = -1L
                  var tch = 0
                  while (r.pos < tpEnd) {
                    tch += 1
                    require(tch <= MaxChildren,
                      "webm: CueTrackPositions child bomb")
                    val tid = r.readId(); val tsz = r.readSize()
                    require(r.pos + tsz <= tpEnd,
                      "webm: CueTrackPositions child overruns it")
                    val p = r.bytes(tsz)
                    tid match {
                      case IdCueTrack => trk = r.uintOf(p)
                      case IdCueClusterPosition => cpos = r.uintOf(p)
                      case _ => () // CueRelativePosition/… — skip
                    }
                  }
                  require(r.pos == tpEnd,
                    "webm: CueTrackPositions children under-fill it")
                  require(trk >= 1 && cpos >= 0,
                    "webm: CueTrackPositions lacks its track or position")
                  require(time >= 0,
                    "webm: CueTrackPositions before the CuePoint's CueTime")
                  cuePoints :+= ((time, trk, cpos))
                case _ => r.bytes(esz); () // unknown — skip by size
              }
            }
            require(r.pos == cpEnd, "webm: CuePoint children under-fill it")
          }
          require(r.pos == end, "webm: Cues children under-fill it")
        case IdVoid => r.bytes(sz); ()
        case _ => r.bytes(sz); () // Tags/Chapters/… — skip by size
      }
    }
    require(r.pos == segEnd, "webm: Segment children under-fill it")
    require(tracks.nonEmpty, "webm: no Tracks element")
    // SeekHead ledger: every entry whose target kind the walk surfaces
    // must point at the offset the element was actually found at — a
    // lying seek index fails loudly; targets outside the walked set
    // (Tags, Chapters, …) pass through, the forward-compat rule
    seekEntries.foreach { case (target, position) =>
      val actual = target match {
        case IdInfo => Some(infoOff)
        case IdTracks => Some(tracksOff)
        case IdCues => Some(cuesOff)
        case _ => None
      }
      actual.foreach { a =>
        require(a >= 0,
          s"webm: SeekHead indexes 0x${target.toHexString} but the " +
            "segment never carries it")
        require(a == position,
          s"webm: SeekHead puts 0x${target.toHexString} at $position " +
            s"but it sits at $a")
      }
    }
    // Cues ledger: every CuePoint must name a declared track, point at
    // a real cluster, and carry that cluster's exact timestamp
    cuePoints.foreach { case (time, trk, cpos) =>
      require(tracks.exists(_.num == trk),
        s"webm: CuePoint references undeclared track $trk")
      val base = clusterAt.getOrElse(cpos,
        throw new IllegalArgumentException(
          s"webm: CueClusterPosition $cpos matches no cluster offset"))
      require(time == base,
        s"webm: CueTime $time disagrees with the cluster timestamp " +
          s"$base at offset $cpos")
    }
    val video = tracks.find(_.tpe == 1).getOrElse(
      throw new IllegalArgumentException("webm: no video track"))
    require(nVideoBlocks > 0, "webm: no video blocks")
    // the duration ledger: Info.Duration (ticks) must equal the video
    // ledger recomputed from the blocks — a lying muxer fails loudly
    require(declaredDurTicks >= 0, "webm: Info lacks a Duration")
    val ledgerTicks = maxVideoEndMs * 1000000L / tsScale
    require(declaredDurTicks == ledgerTicks.toDouble,
      f"webm: Info.Duration $declaredDurTicks%.1f ticks != the video " +
        s"ledger $ledgerTicks")
    // Opus cross-check: CodecPrivate OpusHead channels == Channels
    val audioT = tracks.find(_.tpe == 2)
    val opusCh = audioT.map { t =>
      require(t.codecPrivate.length >= 19 &&
        new String(t.codecPrivate, 0, 8, "US-ASCII") == "OpusHead",
        "webm: Opus track CodecPrivate is not an OpusHead")
      val cpCh = t.codecPrivate(9) & 0xff
      require(cpCh == t.channels,
        s"webm: OpusHead declares $cpCh channels but the Audio element " +
          s"declares ${t.channels}")
      cpCh
    }
    WebmInfo(tsScale, tracks.size, nClusters, video.codec, nVideoBlocks,
      nAudioBlocks, nAudioFrames, nKey, video.width, video.height,
      sumQi, sumVp9, opusCh, nStereo, maxVideoEndMs,
      nBlockGroups, sumBlockDur, seekEntries.size, cuePoints.size)
  }

  // ------------------------------------------------- spark plumbing

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("timestamp_scale", LongType),
    StructField("n_tracks", IntegerType),
    StructField("n_clusters", IntegerType),
    StructField("video_codec", StringType),
    StructField("n_video_blocks", IntegerType),
    StructField("n_audio_blocks", IntegerType),
    StructField("n_audio_frames", IntegerType),
    StructField("n_keyframes", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("sum_y_ac_qi", LongType),
    StructField("sum_vp9_sig", LongType),
    StructField("opus_channels", IntegerType),
    StructField("n_stereo", IntegerType),
    StructField("duration_ms", LongType),
    StructField("n_block_groups", IntegerType),
    StructField("sum_block_dur_ticks", LongType),
    StructField("n_seek_entries", IntegerType),
    StructField("n_cue_points", IntegerType)))

  /** ids → parsed WebM features over the closed-form fixture.
    * Per-doc map work — scan-stage cost at any corpus size. */
  def webmFeatures(ids: DataFrame, idCol: String): DataFrame = {
    val idIdx = ids.schema.fieldIndex(idCol)
    val rdd = ids.rdd.mapPartitions { rows =>
      rows.map { r =>
        val d = r.getLong(idIdx)
        val m = parse(synth(d))
        Row(d, m.timestampScale, m.nTracks, m.nClusters, m.videoCodec,
          m.nVideoBlocks, m.nAudioBlocks, m.nAudioFrames, m.nKeyframes,
          m.width, m.height, m.sumYAcQi, m.sumVp9Sig,
          m.opusChannels.orNull, m.nStereo, m.durationMs,
          m.nBlockGroups, m.sumBlockDurTicks,
          m.nSeekEntries, m.nCuePoints)
      }
    }
    ids.sparkSession.createDataFrame(rdd, schema)
  }
}
