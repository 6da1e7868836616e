package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Fragmented MP4 (fMP4 / CMAF / DASH segments) — the streaming-era
  * container layout the classic stsc/stco/stsz walks cannot read:
  * sample locations live in per-fragment moof/traf/trun boxes, with
  * per-sample fields OPTIONAL at three levels (trun entry → tfhd
  * default → trex default). Implemented from ISO 14496-12: the walk
  * reads mvex/trex track defaults from the init segment, then for
  * each moof: mfhd sequence number, tfhd (track id, optional
  * base-data-offset / default-sample-duration / default-sample-size,
  * and the modern default-base-is-moof addressing), tfdt
  * baseMediaDecodeTime (v0 u32 and v1 u64), and trun (data offset,
  * optional per-sample durations/sizes, first-sample-flags).
  *
  * The decode-time ledger is validated, not just read: each
  * fragment's tfdt must equal the previous tfdt plus the previous
  * fragment's summed sample durations — so the duration-default
  * chain (trun → tfhd → trex) is load-bearing; drift fails loudly.
  * Sample byte ranges are containment-checked against the paired
  * mdat exactly like the moov-path extractor (a sampler must never
  * read box bytes as media data). Loud failures name their defect:
  * missing mvex/trex, a moof not followed by its mdat, a tfhd with
  * neither base-data-offset nor default-base-is-moof, a sample with
  * no size at any of the three levels, truncated boxes, tfdt drift.
  *
  * Two fixtures share one fragment geometry (2 + d%3 fragments;
  * even-index fragments carry two samples with explicit trun sizes,
  * odd-index fragments carry ONE sample whose size comes from the
  * tfhd default — the defaults path is on the oracle path): a
  * closed-form byte-pattern fixture for the location/checksum oracle,
  * and an AVCC-framed IDR fixture composed with the real H.264
  * decoder the way llm_video_keyframes composes the moov path. */
object Fmp4 {

  // ------------------------------------------------------------- walk

  final case class FragSample(fragIdx: Int, seq: Long, tfdt: Long,
      globalIdx: Int, size: Int, fromDefault: Boolean, byteSum: Long,
      slice: Array[Byte])

  /** Walk every moof/mdat pair after validating the init segment. */
  def fragmentSamples(bytes: Array[Byte]): Seq[FragSample] = {
    require(bytes.length >= 8 &&
      new String(bytes, 4, 4, "US-ASCII") == "ftyp", "not an MP4 payload")
    val top = Codecs.mp4Walk(bytes, 0, bytes.length)
    val moov = Codecs.oneBox(top, "moov")
    val mvex = Codecs.oneBox(Codecs.mp4Walk(bytes, moov.start, moov.end), "mvex")
    val trex = Codecs.oneBox(Codecs.mp4Walk(bytes, mvex.start, mvex.end), "trex")
    require(trex.end - trex.start >= 24, "truncated trex box")
    val trexDefDur = Bin.u32be(bytes, trex.start + 12, bytes.length, "fMP4")
    val trexDefSize = Bin.u32be(bytes, trex.start + 16, bytes.length, "fMP4")

    val out = collection.mutable.ArrayBuffer.empty[FragSample]
    var fragIdx = 0
    var globalIdx = 0
    var expectedTfdt = 0L
    val boxes = top.toArray
    var bi = 0
    while (bi < boxes.length) {
      val box = boxes(bi)
      if (box.typ == "moof") {
        // our fixtures (and every CMAF muxer) emit 32-bit moof headers
        val moofStart = box.start - 8
        val kids = Codecs.mp4Walk(bytes, box.start, box.end)
        val mfhd = Codecs.oneBox(kids, "mfhd")
        require(mfhd.end - mfhd.start >= 8, "truncated mfhd box")
        val seq = Bin.u32be(bytes, mfhd.start + 4, bytes.length, "fMP4")
        val traf = Codecs.oneBox(kids, "traf")
        val tkids = Codecs.mp4Walk(bytes, traf.start, traf.end)
        // tfhd: track id + flag-gated optionals IN FLAG ORDER
        val tfhd = Codecs.oneBox(tkids, "tfhd")
        val tfFlags =
          (Bin.u32be(bytes, tfhd.start, bytes.length, "fMP4") & 0xffffff).toInt
        var p = tfhd.start + 8 // verflags + track_ID
        var baseDataOffset = -1L
        if ((tfFlags & 0x000001) != 0) {
          baseDataOffset = Bin.u64be(bytes, p, bytes.length, "fMP4"); p += 8
        }
        if ((tfFlags & 0x000002) != 0) p += 4 // sample_description_index
        var defDur = trexDefDur
        if ((tfFlags & 0x000008) != 0) {
          defDur = Bin.u32be(bytes, p, bytes.length, "fMP4"); p += 4
        }
        var defSize = trexDefSize
        var tfhdHasSize = false
        if ((tfFlags & 0x000010) != 0) {
          defSize = Bin.u32be(bytes, p, bytes.length, "fMP4")
          p += 4; tfhdHasSize = true
        }
        require(p <= tfhd.end, "tfhd optionals overrun the box")
        val base =
          if (baseDataOffset >= 0) baseDataOffset
          else {
            require((tfFlags & 0x020000) != 0,
              "tfhd carries neither base-data-offset nor default-base-is-moof")
            moofStart.toLong
          }
        // tfdt: the decode-time ledger, validated against durations
        tkids.find(_.typ == "tfdt").foreach { tfdt =>
          val ver = bytes(tfdt.start) & 0xff
          val t =
            if (ver == 1) Bin.u64be(bytes, tfdt.start + 4, bytes.length, "fMP4")
            else Bin.u32be(bytes, tfdt.start + 4, bytes.length, "fMP4")
          require(t == expectedTfdt,
            s"tfdt $t drifts from the summed durations $expectedTfdt")
        }
        val fragTfdt = expectedTfdt
        // the paired media data box MUST directly follow this moof
        require(bi + 1 < boxes.length && boxes(bi + 1).typ == "mdat",
          "moof is not followed by its mdat")
        val mdat = boxes(bi + 1)
        var durSum = 0L
        tkids.filter(_.typ == "trun").foreach { trun =>
          val trFlags =
            (Bin.u32be(bytes, trun.start, bytes.length, "fMP4") & 0xffffff).toInt
          val n = Bin.u32be(bytes, trun.start + 4, bytes.length, "fMP4").toInt
          require(n >= 0 && n <= (trun.end - trun.start),
            s"implausible trun sample count $n")
          var q = trun.start + 8
          require((trFlags & 0x000001) != 0,
            "trun without a data offset is outside the walk subset")
          // i32, ours >= 0
          val dataOffset = Bin.u32be(bytes, q, bytes.length, "fMP4").toInt
          q += 4
          if ((trFlags & 0x000004) != 0) q += 4 // first-sample-flags
          var rel = 0L
          var s = 0
          while (s < n) {
            var dur = defDur
            if ((trFlags & 0x000100) != 0) {
              dur = Bin.u32be(bytes, q, bytes.length, "fMP4"); q += 4
            }
            var size = defSize
            var fromDefault = true
            if ((trFlags & 0x000200) != 0) {
              size = Bin.u32be(bytes, q, bytes.length, "fMP4")
              q += 4; fromDefault = false
            }
            if ((trFlags & 0x000400) != 0) q += 4 // sample flags
            if ((trFlags & 0x000800) != 0) q += 4 // composition offset
            require(q <= trun.end, "trun entries overrun the box")
            require(size > 0 || !fromDefault,
              "sample has no size at trun, tfhd, or trex level")
            require(size > 0 && size <= Int.MaxValue, s"bad sample size $size")
            val abs = base + dataOffset + rel
            require(abs >= mdat.start,
              s"sample $globalIdx [${abs}, ${abs + size}) outside the " +
                s"mdat payload [${mdat.start}, ${mdat.end})")
            Bin.checkRange(abs, size, mdat.end, "fMP4 sample")
            var sum = 0L
            var j = 0
            while (j < size.toInt) {
              sum += bytes(abs.toInt + j) & 0xff; j += 1
            }
            out += FragSample(fragIdx, seq, fragTfdt, globalIdx, size.toInt,
              fromDefault, sum, java.util.Arrays.copyOfRange(
                bytes, abs.toInt, abs.toInt + size.toInt))
            rel += size
            durSum += dur
            globalIdx += 1
            s += 1
          }
        }
        expectedTfdt += durSum
        fragIdx += 1
        bi += 2 // consume the mdat too
      } else bi += 1
    }
    require(fragIdx > 0, "no moof fragments in the stream")
    out.toSeq
  }

  // --------------------------------------------------------- builders

  private def fullBox(typ: String, ver: Int, flags: Int,
      payload: Array[Byte]): Array[Byte] =
    Codecs.mp4Box(typ, Bin.be32(((ver & 0xff).toLong << 24) | flags) ++ payload)

  /** Init segment: ftyp + moov{mvhd, trak{tkhd, mdia{mdhd, hdlr,
    * minf{stbl{[stsd,] empty stts/stsc/stsz/stco}}}}, mvex{trex}} —
    * the empty sample tables plus mvex are the fMP4 signature. */
  private def initSegment(d: Long, stsd: Array[Byte]): Array[Byte] = {
    val ftyp = Codecs.mp4Box("ftyp",
      "isom".getBytes("US-ASCII") ++ Bin.be32(0x200) ++
        "iso6".getBytes("US-ASCII") ++ "dash".getBytes("US-ASCII"))
    val timescale = 90000L
    val mvhd = fullBox("mvhd", 0, 0,
      Bin.be32(0) ++ Bin.be32(0) ++ Bin.be32(timescale) ++ Bin.be32(0) ++
        Bin.be32(0x00010000L) ++ Array[Byte](0x01, 0) ++ new Array[Byte](10) ++
        (Bin.be32(0x00010000L) ++ Bin.be32(0) ++ Bin.be32(0) ++ Bin.be32(0) ++
          Bin.be32(0x00010000L) ++ Bin.be32(0) ++ Bin.be32(0) ++ Bin.be32(0) ++
          Bin.be32(0x40000000L)) ++ new Array[Byte](24) ++ Bin.be32(2))
    val tkhd = fullBox("tkhd", 0, 7,
      Bin.be32(0) ++ Bin.be32(0) ++ Bin.be32(1) ++ Bin.be32(0) ++ Bin.be32(0) ++
        new Array[Byte](8) ++ new Array[Byte](4) ++ new Array[Byte](4) ++
        (Bin.be32(0x00010000L) ++ Bin.be32(0) ++ Bin.be32(0) ++ Bin.be32(0) ++
          Bin.be32(0x00010000L) ++ Bin.be32(0) ++ Bin.be32(0) ++ Bin.be32(0) ++
          Bin.be32(0x40000000L)) ++ Bin.be32(64L << 16) ++ Bin.be32(16L << 16))
    val mdhd = fullBox("mdhd", 0, 0,
      Bin.be32(0) ++ Bin.be32(0) ++ Bin.be32(timescale) ++ Bin.be32(0) ++
        Array[Byte](0x55, (0xc4 & 0xff).toByte) ++ new Array[Byte](2))
    val hdlr = fullBox("hdlr", 0, 0,
      Bin.be32(0) ++ "vide".getBytes("US-ASCII") ++ new Array[Byte](12) ++
        "g ".getBytes("US-ASCII"))
    val emptyTables = Array(
      fullBox("stts", 0, 0, Bin.be32(0)),
      fullBox("stsc", 0, 0, Bin.be32(0)),
      fullBox("stsz", 0, 0, Bin.be32(0) ++ Bin.be32(0)),
      fullBox("stco", 0, 0, Bin.be32(0)))
    val stbl = Codecs.mp4Box("stbl",
      (if (stsd.nonEmpty) Array(stsd) else Array.empty[Array[Byte]])
        .++(emptyTables).flatten)
    val minf = Codecs.mp4Box("minf", stbl)
    val mdia = Codecs.mp4Box("mdia", mdhd ++ hdlr ++ minf)
    val trak = Codecs.mp4Box("trak", tkhd ++ mdia)
    val trex = fullBox("trex", 0, 0,
      Bin.be32(1) ++ Bin.be32(1) ++ Bin.be32(512 + d % 100) ++ Bin.be32(0) ++
        Bin.be32(0))
    val mvex = Codecs.mp4Box("mvex", trex)
    val moov = Codecs.mp4Box("moov", mvhd ++ trak ++ mvex)
    ftyp ++ moov
  }

  /** The shared fragment geometry: 2 + d%3 fragments; even fragments
    * carry 2 samples with explicit trun sizes, odd fragments carry 1
    * sample sized by the tfhd default. Per-sample duration:
    * base + j + 1 via a tfhd default on even fragments, the trex
    * default `base` on odd ones — both default levels on the path. */
  private def fragGeometry(d: Long): Seq[(Int, Int)] = {
    val nf = (2 + d % 3).toInt
    (0 until nf).map(j => (j, if (j % 2 == 1) 1 else 2))
  }

  private def buildFragments(d: Long, initLen: Int,
      sampleBytes: Int => Array[Byte]): Array[Byte] = {
    val base = 512 + d % 100
    val out = new java.io.ByteArrayOutputStream()
    var globalIdx = 0
    var tfdtTime = 0L
    fragGeometry(d).foreach { case (j, ns) =>
      val samples = (0 until ns).map(i => sampleBytes(globalIdx + i))
      val dur = base + (if (j % 2 == 0) j + 1 else 0)
      val mfhd = fullBox("mfhd", 0, 0, Bin.be32(j + 1L))
      def tfhdOf(): Array[Byte] = {
        var flags = 0x020000 // default-base-is-moof
        var payload = Bin.be32(1) // track_ID
        if ((d % 5 == 0) && j == 0) {
          // explicit 64-bit base data offset (same value, other path);
          // patched after the moof size is known
          flags = 0x000001
          payload = payload ++ Bin.be64(0)
        }
        if (j % 2 == 0) { flags |= 0x000008; payload = payload ++ Bin.be32(dur) }
        else { flags |= 0x000010; payload = payload ++
          Bin.be32(samples.head.length.toLong) }
        fullBox("tfhd", 0, flags, payload)
      }
      val tfdtVer = (d % 2).toInt
      val tfdt = fullBox("tfdt", tfdtVer, 0,
        if (tfdtVer == 1) Bin.be64(tfdtTime) else Bin.be32(tfdtTime))
      def trunOf(dataOffset: Int): Array[Byte] = {
        var flags = 0x000001
        if (j % 2 == 0) flags |= 0x000200 // per-sample sizes
        if (d % 2 == 0) flags |= 0x000004 // first-sample-flags
        var payload = Bin.be32(ns.toLong) ++ Bin.be32(dataOffset.toLong)
        if ((flags & 0x000004) != 0) payload = payload ++ Bin.be32(0x02000000L)
        if ((flags & 0x000200) != 0)
          samples.foreach(s => payload = payload ++ Bin.be32(s.length.toLong))
        fullBox("trun", 0, flags, payload)
      }
      // two-pass: sizes are layout-independent, offsets are not
      val probeTraf = Codecs.mp4Box("traf", tfhdOf() ++ tfdt ++ trunOf(0))
      val moofSize = 8 + mfhd.length + probeTraf.length
      val dataOffset = moofSize + 8 // mdat header
      val traf = Codecs.mp4Box("traf", tfhdOf() ++ tfdt ++ trunOf(dataOffset))
      var moof = Codecs.mp4Box("moof", mfhd ++ traf)
      require(moof.length == moofSize, "moof size must be layout-free")
      if ((d % 5 == 0) && j == 0) {
        // patch the absolute base data offset now that it is known:
        // tfhd payload sits at moof(8+mfhd) + 8(traf hdr) + 8(box hdr)
        // + 4(verflags) + 4(track) = the u64 slot
        val off = 8 + mfhd.length + 8 + 8 + 4 + 4
        val abs = Bin.be64(initLen.toLong + out.size())
        System.arraycopy(abs, 0, moof, off, 8)
      }
      out.write(moof, 0, moof.length)
      val mdat = Codecs.mp4Box("mdat", samples.toArray.flatten)
      out.write(mdat, 0, mdat.length)
      tfdtTime += ns.toLong * dur
      globalIdx += ns
    }
    out.toByteArray
  }

  /** Closed-form byte fixture: sample k is 100 + (7d+13k)%900 bytes,
    * byte p = (7d+13k+p)%251 — the synthMp4Data pattern in fMP4
    * framing, so one wrong offset breaks the checksum. */
  def synthFmp4Data(d: Long): Array[Byte] = {
    val init = initSegment(d, Array.emptyByteArray)
    init ++ buildFragments(d, init.length, { k =>
      val sz = (100 + (7 * d + 13 * k) % 900).toInt
      Array.tabulate(sz)(p => ((7 * d + 13 * k + p) % 251).toByte)
    })
  }

  /** AVCC-framed IDR fixture: sample k is the length-prefixed IDR NAL
    * of seed d + 1000k over the shared avcC parameter sets. */
  def synthIdrFmp4(d: Long): Array[Byte] = {
    val (_, paramNals) = Codecs.nalUnits(Avc.synthIFrame(d))
    val spsNal = paramNals.find(n => (n(0) & 0x1f) == 7).get
    val ppsNal = paramNals.find(n => (n(0) & 0x1f) == 8).get
    val init = initSegment(d, Codecs.avcStsdBox(spsNal, ppsNal))
    init ++ buildFragments(d, init.length, { k =>
        val (_, nals) = Codecs.nalUnits(Avc.synthIFrame(d + 1000L * k))
        val idr = nals.find(nl => (nl(0) & 0x1f) == 5).get
        Bin.be32(idr.length.toLong) ++ idr
      })
  }

  // ---------------------------------------------------- Spark features

  private val sampleSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("frag_idx", IntegerType),
    StructField("seq", IntegerType),
    StructField("tfdt", LongType),
    StructField("sample_idx", IntegerType),
    StructField("size", IntegerType),
    StructField("byte_sum", LongType),
    StructField("from_default", IntegerType)))

  /** ids -> closed-form fMP4 -> fragment walk -> per-sample rows.
    * Per-doc map work: at 100 TB the walk costs the scan stage only,
    * like the moov-path llm_video_sample_bytes. */
  def dataSampleFeatures(ids: DataFrame, idCol: String): DataFrame = {
    val idIdx = ids.schema.fieldIndex(idCol)
    val rdd = ids.rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val d = r.getLong(idIdx)
        fragmentSamples(synthFmp4Data(d)).iterator.map(s =>
          Row(d, s.fragIdx, s.seq.toInt, s.tfdt, s.globalIdx, s.size,
            s.byteSum, if (s.fromDefault) 1 else 0))
      }
    }
    ids.sparkSession.createDataFrame(rdd, sampleSchema)
  }

  private val keyframeSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("frag_idx", IntegerType),
    StructField("sample_idx", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("sum_y", LongType),
    StructField("sum_cb", LongType),
    StructField("sum_cr", LongType),
    StructField("px_y_20_5", IntegerType),
    StructField("px_y_44_9", IntegerType)))

  /** ids -> AVCC fMP4 -> fragment walk -> AVCC->Annex-B reframe ->
    * REAL H.264 I-frame decode per sample — llm_video_keyframes'
    * composition over the fragmented layout. */
  def keyframeFeatures(ids: DataFrame, idCol: String): DataFrame = {
    val idIdx = ids.schema.fieldIndex(idCol)
    val rdd = ids.rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val d = r.getLong(idIdx)
        val bytes = synthIdrFmp4(d)
        val (spsNal, ppsNal, lenSize) = Codecs.avccParameterSets(bytes)
        fragmentSamples(bytes).iterator.map { s =>
          val f = Avc.decodeIFrame(
            Avc.avccSampleToAnnexB(spsNal, ppsNal, lenSize, s.slice))
          var sy = 0L; var scb = 0L; var scr = 0L
          f.y.foreach(sy += _)
          f.cb.foreach(scb += _)
          f.cr.foreach(scr += _)
          Row(d, s.fragIdx, s.globalIdx, f.width, f.height, sy, scb, scr,
            f.y(5 * f.width + 20), f.y(9 * f.width + 44))
        }
      }
    }
    ids.sparkSession.createDataFrame(rdd, keyframeSchema)
  }
}
