package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Webm, Webp}

class WebmSpec extends AnyFunSuite {

  test("closed-form fixture parses to the oracle's exact fields") {
    for (d <- 0L to 60L) {
      val m = Webm.parse(Webm.synth(d))
      assert(m.timestampScale == Webm.tickNs(d), s"d=$d scale")
      assert(m.nTracks == (if (Webm.hasAudio(d)) 2 else 1), s"d=$d tracks")
      assert(m.nClusters == Webm.nClusters(d), s"d=$d clusters")
      val nv = (0 until Webm.nClusters(d)).map(Webm.nVideo(d, _)).sum
      val na = (0 until Webm.nClusters(d)).map(Webm.nAudio(d, _)).sum
      assert(m.nVideoBlocks == nv, s"d=$d video")
      assert(m.nAudioBlocks == na, s"d=$d audio")
      // laced-video docs carry 2-3 key FRAMES per block — every one
      // walked through the full codec checks and counted
      val nvf = (0 until Webm.nClusters(d)).flatMap { c =>
        (0 until Webm.nVideo(d, c)).map(k => Webm.videoFramesInBlock(d, c, k))
      }.sum
      assert(m.nKeyframes == nvf, s"d=$d keyframes")
      assert(m.width == Webm.videoW(d) && m.height == Webm.videoH(d))
      // every FRAME's key-frame header was decoded: VP8 docs sum the
      // bool-coded yAcQi (= s%128), VP9 docs sum the bit-parsed
      // profile/depth/color-space signature — per laced frame too
      val seeds = (0 until Webm.nClusters(d)).flatMap { c =>
        (0 until Webm.nVideo(d, c)).flatMap { k =>
          (0 until Webm.videoFramesInBlock(d, c, k))
            .map(f => Webm.videoFrameSeed(d, c, k, f))
        }
      }
      assert(m.videoCodec == (if (Webm.isVp9(d)) "V_VP9" else "V_VP8"))
      if (Webm.isVp9(d)) {
        assert(m.sumYAcQi == 0, s"d=$d vp9 doc with a vp8 sum")
        assert(m.sumVp9Sig == seeds.map(Webm.vp9Sig).sum, s"d=$d vp9 sig")
      } else {
        assert(m.sumVp9Sig == 0, s"d=$d vp8 doc with a vp9 sig")
        assert(m.sumYAcQi == seeds.map(_ % 128).sum, s"d=$d sum_qi")
      }
      assert(m.opusChannels ==
        (if (Webm.hasAudio(d)) Some(Webm.opusChannels(d)) else None))
      // per laced FRAME: all three lacing schemes rotate per block
      val naf = (0 until Webm.nClusters(d)).flatMap { c =>
        (0 until Webm.nAudio(d, c)).map(k => Webm.framesInBlock(d, c, k))
      }.sum
      assert(m.nAudioFrames == naf, s"d=$d audio frames")
      val nst = (0 until Webm.nClusters(d)).flatMap { c =>
        (0 until Webm.nAudio(d, c)).flatMap { k =>
          (0 until Webm.framesInBlock(d, c, k)).map(f => (d + k + f) % 2)
        }
      }.sum
      assert(m.nStereo == nst, s"d=$d stereo")
      assert(m.durationMs == Webm.durationMs(d), s"d=$d duration")
      // BlockGroup rotation: half the video / a third of the audio
      // blocks ride BlockGroups with a declared BlockDuration
      val mult = if (d % 2 == 0) 1L else 2L // ms → ticks
      val groups = (0 until Webm.nClusters(d)).flatMap { c =>
        (0 until Webm.nVideo(d, c)).collect {
          case k if Webm.videoOnGroup(d, c, k) =>
            40L * Webm.videoFramesInBlock(d, c, k) * mult
        } ++
        (0 until Webm.nAudio(d, c)).collect {
          case k if Webm.audioOnGroup(d, c, k) =>
            20L * Webm.framesInBlock(d, c, k) * mult
        }
      }
      assert(m.nBlockGroups == groups.size, s"d=$d block groups")
      assert(m.sumBlockDurTicks == groups.sum, s"d=$d block durations")
      // the seek indexes: SeekHead covers Info/Tracks/Cues, Cues
      // carries one CuePoint per cluster
      assert(m.nSeekEntries == 3, s"d=$d seek entries")
      assert(m.nCuePoints == Webm.nClusters(d), s"d=$d cue points")
    }
  }

  test("lying seek indexes are rejected by name") {
    val good = Webm.synth(5L)
    // SeekPosition payloads are fixed 8-byte uints: [0x53 0xAC 0x88 v8]
    val spIdx = good.indexOfSlice(Array(0x53.toByte, 0xAC.toByte,
      0x88.toByte))
    assert(spIdx >= 0, "no SeekPosition element found")
    val badSeek = good.clone()
    badSeek(spIdx + 3 + 7) = (badSeek(spIdx + 3 + 7) ^ 0x01).toByte
    val e1 = intercept[IllegalArgumentException](Webm.parse(badSeek))
    assert(e1.getMessage.contains("SeekHead puts"), e1.getMessage)
    // CueTime lie: CueTime id 0xB3 follows a CuePoint id 0xBB — flip
    // the time of the SECOND cue point (the first cluster sits at
    // time 0 whose 1-byte payload also encodes structure)
    var i = good.indexOfSlice(Array(0xBB.toByte))
    var fired = false
    while (!fired && i >= 0 && i < good.length - 4) {
      if ((good(i) & 0xff) == 0xBB && (good(i + 2) & 0xff) == 0xB3) {
        val b = good.clone()
        val tSzAt = i + 3 // CueTime size vint
        val tLen = (b(tSzAt) & 0xff) - 0x80
        if (tLen >= 1 && tLen <= 2 && i + 4 + tLen <= b.length) {
          b(i + 4) = (b(i + 4) ^ 0x01).toByte
          try { Webm.parse(b); () }
          catch {
            case e: IllegalArgumentException
                if e.getMessage.contains("CueTime") ||
                  e.getMessage.contains("disagrees with the cluster") =>
              fired = true
            case _: RuntimeException => ()
          }
        }
      }
      i += 1
    }
    assert(fired, "no CueTime flip produced the named rejection")
    // CueClusterPosition lie: point a cue at no cluster
    var j = 0
    var missed = false
    while (!missed && j < good.length - 4) {
      if ((good(j) & 0xff) == 0xF1) {
        val szLen = (good(j + 1) & 0xff)
        if (szLen >= 0x81 && szLen <= 0x82) {
          val b = good.clone()
          b(j + 2) = (b(j + 2) ^ 0x01).toByte
          try { Webm.parse(b); () }
          catch {
            case e: IllegalArgumentException
                if e.getMessage.contains("matches no cluster") =>
              missed = true
            case _: RuntimeException => ()
          }
        }
      }
      j += 1
    }
    assert(missed, "no CueClusterPosition flip produced the named rejection")
  }

  test("SimpleBlock and BlockGroup framings parse to identical fields") {
    for (d <- 0L to 40L) {
      val rotated = Webm.parse(Webm.synth(d))
      val simple = Webm.parse(Webm.synth(d, forceSimple = true))
      assert(simple.nBlockGroups == 0 && simple.sumBlockDurTicks == 0L,
        s"d=$d forced-simple stream still parsed groups")
      assert(rotated.nBlockGroups > 0, s"d=$d rotation produced no groups")
      assert(rotated.copy(nBlockGroups = 0, sumBlockDurTicks = 0L)
        == simple, s"d=$d framing parity")
    }
  }

  test("ReferenceBlock marks non-key and must agree with the frame tag") {
    // d=6: VP8 doc with video BlockGroups. Rewrite a video group's
    // BlockDuration (id 0x9B, 1-byte payload 0x28 = 40 ticks at the
    // even-d scale) into a ReferenceBlock (id 0xFB, same size): the
    // group's frame is now marked NON-key while its VP8 tag says key
    // frame — the both-direction check must fire by name. The ledger
    // stays consistent (the lost declared duration equals the 40 ms
    // default), so ONLY the keyness disagreement can fail.
    val good = Webm.synth(6L)
    val i = good.indexOfSlice(Array(0x9B.toByte, 0x81.toByte, 0x28.toByte))
    assert(i >= 0, "no 1-byte video BlockDuration found")
    val b = good.clone(); b(i) = 0xFB.toByte
    val e = intercept[IllegalArgumentException](Webm.parse(b))
    assert(e.getMessage.contains(
      "ReferenceBlock presence disagrees with the VP8 frame tag"),
      e.getMessage)
  }

  test("BlockGroup structural lies are rejected by name") {
    val good = Webm.synth(6L)
    // a group whose Block is renamed to an unknown id is skipped by
    // size, leaving a Block-less group
    val di = good.indexOfSlice(Array(0x9B.toByte, 0x81.toByte, 0x28.toByte))
    assert(di >= 0)
    assert((good(di + 3) & 0xff) == 0xA1, "Block does not follow the duration")
    val noBlock = good.clone(); noBlock(di + 3) = 0xED.toByte
    val e1 = intercept[RuntimeException](Webm.parse(noBlock))
    assert(e1.getMessage.contains("without a Block") ||
      e1.getMessage.contains("webm"), e1.getMessage)
    // a Block whose flags set the SimpleBlock-only keyframe bit:
    // Block header = track(1) + rel(2) + flags; flip flags 0x00→0x80
    val bi = good.indexOfSlice(Array(0xA1.toByte))
    var found = false; var j = 0
    while (!found && j < good.length - 8) {
      if ((good(j) & 0xff) == 0xA1 && (good(j + 2) & 0xff) == 0x81) {
        // candidate Block, 1-byte size, track 1; flags at j+5
        val b = good.clone()
        b(j + 5) = (b(j + 5) | 0x80).toByte
        try { Webm.parse(b); () }
        catch {
          case e: IllegalArgumentException
              if e.getMessage.contains("SimpleBlock-only keyframe bit") =>
            found = true
          case _: RuntimeException => ()
        }
      }
      j += 1
    }
    assert(found, "no Block flags flip produced the named rejection")
    assert(bi >= 0)
  }

  test("laced-video docs cover both lace schemes and both codecs") {
    val cls = (0L to 60L).filter(Webm.videoLaced)
    assert(cls.nonEmpty, "no laced-video docs in range")
    assert(cls.exists(Webm.isVp9) && cls.exists(d => !Webm.isVp9(d)),
      s"laced-video class must hit both codecs: $cls")
    val bits = cls.flatMap(d => (0 until Webm.nClusters(d)).flatMap(c =>
      (0 until Webm.nVideo(d, c)).map(k => Webm.videoLaceBits(d, c, k)))).toSet
    assert(bits == Set(0x02, 0x06), s"video lace scheme coverage: $bits")
    // multi-frame blocks genuinely occur (2 AND 3 frames)
    val counts = cls.flatMap(d => (0 until Webm.nClusters(d)).flatMap(c =>
      (0 until Webm.nVideo(d, c))
        .map(k => Webm.videoFramesInBlock(d, c, k)))).toSet
    assert(counts == Set(2, 3), s"laced frame counts: $counts")
  }

  test("a laced video frame disagreeing with the block keyness is loud") {
    // the per-frame cross-check: every frame of a laced block must
    // carry the block's keyness — flip the frame-type bit in the tag
    // of the SECOND VP8 key frame (a laced sibling, sharing its
    // block's keyframe flag) and the walk must refuse
    val d = 11L // 11 % 7 == 4 → laced video; 11 % 5 == 1 → VP8
    assert(Webm.videoLaced(d) && !Webm.isVp9(d))
    val good = Webm.synth(d)
    var idx = -1; var found = 0
    var i = 0
    while (i < good.length - 2 && found < 2) {
      if ((good(i) & 0xff) == 0x9d && (good(i + 1) & 0xff) == 0x01 &&
          (good(i + 2) & 0xff) == 0x2a) { found += 1; idx = i }
      i += 1
    }
    assert(found == 2, "fixture lacks two VP8 key-frame start codes")
    val bad = good.clone()
    bad(idx - 3) = ((bad(idx - 3) & 0xff) | 0x01).toByte
    val e = intercept[IllegalArgumentException](Webm.parse(bad))
    assert(e.getMessage.contains("disagrees with the VP8 frame tag"),
      e.getMessage)
  }

  test("lace counts above 64 are inside the subset (format bound 256)") {
    // patch a Xiph-laced audio block's count byte to 0xFF (256
    // frames): the sizes then overrun the small block — a LOUD
    // overrun error — but the old 64-frame cap's 'out of bounds'
    // rejection must NOT fire (the format's own bound is 256).
    // d=1, c=0, k=0: laceMode = 1 (Xiph), count byte = nf-1 = 1.
    assert(Webm.laceMode(1L, 0, 0) == 1)
    val good = Webm.synth(1L)
    // audio block payload starts after id/size/track(0x82)/rel/flags;
    // find an audio block with Xiph lacing bits (0x02) and count 0x01
    var j = 0; var hit = false
    while (!hit && j < good.length - 8) {
      if ((good(j) & 0xff) == 0x82 && (good(j + 3) & 0xff) == 0x82 &&
          (good(j + 4) & 0xff) == 0x01) {
        // track 2, flags = key|Xiph (SimpleBlock) → 0x82, count byte 1
        val b = good.clone()
        b(j + 4) = 0xFF.toByte
        try { Webm.parse(b); hit = false }
        catch {
          case e: RuntimeException =>
            assert(!e.getMessage.contains("out of bounds"), e.getMessage)
            if (e.getMessage.contains("overrun")) hit = true
        }
      }
      j += 1
    }
    assert(hit, "no Xiph count-byte patch reached the lace-size reader")
  }

  test("the walk rejects structural lies by name") {
    // a muxer declaring wrong pixel dims: patch PixelWidth's payload.
    // PixelWidth 0xB0 is unique in the stream head (before clusters).
    // d=6: a VP8 doc (6%5=1) with audio (6%3=0) — the keyframe-flag
    // check below needs the VP8 tag path
    val good = Webm.synth(6L)
    def patch(find: Array[Byte], at: Int, to: Byte): Array[Byte] = {
      val i = good.indexOfSlice(find)
      assert(i >= 0, s"pattern not found")
      val b = good.clone(); b(i + at) = to; b
    }
    // PixelWidth element: id 0xB0, size 0x82 (2 bytes), payload
    val wIdx = good.indexOfSlice(Array(0xB0.toByte, 0x82.toByte))
    assert(wIdx >= 0)
    val lied = good.clone(); lied(wIdx + 2) = 0x07
    val e1 = intercept[IllegalArgumentException](Webm.parse(lied))
    assert(e1.getMessage.contains("disagrees with the declared track"),
      e1.getMessage)
    // keyframe flag cleared on a key VP8 frame -> both-direction check
    val blkIdx = good.indexOfSlice(Array(0xA3.toByte))
    assert(blkIdx >= 0)
    // flags byte = id(1) + size(1-2) + track(1) + rel(2) + flags; find
    // the first SimpleBlock whose flags byte is 0x80 and clear it
    var found = false
    var i = 0
    var e2msg = ""
    while (!found && i < good.length - 1) {
      if ((good(i) & 0xff) == 0xA3) {
        // candidate: flags sit 5 (1-byte size vint) or 6 (2-byte)
        // bytes ahead — try both; wrong flips only produce caught
        // parse failures
        Seq(5, 6).foreach { off =>
          val b = good.clone()
          val fl = i + off
          if (!found && fl < b.length && (b(fl) & 0xff) == 0x80) {
            b(fl) = 0x00
            try { Webm.parse(b); () }
            catch {
              case e: IllegalArgumentException
                  if e.getMessage.contains("keyframe flag disagrees") =>
                found = true; e2msg = e.getMessage
              case _: RuntimeException => ()
            }
          }
        }
      }
      i += 1
    }
    assert(found, s"no SimpleBlock keyframe-flag flip produced the " +
      s"named rejection ($e2msg)")
    // an undeclared track number: rewrite some SimpleBlock's 1-byte
    // track vint to track 5 and require the NAMED rejection
    var j = 0; var undeclared = false
    while (!undeclared && j < good.length - 7) {
      if ((good(j) & 0xff) == 0xA3) {
        // track vint sits 2 (1-byte size) or 3 (2-byte size) ahead
        Seq(2, 3).foreach { off =>
          val tb = good(j + off) & 0xff
          if (!undeclared && (tb == 0x81 || tb == 0x82)) {
            val b = good.clone()
            b(j + off) = 0x85.toByte // track 5: never declared
            try { Webm.parse(b); () }
            catch {
              case e: IllegalArgumentException
                  if e.getMessage.contains("undeclared track") =>
                undeclared = true
              case _: RuntimeException => ()
            }
          }
        }
      }
      j += 1
    }
    assert(undeclared, "no track-vint rewrite produced the named rejection")
    // unknown size on a NON-master (PixelWidth) rejected by name —
    // Segment/Cluster are the only legal unknown-size carriers
    val wIdx2 = good.indexOfSlice(Array(0xB0.toByte, 0x82.toByte))
    assert(wIdx2 >= 0)
    val b4 = good.clone()
    b4(wIdx2 + 1) = 0xFF.toByte
    val e4 = intercept[RuntimeException](Webm.parse(b4))
    assert(e4.getMessage.contains("unknown-size"), e4.getMessage)
  }

  test("unknown-size Segment and Clusters (the live-muxer framing) " +
      "parse identically to the sized framing") {
    // the closed-form loop already walks unsized docs; here the SAME
    // doc id is compared across framings by patching is impossible —
    // instead assert the rotation exists and the walk surfaces the
    // same field set as the sized siblings d±1 (structure-independent
    // closed forms)
    val unsizedDocs = (0L to 60L).filter(Webm.unsized)
    assert(unsizedDocs.nonEmpty, "no unsized docs in range")
    unsizedDocs.foreach { d =>
      val m = Webm.parse(Webm.synth(d))
      assert(m.nClusters == Webm.nClusters(d), s"d=$d clusters")
      assert(m.nCuePoints == Webm.nClusters(d), s"d=$d cues")
      assert(m.durationMs == Webm.durationMs(d), s"d=$d duration")
    }
    // a sized doc whose Segment size vint is REWRITTEN to unknown must
    // still parse to the same result when the trailing size bytes are
    // dropped: rebuild d=2 as unsized by byte surgery on the vint
    val sized = Webm.synth(2L)
    assert(!Webm.unsized(2L))
    val segIdx = sized.indexOfSlice(Array(0x18.toByte, 0x53.toByte,
      0x80.toByte, 0x67.toByte))
    assert(segIdx >= 0)
    val lead = sized(segIdx + 4) & 0xff
    val vintLen = Integer.numberOfLeadingZeros(lead) - 24 + 1
    val surgically = sized.take(segIdx + 4).toArray ++
      Array(0xFF.toByte) ++ sized.drop(segIdx + 4 + vintLen)
    val a = Webm.parse(sized)
    val b = Webm.parse(surgically)
    assert(a == b, "unknown-size Segment changed the walked fields")
  }

  test("Info.Duration is cross-checked against the video block ledger") {
    val good = Webm.synth(2L)
    // Duration element: id 0x4489, size 0x88, 8-byte float payload —
    // flip a mantissa byte so the declared duration drifts
    val i = good.indexOfSlice(Array(0x44.toByte, 0x89.toByte, 0x88.toByte))
    assert(i >= 0)
    val b = good.clone()
    b(i + 3 + 6) = (b(i + 3 + 6) ^ 0x40).toByte
    val e = intercept[IllegalArgumentException](Webm.parse(b))
    assert(e.getMessage.contains("Duration") ||
      e.getMessage.contains("ledger"), e.getMessage)
  }

  test("OpusHead channel count is cross-checked against Channels") {
    val good = Webm.synth(1L) // hasAudio(1): 1 % 3 != 2
    assert(Webm.hasAudio(1L))
    val i = good.indexOfSlice("OpusHead".getBytes("US-ASCII"))
    assert(i >= 0)
    val b = good.clone()
    b(i + 9) = 7 // OpusHead channels byte
    val e = intercept[IllegalArgumentException](Webm.parse(b))
    assert(e.getMessage.contains("channels"), e.getMessage)
  }

  test("VP9 docs cross-check their bit-parsed header against the track") {
    // d=3: VP9 (3%5=3); lie about PixelWidth -> the VP9 dim check fires
    assert(Webm.isVp9(3L))
    val good = Webm.synth(3L)
    val wIdx = good.indexOfSlice(Array(0xB0.toByte, 0x82.toByte))
    assert(wIdx >= 0)
    val lied = good.clone(); lied(wIdx + 2) = 0x07
    val e = intercept[IllegalArgumentException](Webm.parse(lied))
    assert(e.getMessage.contains("disagrees with the declared track"),
      e.getMessage)
    // corrupt the sync code of some VP9 frame -> loud by name; frame
    // payloads start after SimpleBlock headers — scan for the 3-byte
    // sync 49 83 42 and break it
    val sIdx = good.indexOfSlice(Array(0x49.toByte, 0x83.toByte, 0x42.toByte))
    assert(sIdx >= 0, "no VP9 sync code found")
    val bad = good.clone(); bad(sIdx) = 0x00
    val e2 = intercept[RuntimeException](Webm.parse(bad))
    assert(e2.getMessage.contains("sync") ||
      e2.getMessage.contains("webm"), e2.getMessage)
  }

  test("all four VP9 profiles and the RGB color space occur in range, " +
      "and RGB on a 4:2:0 profile is rejected") {
    val sigs = for {
      d <- 0L until 60L if Webm.isVp9(d)
      c <- 0 until Webm.nClusters(d)
      k <- 0 until Webm.nVideo(d, c)
    } yield Webm.vp9Sig(d + 13L * c + 7L * k)
    assert(sigs.map(_ / 1000).toSet == Set(0L, 1L, 2L, 3L),
      s"profile coverage: ${sigs.map(_ / 1000).toSet}")
    assert(sigs.exists(_ % 10 == 7), "no RGB header in fixture range")
    // a handcrafted profile-0 header declaring CS_RGB: marker 10,
    // profile 00, show_existing 0, key, show_frame 1, err 0 (= 0x82),
    // sync, then color_space 111 — the spec-illegal combination the
    // parser must reject by name
    val rgbOnP0 = Array[Byte](0x82.toByte, 0x49, 0x83.toByte, 0x42,
      0xE0.toByte, 0, 0, 0, 0, 0)
    val e = intercept[IllegalArgumentException](
      Webm.parseVp9Header(rgbOnP0))
    assert(e.getMessage.contains("illegal"), e.getMessage)
  }

  test("all four audio lacing schemes occur in fixture range") {
    val modes = (0L until 30L).filter(Webm.hasAudio).flatMap { d =>
      (0 until Webm.nClusters(d)).flatMap { c =>
        (0 until Webm.nAudio(d, c)).map(k => Webm.laceMode(d, c, k))
      }
    }.toSet
    assert(modes == Set(0, 1, 2, 3), s"lacing coverage: $modes")
  }


  test("vp8 frame dims stay pinned while headers rotate per block") {
    // the shared encoder invariant the Tracks cross-check relies on
    for (d <- 0L until 10L; c <- 0 until 2; k <- 0 until 2) {
      val f = Webp.synthVp8Frame(d, d + 13L * c + 7L * k)
      val w = (f(6) & 0xff) | ((f(7) & 0x3f) << 8)
      val h = (f(8) & 0xff) | ((f(9) & 0x3f) << 8)
      assert(w == Webm.videoW(d) && h == Webm.videoH(d))
      val hdr = Webp.parseVp8Header(f, 10)
      assert(hdr.yAcQi == ((d + 13L * c + 7L * k) % 128).toInt)
    }
  }
}
