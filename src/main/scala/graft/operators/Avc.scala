package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** H.264/AVC baseline I-frame decode (VERDICT r12 #8) — the last codec
  * boundary pushed from "metadata walk" (round 12's NAL/SPS/avcC) into
  * real pixel reconstruction, the same spec-subset discipline as the
  * JPEG/GIF/FLAC rows. Everything here is bounded integer arithmetic
  * from the public ITU-T H.264 spec: Exp-Golomb headers, CAVLC
  * residual blocks (coeff_token → trailing-one signs → level codes →
  * total_zeros → run_before), intra DC prediction (16x16, 4x4, and
  * chroma with the per-quadrant availability rules), LevelScale
  * dequantization, the 4x4 inverse integer transform and the 4x4
  * inverse Hadamard for the Intra16x16 DC chain, and I_PCM raw blocks
  * with their alignment bits.
  *
  * DECODE SUBSET, enforced loudly (require/sys.error names the
  * construct, never skips it): baseline CAVLC only (PPS
  * entropy_coding_mode must be 0), I slices only, DC prediction modes
  * only, frame_mbs_only, pic_order_cnt_type 2, no deblocking-control
  * fields, Rice— (n/a) — level_prefix < 15, and the coeff_token /
  * total_zeros VLC rows the fixture's code points exercise (nC<2 and
  * the 6-bit FLC context; total_zeros row TotalCoeff=1). Inter
  * prediction (P/B slices) and the remaining VLC rows stay the
  * documented video boundary — this is the I-frame half a keyframe
  * thumbnail/filter pass needs.
  *
  * The fixture frame is 4 MBs × 1 MB (64×16 luma, 4:2:0): an I_PCM
  * block, an Intra_16x16 DC MB whose single Hadamard-domain DC
  * coefficient rides the full CAVLC + dequant chain at QP 48 (mb_qp
  * deltas exercised: slice QP 24 → +24 → −24), an Intra_4x4 DC MB
  * with residuals on exactly the blocks that keep the reconstruction
  * flat (the (L=4, L=2) pair below), and a second I_PCM. Every
  * decoded sample therefore has a CLOSED FORM the DuckDB oracle
  * recomputes — a wrong zigzag, butterfly, dequant shift, prediction
  * average, or CAVLC code point cannot hash-match.
  */
object Avc {

  /** RBSP byte alignment on the read side: the skipped bits must be 0. */
  private def alignZero(r: Bin.MsbReader): Unit =
    while (r.bitPos % 8 != 0) require(r.u(1) == 0, "nonzero alignment bit")

  // ------------------------------------------------------ constants

  /** LevelScale4x4 `v` table (spec table 8-15 column per coefficient
    * class: class 0 = corners (0,0),(0,2),(2,0),(2,2); class 1 =
    * (1,1),(1,3),(3,1),(3,3); class 2 = the rest). */
  private val VTab: Array[Array[Int]] = Array(
    Array(10, 16, 13), Array(11, 18, 14), Array(13, 20, 16),
    Array(14, 23, 18), Array(16, 25, 20), Array(18, 29, 23))

  private def posClass(i: Int, j: Int): Int =
    if ((i % 2 == 0) && (j % 2 == 0)) 0
    else if ((i % 2 == 1) && (j % 2 == 1)) 1
    else 2

  /** 4x4 zigzag scan: scan index → raster index. */
  private val Zig = Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

  /** 4x4 luma block decoding order within a MB (blkIdx → (x4, y4)). */
  private val BlkXY: Array[(Int, Int)] = Array(
    (0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (3, 0), (2, 1), (3, 1),
    (0, 2), (1, 2), (0, 3), (1, 3), (2, 2), (3, 2), (2, 3), (3, 3))

  /** total_zeros VLC, TotalCoeff == 1, maxNumCoeff 16 (spec table
    * 9-7 first column): totalZeros value → (bit pattern, length). */
  private val TotalZerosTc1: Array[(Int, Int)] = Array(
    (1, 1), (3, 3), (2, 3), (3, 4), (2, 4), (3, 5), (2, 5), (3, 6),
    (2, 6), (3, 7), (2, 7), (3, 8), (2, 8), (3, 9), (2, 9), (1, 9))

  // ------------------------------------------------- CAVLC residual

  /** Decode one CAVLC residual block into `out` (raster order),
    * returning TotalCoeff. Supported code points are the fixture's:
    * nC < 2 table rows (0,0)/(1,0)/(1,1) and the 6-bit FLC context;
    * anything else is named and refused. */
  private def residualBlock(r: Bin.MsbReader, nC: Int,
      out: Array[Int]): Int = {
    java.util.Arrays.fill(out, 0)
    val (total, t1s) =
      if (nC >= 8) {
        val v = r.u(6)
        if (v == 3) (0, 0) else ((v >> 2) + 1, v & 3)
      } else if (nC >= 0 && nC < 2) {
        // table 9-5, nC < 2 — the rows the fixture can emit
        if (r.u(1) == 1) (0, 0)
        else if (r.u(1) == 1) (1, 1)
        else {
          // "00" consumed; fixture's only remaining point is (1,0) =
          // 000101: four more bits
          val rest = r.u(4)
          require(rest == 0x5,
            s"coeff_token prefix 00${rest.toBinaryString} outside the decode " +
              "subset (fixture emits (0,0)/(1,1)/(1,0) in the nC<2 row)")
          (1, 0)
        }
      } else throw new IllegalArgumentException(
        s"coeff_token context nC=$nC outside the decode subset")
    if (total == 0) return 0
    require(total <= 16, s"absurd TotalCoeff $total")
    val levels = new Array[Int](total)
    var i = 0
    while (i < t1s) { // trailing one signs
      levels(i) = if (r.u(1) == 1) -1 else 1
      i += 1
    }
    var suffixLength = if (total > 10 && t1s < 3) 1 else 0
    while (i < total) {
      var prefix = 0
      while (r.u(1) == 0) {
        prefix += 1
        require(prefix < 15,
          "level_prefix >= 15 (escape levels) outside the decode subset")
      }
      var levelCode = prefix << suffixLength
      if (suffixLength > 0) levelCode += r.u(suffixLength)
      if (i == t1s && t1s < 3) levelCode += 2
      val lvl =
        if (levelCode % 2 == 0) (levelCode + 2) >> 1
        else -((levelCode + 1) >> 1)
      levels(i) = lvl
      if (suffixLength == 0) suffixLength = 1
      if (math.abs(lvl) > (3 << (suffixLength - 1)) && suffixLength < 6)
        suffixLength += 1
      i += 1
    }
    var totalZeros = 0
    if (total < out.length) {
      require(total == 1,
        s"total_zeros row TotalCoeff=$total outside the decode subset")
      // match the TC=1 VLC row by (pattern, length)
      var code = 0; var len = 0; var hit = -1
      while (hit < 0) {
        code = (code << 1) | r.u(1); len += 1
        require(len <= 9, "total_zeros code outside the TC=1 row")
        var tz = 0
        while (tz < TotalZerosTc1.length && hit < 0) {
          if (TotalZerosTc1(tz) == ((code, len))) hit = tz
          tz += 1
        }
      }
      totalZeros = hit
    }
    // place levels: CAVLC stores the HIGHEST-frequency coefficient
    // first; run_before distributes the zeros between them
    var zerosLeft = totalZeros
    var scanPos = total - 1 + totalZeros // scan index of first level
    i = 0
    while (i < total) {
      require(scanPos < out.length, "coefficient placement overflow")
      out(Zig(scanPos)) = levels(i)
      if (i < total - 1) {
        var runBefore = 0
        if (zerosLeft > 0)
          throw new IllegalArgumentException("run_before outside the decode subset " +
            "(fixture blocks carry a single coefficient)")
        zerosLeft -= runBefore
        scanPos -= (1 + runBefore)
      }
      i += 1
    }
    total
  }

  // -------------------------------------------- transforms / dequant

  /** In-place 4x4 inverse integer transform butterflies + final
    * (x + 32) >> 6 rounding (spec 8.5.12.2). `d` is raster order. */
  private def inverseTransform4x4(d: Array[Int]): Unit = {
    val e = new Array[Int](16)
    var i = 0
    while (i < 4) { // rows
      val o = i * 4
      val a0 = d(o) + d(o + 2)
      val a1 = d(o) - d(o + 2)
      val a2 = (d(o + 1) >> 1) - d(o + 3)
      val a3 = d(o + 1) + (d(o + 3) >> 1)
      e(o) = a0 + a3; e(o + 1) = a1 + a2
      e(o + 2) = a1 - a2; e(o + 3) = a0 - a3
      i += 1
    }
    var j = 0
    while (j < 4) { // columns
      val a0 = e(j) + e(8 + j)
      val a1 = e(j) - e(8 + j)
      val a2 = (e(4 + j) >> 1) - e(12 + j)
      val a3 = e(4 + j) + (e(12 + j) >> 1)
      d(j) = (a0 + a3 + 32) >> 6
      d(4 + j) = (a1 + a2 + 32) >> 6
      d(8 + j) = (a1 - a2 + 32) >> 6
      d(12 + j) = (a0 - a3 + 32) >> 6
      j += 1
    }
  }

  /** 4x4 inverse Hadamard (no >>1 steps, no rounding) for the
    * Intra16x16 luma DC block (spec 8.5.10). */
  private def inverseHadamard4x4(d: Array[Int]): Unit = {
    val e = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val o = i * 4
      val a0 = d(o) + d(o + 2); val a1 = d(o) - d(o + 2)
      val a2 = d(o + 1) - d(o + 3); val a3 = d(o + 1) + d(o + 3)
      e(o) = a0 + a3; e(o + 1) = a1 + a2
      e(o + 2) = a1 - a2; e(o + 3) = a0 - a3
      i += 1
    }
    var j = 0
    while (j < 4) {
      val a0 = e(j) + e(8 + j); val a1 = e(j) - e(8 + j)
      val a2 = e(4 + j) - e(12 + j); val a3 = e(4 + j) + e(12 + j)
      d(j) = a0 + a3; d(4 + j) = a1 + a2
      d(8 + j) = a1 - a2; d(12 + j) = a0 - a3
      j += 1
    }
  }

  /** Dequantize a 4x4 residual block in place (raster order), JM
    * formulation: W = c · V[qp%6][class] << (qp/6); the inverse
    * transform's final (x+32)>>6 completes the scaling. */
  private def dequant4x4(d: Array[Int], qp: Int): Unit = {
    val m = qp % 6; val sh = qp / 6
    var i = 0
    while (i < 16) {
      if (d(i) != 0)
        d(i) = (d(i) * VTab(m)(posClass(i / 4, i % 4))) << sh
      i += 1
    }
  }

  private def clip1(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  // ----------------------------------------------------- SPS / PPS

  private final case class Sps(widthMbs: Int, heightMbs: Int,
      log2MaxFrameNum: Int)

  private def parseSpsLocal(rbsp: Array[Byte]): Sps = {
    val r = new Bin.MsbReader(rbsp, "slice RBSP")
    val profile = r.u(8)
    require(profile == 66,
      s"decode subset is baseline (profile 66), got $profile")
    r.u(8); r.u(8) // constraints, level
    r.ue() // sps id
    val log2 = r.ue() + 4
    require(r.ue() == 2, "decode subset requires pic_order_cnt_type 2")
    r.ue() // max_num_ref_frames
    r.u(1) // gaps
    val w = r.ue() + 1
    val h = r.ue() + 1
    require(r.u(1) == 1, "decode subset requires frame_mbs_only")
    r.u(1) // direct_8x8
    require(r.u(1) == 0, "decode subset takes uncropped frames")
    Sps(w, h, log2)
  }

  private def parsePpsLocal(rbsp: Array[Byte]): Int = {
    val r = new Bin.MsbReader(rbsp, "slice RBSP")
    r.ue(); r.ue() // pps id, sps id
    require(r.u(1) == 0,
      "entropy_coding_mode CABAC outside the decode subset (CAVLC only)")
    r.u(1) // bottom_field_pic_order_in_frame_present
    require(r.ue() == 0, "slice groups outside the decode subset")
    r.ue(); r.ue() // num_ref_idx defaults
    r.u(1); r.u(2) // weighted_pred, weighted_bipred
    val qpInit = 26 + r.se()
    r.se() // qs
    r.se() // chroma_qp_index_offset
    require(r.u(1) == 0,
      "deblocking_filter_control fields outside the decode subset")
    r.u(1) // constrained_intra_pred
    require(r.u(1) == 0, "redundant_pic_cnt outside the decode subset")
    qpInit
  }

  // -------------------------------------------------------- decoder

  final case class AvcFrame(width: Int, height: Int,
      y: Array[Int], cb: Array[Int], cr: Array[Int])

  /** Decode an Annex-B I-frame-only stream (SPS + PPS + one IDR
    * slice) to planar 4:2:0. */
  def decodeIFrame(bytes: Array[Byte]): AvcFrame = {
    val (_, nals) = Codecs.nalUnits(bytes)
    var sps: Option[Sps] = None
    var qpInit = -1
    var slice: Option[Array[Byte]] = None
    nals.foreach { nal =>
      require(nal.length >= 1 && (nal(0) & 0x80) == 0, "bad NAL header")
      val rbsp = Codecs.rbspUnescape(nal.drop(1))
      (nal(0) & 0x1f) match {
        case 7 => sps = Some(parseSpsLocal(rbsp))
        case 8 => qpInit = parsePpsLocal(rbsp)
        case 5 => require(slice.isEmpty,
            "decode subset takes a single IDR slice")
          slice = Some(rbsp)
        case 1 =>
          throw new IllegalArgumentException(
            "non-IDR slices (P/B inter prediction) are " +
            "the documented video boundary — I-frames only")
        case t =>
          throw new IllegalArgumentException(
            s"unexpected NAL type $t in I-frame stream")
      }
    }
    val s = sps.getOrElse(throw new IllegalArgumentException("stream carries no SPS"))
    require(qpInit > 0, "stream carries no PPS")
    val r = new Bin.MsbReader(slice.getOrElse(throw new IllegalArgumentException(
      "no IDR slice")), "slice RBSP")

    // slice header
    require(r.ue() == 0, "first_mb_in_slice != 0 (single-slice subset)")
    val sliceType = r.ue()
    require(sliceType == 2 || sliceType == 7,
      s"slice_type $sliceType is not I (P/B are the documented boundary)")
    r.ue() // pps id
    r.u(s.log2MaxFrameNum) // frame_num
    r.ue() // idr_pic_id
    // poc type 2: nothing; IDR dec_ref_pic_marking: 2 flags
    r.u(1); r.u(1)
    var qp = qpInit + r.se()

    val w = s.widthMbs * 16; val h = s.heightMbs * 16
    val y = new Array[Int](w * h)
    val cb = new Array[Int](w * h / 4); val cr = new Array[Int](w * h / 4)
    val cw = w / 2
    val nMbs = s.widthMbs * s.heightMbs
    // per-4x4-block TotalCoeff for nC derivation; I_PCM counts as 16
    val blkCoeffs = Array.fill(nMbs, 16)(0)
    val isPcm = new Array[Boolean](nMbs)

    def mbX(addr: Int) = addr % s.widthMbs
    def mbY(addr: Int) = addr / s.widthMbs

    /** nC for luma block blkIdx of MB addr: mean of available
      * left/top neighbor blocks' TotalCoeff (spec 9.2.1 subset —
      * both neighbors in-picture or absent; no slice boundaries). */
    def lumaNc(addr: Int, blkIdx: Int): Int = {
      val (bx, by) = BlkXY(blkIdx)
      def coeffAt(mAddr: Int, x4: Int, y4: Int): Int =
        if (isPcm(mAddr)) 16
        else blkCoeffs(mAddr)(BlkXY.indexOf((x4, y4)))
      val nA: Int =
        if (bx > 0) coeffAt(addr, bx - 1, by)
        else if (mbX(addr) > 0) coeffAt(addr - 1, 3, by)
        else -1
      val nB: Int =
        if (by > 0) coeffAt(addr, bx, by - 1)
        else if (mbY(addr) > 0) coeffAt(addr - s.widthMbs, bx, 3)
        else -1
      if (nA >= 0 && nB >= 0) (nA + nB + 1) >> 1
      else if (nA >= 0) nA
      else if (nB >= 0) nB
      else 0
    }

    /** Chroma DC prediction for a residual-free intra MB: the four
      * 4x4 quadrants of each 8x8 plane, per-quadrant availability
      * preferences of spec 8.3.4.2. */
    def decodeChromaDc(addr: Int): Unit = {
      val cx = mbX(addr) * 8; val cy = mbY(addr) * 8
      val leftAvail = mbX(addr) > 0
      val topAvail = mbY(addr) > 0
      Seq(cb, cr).foreach { plane =>
        var q = 0
        while (q < 4) {
          val qx = cx + (q % 2) * 4; val qy = cy + (q / 2) * 4
          var sumL = 0; var sumT = 0
          if (leftAvail) {
            var k = 0
            while (k < 4) { sumL += plane((qy + k) * cw + cx - 1); k += 1 }
          }
          if (topAvail) {
            var k = 0
            while (k < 4) { sumT += plane((cy - 1) * cw + qx + k); k += 1 }
          }
          val pred = q match {
            case 0 =>
              if (leftAvail && topAvail) (sumL + sumT + 4) >> 3
              else if (leftAvail) (sumL + 2) >> 2
              else if (topAvail) (sumT + 2) >> 2
              else 128
            case 1 => // prefers top
              if (topAvail) (sumT + 2) >> 2
              else if (leftAvail) (sumL + 2) >> 2
              else 128
            case 2 => // prefers left
              if (leftAvail) (sumL + 2) >> 2
              else if (topAvail) (sumT + 2) >> 2
              else 128
            case _ =>
              if (leftAvail && topAvail) (sumL + sumT + 4) >> 3
              else if (topAvail) (sumT + 2) >> 2
              else if (leftAvail) (sumL + 2) >> 2
              else 128
          }
          var yy = 0
          while (yy < 4) {
            var xx = 0
            while (xx < 4) {
              plane((qy + yy) * cw + qx + xx) = pred; xx += 1
            }
            yy += 1
          }
          q += 1
        }
      }
    }

    var addr = 0
    while (addr < nMbs) {
      val ox = mbX(addr) * 16; val oy = mbY(addr) * 16
      val mbType = r.ue()
      mbType match {
        case 25 => // I_PCM
          alignZero(r)
          var i = 0
          while (i < 256) {
            y((oy + i / 16) * w + ox + i % 16) = r.u(8); i += 1
          }
          i = 0
          while (i < 64) {
            cb((oy / 2 + i / 8) * cw + ox / 2 + i % 8) = r.u(8); i += 1
          }
          i = 0
          while (i < 64) {
            cr((oy / 2 + i / 8) * cw + ox / 2 + i % 8) = r.u(8); i += 1
          }
          isPcm(addr) = true

        case 0 => // I_4x4, all-DC fixture
          var b = 0
          while (b < 16) {
            require(r.u(1) == 1,
              "explicit intra4x4 pred modes outside the decode subset " +
                "(DC-predicted fixture signals prev_flag only)")
            b += 1
          }
          require(r.ue() == 0,
            "intra_chroma_pred_mode != DC outside the decode subset")
          // coded_block_pattern me(v), intra mapping (table 9-4)
          val codeNum = r.ue()
          val cbp = CbpIntra.lift(codeNum).getOrElse(
            throw new IllegalArgumentException(
              s"coded_block_pattern codeNum $codeNum invalid"))
          val cbpLuma = cbp & 15
          require((cbp >> 4) == 0,
            "chroma residuals outside the decode subset")
          if (cbp != 0) qp += r.se()
          val coeff = new Array[Int](16)
          var blk = 0
          while (blk < 16) {
            val (bx, by) = BlkXY(blk)
            val grp = (by >> 1) * 2 + (bx >> 1)
            var residual = Array.emptyIntArray
            if ((cbpLuma & (1 << grp)) != 0) {
              val tc = residualBlock(r, lumaNc(addr, blk), coeff)
              blkCoeffs(addr)(blk) = tc
              if (tc > 0) {
                residual = coeff.clone()
                dequant4x4(residual, qp)
                inverseTransform4x4(residual)
              }
            }
            // 4x4 DC prediction from reconstructed neighbors
            val px = ox + bx * 4; val py = oy + by * 4
            val topAvail = (py % 16 != 0) || mbY(addr) > 0
            val leftAvail = (px % 16 != 0) || mbX(addr) > 0
            var sumL = 0; var sumT = 0
            if (leftAvail) {
              var k = 0
              while (k < 4) { sumL += y((py + k) * w + px - 1); k += 1 }
            }
            if (topAvail) {
              var k = 0
              while (k < 4) { sumT += y((py - 1) * w + px + k); k += 1 }
            }
            val pred =
              if (leftAvail && topAvail) (sumL + sumT + 4) >> 3
              else if (leftAvail) (sumL + 2) >> 2
              else if (topAvail) (sumT + 2) >> 2
              else 128
            var yy = 0
            while (yy < 4) {
              var xx = 0
              while (xx < 4) {
                val res =
                  if (residual.nonEmpty) residual(yy * 4 + xx) else 0
                y((py + yy) * w + px + xx) = clip1(pred + res)
                xx += 1
              }
              yy += 1
            }
            blk += 1
          }
          decodeChromaDc(addr)

        case t if t >= 1 && t <= 24 => // Intra_16x16
          val predMode = (t - 1) % 4
          require(predMode == 2,
            s"Intra16x16 pred mode $predMode outside the decode subset " +
              "(DC only)")
          val cbpChroma = ((t - 1) / 4) % 3
          val cbpLuma = ((t - 1) / 12) * 15
          require(cbpChroma == 0 && cbpLuma == 0,
            "Intra16x16 AC/chroma residuals outside the decode subset")
          require(r.ue() == 0,
            "intra_chroma_pred_mode != DC outside the decode subset")
          qp += r.se()
          // Intra16x16DCLevel: one 16-coeff CAVLC block, nC as blk 0
          val dc = new Array[Int](16)
          residualBlock(r, lumaNc(addr, 0), dc)
          // the DC block's TotalCoeff feeds nC chains only through
          // the AC blocks per spec, which stay 0 here
          inverseHadamard4x4(dc)
          val m = qp % 6; val sh = qp / 6
          var i = 0
          while (i < 16) {
            dc(i) =
              if (sh >= 6) (dc(i) * VTab(m)(0)) << (sh - 6)
              else (dc(i) * VTab(m)(0)) >> (6 - sh)
            i += 1
          }
          // 16x16 DC prediction
          val leftAvail = mbX(addr) > 0
          val topAvail = mbY(addr) > 0
          var sumL = 0; var sumT = 0
          if (leftAvail) {
            var k = 0
            while (k < 16) { sumL += y((oy + k) * w + ox - 1); k += 1 }
          }
          if (topAvail) {
            var k = 0
            while (k < 16) { sumT += y((oy - 1) * w + ox + k); k += 1 }
          }
          val pred =
            if (leftAvail && topAvail) (sumL + sumT + 16) >> 5
            else if (leftAvail) (sumL + 8) >> 4
            else if (topAvail) (sumT + 8) >> 4
            else 128
          // each 4x4 block: residual = inverse transform of (dcY, 0…)
          var blk = 0
          while (blk < 16) {
            val (bx, by) = BlkXY(blk)
            val d4 = new Array[Int](16)
            // raster position of this 4x4 block inside the DC array
            d4(0) = dc(by * 4 + bx)
            inverseTransform4x4(d4)
            var yy = 0
            while (yy < 4) {
              var xx = 0
              while (xx < 4) {
                y((oy + by * 4 + yy) * w + ox + bx * 4 + xx) =
                  clip1(pred + d4(yy * 4 + xx))
                xx += 1
              }
              yy += 1
            }
            blk += 1
          }
          decodeChromaDc(addr)

        case t =>
          throw new IllegalArgumentException(
            s"mb_type $t outside the decode subset " +
            "(I_4x4 / Intra16x16-DC / I_PCM)")
      }
      addr += 1
    }

    // rbsp stop bit
    require(r.u(1) == 1, "missing rbsp_stop_one_bit after the last MB")
    AvcFrame(w, h, y, cb, cr)
  }

  /** coded_block_pattern me(v) intra mapping (spec table 9-4,
    * ChromaArrayType 1): codeNum → cbp. */
  private val CbpIntra: Array[Int] = Array(
    47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43, 45, 46,
    16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42, 44, 1, 2, 4,
    8, 17, 18, 20, 24, 6, 9, 22, 25, 32, 33, 34, 36, 40, 38, 41)

  // -------------------------------------------------------- encoder

  /** Closed-form decoded luma value of MB k for doc d (the contract
    * shared with the oracle; see the Scaladoc walk-through). */
  def lumaOfMb(d: Long, k: Int): Int = {
    val v0 = (60 + d % 40).toInt
    val c00 = (3 + d % 6).toInt
    val r1 = (152 + 40 * (c00 - 3)) >> 6 // qp48 DC chain, see synth
    k match {
      case 0 => v0
      case 1 => v0 + r1
      case 2 => v0 + r1 + 10
      case _ => (70 + (3 * d) % 60).toInt
    }
  }

  def chromaOfMb(d: Long, k: Int): (Int, Int) =
    if (k == 3) ((90 + d % 20).toInt, (150 + d % 15).toInt)
    else ((100 + d % 30).toInt, (140 + d % 25).toInt)

  /** Synthesize the Annex-B IDR stream whose decode is lumaOfMb /
    * chromaOfMb: SPS(baseline, 4x1 MBs) + PPS(CAVLC) + one I slice
    * with [I_PCM, Intra16x16-DC(QP48 via +24 delta), I_4x4-DC(QP24,
    * L=4 on blk0 and L=2 on blks 2/8/10 — the unique level pair that
    * keeps the MB flat through the DC-prediction chain), I_PCM]. */
  def synthIFrame(d: Long): Array[Byte] = {
    val sps = {
      val w = new Bin.MsbWriter
      w.u(66, 8); w.u(0, 8); w.u(20, 8) // baseline, level 2.0
      w.ue(0) // sps id
      w.ue(0) // log2_max_frame_num_minus4
      w.ue(2) // poc type
      w.ue(1) // max_num_ref_frames
      w.u(0, 1) // gaps
      w.ue(3); w.ue(0) // 4 x 1 MBs
      w.u(1, 1) // frame_mbs_only
      w.u(1, 1) // direct_8x8
      w.u(0, 1) // cropping
      w.u(0, 1) // vui
      0x67.toByte +: Codecs.rbspEscape(Codecs.rbspTrailing(w))
    }
    val pps = {
      val w = new Bin.MsbWriter
      w.ue(0); w.ue(0) // pps id, sps id
      w.u(0, 1) // CAVLC
      w.u(0, 1) // bottom_field_pic_order
      w.ue(0) // slice groups
      w.ue(0); w.ue(0) // num_ref_idx defaults
      w.u(0, 1); w.u(0, 2) // weighted pred flags
      w.se(0); w.se(0); w.se(0) // qp, qs, chroma offset
      w.u(0, 1) // deblocking control present
      w.u(0, 1) // constrained intra
      w.u(0, 1) // redundant pic cnt present
      0x68.toByte +: Codecs.rbspEscape(Codecs.rbspTrailing(w))
    }
    val slice = {
      val w = new Bin.MsbWriter
      w.ue(0) // first_mb_in_slice
      w.ue(7) // slice_type I (all slices in pic)
      w.ue(0) // pps id
      w.u(0, 4) // frame_num
      w.ue(0) // idr_pic_id
      w.u(0, 1); w.u(0, 1) // dec_ref_pic_marking
      w.se(-2) // slice_qp_delta: QP = 24

      def writePcm(k: Int): Unit = {
        w.ue(25)
        w.align()
        val v = lumaOfMb(d, k)
        (0 until 256).foreach(_ => w.u(v, 8))
        val (cbv, crv) = chromaOfMb(d, k)
        (0 until 64).foreach(_ => w.u(cbv, 8))
        (0 until 64).foreach(_ => w.u(crv, 8))
      }
      // one-coefficient CAVLC block: coeff at scan pos 0, level L>=2,
      // in the given coeff_token context
      def writeOneCoeff(nC: Int, level: Int): Unit = {
        if (nC >= 8) w.u(0, 6) // FLC (TotalCoeff 1, T1 0)
        else w.u(0x5, 6) // nC<2: (1,0) = 000101
        val levelCode = 2 * level - 2 - 2 // positive level, first, T1<3
        w.u(0, levelCode); w.u(1, 1) // unary level_prefix
        w.u(1, 1) // total_zeros = 0 in the TC=1 row
      }

      writePcm(0)

      // MB1: Intra16x16, DC pred, cbp 0 → mb_type 3; QP 24+24 = 48
      w.ue(3)
      w.ue(0) // chroma DC
      w.se(24)
      writeOneCoeff(nC = 16, level = (3 + d % 6).toInt)

      // MB2: I_4x4, all-DC, cbp luma 5 (8x8 groups 0 and 2); QP back
      // to 24; blk0 carries L=4 (+10), blks 2/8/10 carry L=2 (+5 onto
      // the averaged prediction) — flat MB at left+10
      w.ue(0)
      (0 until 16).foreach(_ => w.u(1, 1)) // prev_intra4x4_pred_mode
      w.ue(0) // chroma DC
      w.ue(CbpIntra.indexOf(5)) // coded_block_pattern me(v)
      w.se(-24)
      // group 0: blks 0,1,2,3 — 0 and 2 coded with levels, 1 and 3
      // empty; group 2: blks 8,9,10,11 — 8 and 10 coded
      writeOneCoeff(nC = 0, level = 4) // blk 0 (nA=0 from MB1 AC)
      w.u(1, 1) // blk 1: coeff_token (0,0) in nC<2 row
      writeOneCoeff(nC = 1, level = 2) // blk 2
      w.u(1, 1) // blk 3
      writeOneCoeff(nC = 1, level = 2) // blk 8
      w.u(1, 1) // blk 9
      writeOneCoeff(nC = 1, level = 2) // blk 10
      w.u(1, 1) // blk 11

      writePcm(3)
      0x65.toByte +: Codecs.rbspEscape(Codecs.rbspTrailing(w))
    }
    val out = new java.io.ByteArrayOutputStream(2048)
    Seq(sps, pps, slice).foreach { n =>
      out.write(0); out.write(0); out.write(0); out.write(1)
      out.write(n, 0, n.length)
    }
    out.toByteArray
  }

  private val frameSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("sum_y", LongType),
    StructField("sum_cb", LongType),
    StructField("sum_cr", LongType),
    StructField("px_y_20_5", IntegerType),
    StructField("px_y_44_9", IntegerType)))

  /** ids → synth real Annex-B IDR stream → decode for real → exact
    * integer frame features. Per-doc map work, no shuffle. */
  def iframeFeatures(ids: DataFrame, idCol: String): DataFrame = {
    val idIdx = ids.schema.fieldIndex(idCol)
    val rdd = ids.rdd.mapPartitions { rows =>
      rows.map { r =>
        val d = r.getLong(idIdx)
        val f = decodeIFrame(synthIFrame(d))
        var sy = 0L; var scb = 0L; var scr = 0L
        f.y.foreach(sy += _)
        f.cb.foreach(scb += _)
        f.cr.foreach(scr += _)
        Row(d, f.width, f.height, sy, scb, scr,
          f.y(5 * f.width + 20), f.y(9 * f.width + 44))
      }
    }
    ids.sparkSession.createDataFrame(rdd, frameSchema)
  }

  // ------------------------------------------- AVC-in-MP4 keyframes

  /** MP4 whose stsd/avc1/avcC carries the fixture SPS/PPS and whose
    * mdat samples are 4-byte-length-prefixed IDR slice NALs — the
    * container shape a real H.264 keyframe/thumbnail pass reads.
    * 1 + d%3 keyframes; keyframe k decodes to the closed forms of
    * seed d + 1000·k. Two chunks whenever there is more than one
    * sample, so the stsc walk is load-bearing here too. */
  def synthIdrMp4(d: Long): Array[Byte] = {
    val (_, paramNals) = Codecs.nalUnits(synthIFrame(d))
    val spsNal = paramNals.find(n => (n(0) & 0x1f) == 7).get
    val ppsNal = paramNals.find(n => (n(0) & 0x1f) == 8).get
    val n = (1 + d % 3).toInt
    val samples = (0 until n).map { k =>
      val (_, nals) = Codecs.nalUnits(synthIFrame(d + 1000L * k))
      val idr = nals.find(nl => (nl(0) & 0x1f) == 5).get
      val out = new java.io.ByteArrayOutputStream(idr.length + 4)
      out.write(idr.length >>> 24); out.write((idr.length >> 16) & 0xff)
      out.write((idr.length >> 8) & 0xff); out.write(idr.length & 0xff)
      out.write(idr, 0, idr.length)
      out.toByteArray
    }
    Codecs.encodeMp4DataShell((600 + 100 * (d % 9)).toInt,
      Seq((n, 512)), samples,
      if (n > 1) Seq(1, n - 1) else Seq(n),
      stsd = Codecs.avcStsdBox(spsNal, ppsNal))
  }

  /** Convert one AVCC-framed sample (length-prefixed NALs) plus the
    * avcC parameter sets into the Annex-B stream decodeIFrame takes —
    * exactly the demuxer step a player performs per keyframe. */
  def avccSampleToAnnexB(spsNal: Array[Byte], ppsNal: Array[Byte],
      lenSize: Int, sample: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(
      sample.length + spsNal.length + ppsNal.length + 16)
    def nal(n: Array[Byte]): Unit = {
      out.write(0); out.write(0); out.write(0); out.write(1)
      out.write(n, 0, n.length)
    }
    nal(spsNal); nal(ppsNal)
    var pos = 0
    while (pos < sample.length) {
      Bin.checkRange(pos, lenSize, sample.length, "truncated NAL length prefix")
      var len = 0
      var k = 0
      while (k < lenSize) {
        len = (len << 8) | (sample(pos + k) & 0xff); k += 1
      }
      pos += lenSize
      require(len > 0, s"NAL length $len overruns the sample at $pos")
      Bin.checkRange(pos, len, sample.length, "NAL length")
      nal(java.util.Arrays.copyOfRange(sample, pos, pos + len))
      pos += len
    }
    out.toByteArray
  }

  private val keyframeSchema = StructType(
    StructField("id", LongType) +:
      StructField("frame_idx", IntegerType) +:
      frameSchema.fields.toSeq.drop(1))

  /** REAL keyframe decode per partition: the avcC parameter-set read
    * + the stsc/stco/stsz sample walk + mdat slice + AVCC→Annex-B
    * reframe COMPOSED with the I-frame decoder — the H.264 analog of
    * videoFrameFeatures' MJPEG composition, one row per keyframe.
    * Per-doc map work, no shuffle. */
  def keyframeFeatures(df: DataFrame, idCol: String): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    val mediaIdx = df.schema.fieldIndex("media")
    val rdd = df.rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val d = r.getLong(idIdx)
        val bytes = r.getStruct(mediaIdx).getAs[Array[Byte]]("bytes")
        val (spsNal, ppsNal, lenSize) = Codecs.avccParameterSets(bytes)
        Codecs.mp4SampleSlices(bytes).iterator.map { case (idx, slice) =>
          val f = decodeIFrame(
            avccSampleToAnnexB(spsNal, ppsNal, lenSize, slice))
          var sy = 0L; var scb = 0L; var scr = 0L
          f.y.foreach(sy += _)
          f.cb.foreach(scb += _)
          f.cr.foreach(scr += _)
          Row(d, idx, f.width, f.height, sy, scb, scr,
            f.y(5 * f.width + 20), f.y(9 * f.width + 44))
        }
      }
    }
    df.sparkSession.createDataFrame(rdd, keyframeSchema)
  }
}
