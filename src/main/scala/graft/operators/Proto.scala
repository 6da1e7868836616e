package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Protobuf WIRE-FORMAT walk, from the public encoding spec — the
  * RPC/log serialization the telemetry side of a data platform ships.
  * No protobuf runtime exists on this classpath, so the walk is
  * from-spec hand parsing like the other container ops: tag varints
  * (field number << 3 | wire type), base-128 varints, ZigZag sint64,
  * little-endian fixed64 doubles, length-delimited strings and PACKED
  * repeated int32s — and, the behavior that makes protobuf protobuf,
  * UNKNOWN fields skipped BY WIRE TYPE (forward compatibility: the
  * fixture injects unknown varint, fixed64, fixed32, and
  * length-delimited fields that a correct walk must step over and a
  * naive one cannot). Message subset:
  *   1 rec_id  int64 (varint)   2 name   string
  *   3 score   double (fixed64) 4 tags   repeated int32 (packed)
  *   5 delta   sint64 (zigzag)
  * Wire type 3/4 (the removed groups) and truncation fail loudly. */
object Proto {

  final case class ProtoRec(recId: Long, name: String, score: Double,
      tags: Array[Int], delta: Long)

  /** (start, length) of a length-delimited field, skipped past. */
  private def lenDelim(in: Bin.Cursor): (Int, Int) = {
    val n = in.varint()
    val start = in.pos
    in.skip(n)
    (start, n.toInt)
  }

  def parse(bytes: Array[Byte]): ProtoRec = {
    val in = new Bin.Cursor(bytes, 0, bytes.length, "proto")
    var recId = 0L
    var name: String = null
    var score = 0.0
    val tags = collection.mutable.ArrayBuffer.empty[Int]
    var delta = 0L
    while (in.hasMore) {
      val tag = in.varint()
      val field = (tag >>> 3).toInt
      val wire = (tag & 7).toInt
      (field, wire) match {
        case (1, 0) => recId = in.varint()
        case (2, 2) =>
          val (s, n) = lenDelim(in)
          name = new String(in.b, s, n, "UTF-8")
        case (3, 1) =>
          score = java.lang.Double.longBitsToDouble(in.u64le())
        case (4, 2) => // packed repeated int32
          val (s, n) = lenDelim(in)
          val sub = new Bin.Cursor(in.b, s, s + n, "proto")
          while (sub.hasMore) tags += sub.varint().toInt
        case (5, 0) => // sint64: zigzag varint
          delta = in.zigzag()
        case (_, 0) => in.varint() // unknown varint: skip
        case (_, 1) => in.u64le() // unknown fixed64: skip
        case (_, 5) => in.u32le() // unknown fixed32: skip
        case (_, 2) => lenDelim(in) // unknown length-delimited: skip
        case (_, w) =>
          throw new IllegalArgumentException(
            s"proto: wire type $w (group or reserved) on " +
            s"field $field is outside the walk's scope")
      }
    }
    require(name != null, "proto: message missing required-by-contract name")
    ProtoRec(recId, name, score, tags.toArray, delta)
  }

  // ------------------------------------------------------------------
  // Closed-form fixture: rec_id 1000+d, name n{d%13}, score quarter
  // steps, 1+d%4 packed tags (7d+3k)%100, delta = zigzagged ±(d%50)
  // (negative on odd ids — the encoding zigzag exists for). d%3==1
  // docs interleave FOUR unknown fields (varint #9, fixed64 #10,
  // length-delimited #11, fixed32 #12) BETWEEN the known ones, so
  // skipping is load-bearing, not incidental.
  // ------------------------------------------------------------------

  def tagCount(d: Long): Int = (1 + d % 4).toInt
  def hasUnknown(d: Long): Boolean = d % 3 == 1

  private def writeVarint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }
  private def writeTag(out: java.io.ByteArrayOutputStream, f: Int, w: Int): Unit =
    writeVarint(out, (f.toLong << 3) | w)

  def synth(d: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(128)
    def unknowns(phase: Int): Unit = if (hasUnknown(d)) phase match {
      case 0 =>
        writeTag(out, 9, 0); writeVarint(out, 7 * d + 1)
      case 1 =>
        writeTag(out, 10, 1)
        (0 until 8).foreach(i => out.write(((d + i) % 251).toInt))
      case 2 =>
        writeTag(out, 11, 2)
        val junk = s"junk$d".getBytes("UTF-8")
        writeVarint(out, junk.length.toLong); out.write(junk, 0, junk.length)
      case _ =>
        writeTag(out, 12, 5)
        (0 until 4).foreach(i => out.write(((3 * d + i) % 251).toInt))
    }
    unknowns(0)
    writeTag(out, 1, 0); writeVarint(out, 1000 + d)
    unknowns(1)
    val nb = s"n${d % 13}".getBytes("UTF-8")
    writeTag(out, 2, 2); writeVarint(out, nb.length.toLong)
    out.write(nb, 0, nb.length)
    unknowns(2)
    writeTag(out, 3, 1)
    val bits = java.lang.Double.doubleToLongBits((d % 5) + (d % 4) / 4.0)
    (0 until 8).foreach(i => out.write(((bits >>> (8 * i)) & 0xff).toInt))
    val packed = new java.io.ByteArrayOutputStream(16)
    (0 until tagCount(d)).foreach(k => writeVarint(packed, (7 * d + 3 * k) % 100))
    writeTag(out, 4, 2)
    writeVarint(out, packed.size.toLong)
    packed.writeTo(out)
    unknowns(3)
    val deltaV = if (d % 2 == 1) -(d % 50) else d % 50
    writeTag(out, 5, 0); writeVarint(out, (deltaV << 1) ^ (deltaV >> 63))
    out.toByteArray
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("rec_id", LongType),
    StructField("name", StringType),
    StructField("score", DoubleType),
    StructField("n_tags", IntegerType),
    StructField("tag_sum", LongType),
    StructField("delta", LongType)))

  /** ids → one decoded message each — per-doc map work. */
  def protoFeatures(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, schema) { d =>
      val m = parse(synth(d))
      var ts = 0L
      m.tags.foreach(ts += _)
      Iterator.single(Row(d, m.recId, m.name, m.score, m.tags.length, ts,
        m.delta))
    }
}
