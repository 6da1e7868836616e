package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Avro OBJECT CONTAINER walk, from the public spec (Avro 1.12
  * "Object Container Files") — the row-lake format data engineering
  * actually ships beside parquet/orc. No connector jar exists on this
  * classpath, so the walk is from-spec hand parsing like the other
  * container operators: magic `Obj\x01`, the file metadata MAP
  * (zigzag-varint block counts, avro.schema JSON + avro.codec), a
  * 16-byte sync marker, then data blocks of (record count, byte
  * size, payload, sync) with the sync REQUIRED to match per block.
  * Codecs: null and deflate (RAW deflate, no zlib header). The
  * record subset decoded is the fixture schema (long, string,
  * double): zigzag varints, length-prefixed UTF-8, little-endian
  * IEEE doubles. The bundled org.apache.avro library (shipped with
  * Spark itself) is used ONLY in the spec as the independent
  * cross-check decoder, the ImageIO pattern. Malformed input fails
  * loudly by name. */
object AvroWalk {

  final case class AvroRec(blockIdx: Int, recIdx: Int, recId: Long,
      name: String, score: Double)

  val FixtureSchemaJson: String =
    """{"type":"record","name":"Doc","fields":[""" +
      """{"name":"rec_id","type":"long"},""" +
      """{"name":"name","type":"string"},""" +
      """{"name":"score","type":"double"}]}"""

  private def str(in: Bin.Cursor): String = {
    val n = in.zigzag()
    require(n >= 0 && n <= Int.MaxValue, s"avro: negative string length $n")
    new String(in.bytes(n), "UTF-8")
  }

  def parse(bytesIn: Array[Byte]): Array[AvroRec] = {
    val in = new Bin.Cursor(bytesIn, 0, bytesIn.length, "avro")
    require(in.u8() == 'O' && in.u8() == 'b' && in.u8() == 'j' &&
      in.u8() == 1, "avro: bad container magic")
    // file metadata map: blocks of (count, pairs...), 0 terminates; a
    // negative count is followed by a byte size (spec allows skipping)
    var schema: String = null
    var codec = "null"
    var n = in.zigzag()
    while (n != 0) {
      if (n < 0) { in.zigzag(); n = -n } // block byte size, unused
      (0L until n).foreach { _ =>
        val k = str(in)
        val vLen = in.zigzag()
        require(vLen >= 0, s"avro: negative metadata value length")
        val v = in.bytes(vLen)
        k match {
          case "avro.schema" => schema = new String(v, "UTF-8")
          case "avro.codec" => codec = new String(v, "US-ASCII")
          case _ => () // application metadata is skippable
        }
      }
      n = in.zigzag()
    }
    require(schema != null, "avro: metadata lacks avro.schema")
    // schema-scoped subset: the walk decodes exactly the fixture
    // record layout; anything else is refused by name, never guessed
    val canon = schema.replaceAll("\\s", "")
    require(canon == FixtureSchemaJson,
      s"avro: schema outside the decode subset: $schema")
    require(codec == "null" || codec == "deflate",
      s"avro: codec '$codec' unsupported (null/deflate)")
    val sync = in.bytes(16)
    val out = collection.mutable.ArrayBuffer.empty[AvroRec]
    var blockIdx = 0
    while (in.pos < bytesIn.length) {
      val count = in.zigzag()
      require(count > 0, s"avro: non-positive block count $count")
      require(count < (1L << 24), s"avro: absurd block count $count")
      val size = in.zigzag()
      require(size >= 0 && size < (1L << 26), s"avro: absurd block size")
      val payload = in.bytes(size)
      val plain =
        if (codec == "null") payload
        else {
          val inf = new java.util.zip.Inflater(true)
          try {
            inf.setInput(payload)
            val buf = new java.io.ByteArrayOutputStream(payload.length * 2)
            val tmp = new Array[Byte](8192)
            while (!inf.finished()) {
              val got = try inf.inflate(tmp) catch {
                case e: java.util.zip.DataFormatException =>
                  throw new IllegalArgumentException(
                    s"avro: block $blockIdx deflate corrupt: " +
                    e.getMessage)
              }
              if (got > 0) {
                buf.write(tmp, 0, got)
                require(buf.size <= (1 << 26),
                  "avro: block inflates beyond the 64 MiB guard")
              } else require(inf.finished(),
                s"avro: block $blockIdx deflate truncated")
            }
            buf.toByteArray
          } finally inf.end()
        }
      val rin = new Bin.Cursor(plain, 0, plain.length, "avro")
      (0L until count).foreach { r =>
        val recId = rin.zigzag()
        val name = str(rin)
        val score = java.lang.Double.longBitsToDouble(rin.u64le())
        out += AvroRec(blockIdx, r.toInt, recId, name, score)
      }
      require(rin.pos == plain.length,
        s"avro: block $blockIdx decoded ${rin.pos} of ${plain.length} bytes")
      val s2 = in.bytes(16)
      require(java.util.Arrays.equals(s2, sync),
        s"avro: block $blockIdx sync marker mismatch")
      blockIdx += 1
    }
    require(blockIdx > 0, "avro: container with no data blocks")
    out.toArray
  }

  // ------------------------------------------------------------------
  // Closed-form fixture: 1 + d%3 blocks of 2 + (d+b)%4 records; odd
  // ids deflate their blocks. Record (b, r): rec_id = 100·d + 10·b +
  // r, name = "n{(d+b+r)%13}", score = (d%7) + r/4 (quarters — exact
  // in binary, so the double path is hash-stable cross-engine).
  // ------------------------------------------------------------------

  def blocks(d: Long): Int = (1 + d % 3).toInt
  def recsIn(d: Long, b: Int): Int = (2 + (d + b) % 4).toInt

  private def writeVar(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    var z = (v << 1) ^ (v >> 63)
    while ((z & ~0x7fL) != 0) {
      out.write(((z & 0x7f) | 0x80).toInt); z >>>= 7
    }
    out.write(z.toInt)
  }
  private def writeStr(out: java.io.ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes("UTF-8")
    writeVar(out, b.length.toLong)
    out.write(b, 0, b.length)
  }

  def synth(d: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(1024)
    out.write('O'); out.write('b'); out.write('j'); out.write(1)
    val codec = if (d % 2 == 1) "deflate" else "null"
    writeVar(out, 2) // one metadata block of two pairs
    writeStr(out, "avro.schema")
    val sb = FixtureSchemaJson.getBytes("UTF-8")
    writeVar(out, sb.length.toLong); out.write(sb, 0, sb.length)
    writeStr(out, "avro.codec")
    val cb = codec.getBytes("US-ASCII")
    writeVar(out, cb.length.toLong); out.write(cb, 0, cb.length)
    writeVar(out, 0) // map terminator
    val sync = Array.tabulate[Byte](16)(i => ((d * 31 + i * 7) % 251).toByte)
    out.write(sync, 0, 16)
    (0 until blocks(d)).foreach { b =>
      val body = new java.io.ByteArrayOutputStream(256)
      val nr = recsIn(d, b)
      (0 until nr).foreach { r =>
        writeVar(body, 100 * d + 10 * b + r)
        writeStr(body, s"n${(d + b + r) % 13}")
        val bits = java.lang.Double.doubleToLongBits((d % 7) + r / 4.0)
        val db = new Array[Byte](8)
        java.nio.ByteBuffer.wrap(db)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(bits)
        body.write(db, 0, 8)
      }
      val plain = body.toByteArray
      val payload = if (codec == "null") plain else {
        val df = new java.util.zip.Deflater(
          java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
        try {
          df.setInput(plain); df.finish()
          val buf = new Array[Byte](plain.length + 64)
          val m = df.deflate(buf)
          require(df.finished(), "fixture deflate did not finish")
          java.util.Arrays.copyOf(buf, m)
        } finally df.end()
      }
      writeVar(out, nr.toLong)
      writeVar(out, payload.length.toLong)
      out.write(payload, 0, payload.length)
      out.write(sync, 0, 16)
    }
    out.toByteArray
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("block_idx", IntegerType),
    StructField("rec_idx", IntegerType),
    StructField("rec_id", LongType),
    StructField("name", StringType),
    StructField("score", DoubleType)))

  /** ids → one row per contained record — per-doc map work like the
    * other container walks. */
  def avroFeatures(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, schema) { d =>
      parse(synth(d)).iterator.map(a =>
        Row(d, a.blockIdx, a.recIdx, a.recId, a.name, a.score))
    }
}
