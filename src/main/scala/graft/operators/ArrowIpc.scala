package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Arrow IPC *file* walk (VERDICT r15 #6) — the in-memory lake
  * sibling of the parquet footer walk, from the PUBLIC specs only:
  * the Arrow IPC file layout (leading/trailing ARROW1 magic, footer
  * flatbuffer + int32 length), a from-scratch FLATBUFFERS table walk
  * (root uoffset, vtables with per-field slots, strings, vectors of
  * offsets and of inline structs), the Footer/Schema/Field tables
  * with the Type union (Int / FloatingPoint / Utf8 / Bool surfaced;
  * the rest reported by union id), and each record-batch Block's
  * encapsulated MESSAGE header (continuation marker, Message
  * flatbuffer, RecordBatch row counts and per-node null counts) —
  * metadata only, no data-buffer bytes are interpreted, exactly the
  * O(files) scan-budgeting pre-pass the parquet walk models.
  *
  * Ledger cross-checks (the lying-footer discipline): every Block's
  * bodyLength must equal its Message's own bodyLength field, the
  * Message header union must actually be a RecordBatch, blocks must
  * sit inside the file, and per-field node lengths must equal the
  * batch row count.
  *
  * The fixture is written by this object's own from-spec flatbuffers
  * writer — REAL validity bitmaps / offsets / data buffers, so the
  * bundled arrow-vector reader (on Spark's own classpath) can load it
  * end-to-end; ArrowIpcSpec proves conformance BOTH directions (our
  * walk reads arrow-vector's files; arrow-vector reads ours), the
  * AvroWalk/zstd discipline.
  *
  * Bomb guards: flatbuffers offsets/vtables containment-checked,
  * table nesting and vector lengths capped, block counts capped —
  * a crafted footer cannot loop or overrun the walk.
  */
object ArrowIpc {

  // ------------------------------------------------ closed forms

  def nBatches(d: Long): Int = (1 + d % 3).toInt
  def rowsInBatch(d: Long, j: Int): Int = (5 + (d + j) % 10).toInt
  def hasTag(d: Long): Boolean = d % 2 == 1
  def nFields(d: Long): Int = if (hasTag(d)) 5 else 4
  /** score is null at rows where (d+j+i)%7==0. */
  def isNull(d: Long, j: Int, i: Int): Boolean = (d + j + i) % 7 == 0
  def idVal(d: Long, j: Int, i: Int): Long = d * 1000 + j * 100 + i
  def scoreVal(d: Long, j: Int, i: Int): Double =
    ((d + 31 * j + 7 * i) % 100).toDouble / 4.0
  def nameVal(d: Long, j: Int, i: Int): String =
    "n" + ('a' + ((d + i + j) % 26).toInt).toChar
  def flagVal(d: Long, j: Int, i: Int): Boolean = (d + i + j) % 2 == 0
  def tagVal(i: Int): String = "t" + (i % 3)

  // -------------------------------------------- flatbuffers writer

  /** Minimal forward-growing flatbuffers builder: parents are written
    * first with placeholder uoffset slots, children after, and every
    * slot patched once its target exists — equivalent buffers to the
    * reference back-to-front builder, target > slot so uoffsets stay
    * positive. */
  private final class Fb {
    var a = new Array[Byte](1024)
    var len = 0
    private def ensure(n: Int): Unit =
      if (len + n > a.length) {
        val na = new Array[Byte](math.max(a.length * 2, len + n))
        System.arraycopy(a, 0, na, 0, len); a = na
      }
    def pad(align: Int): Unit = {
      while (len % align != 0) { ensure(1); a(len) = 0; len += 1 }
    }
    def u8(v: Int): Unit = { ensure(1); a(len) = v.toByte; len += 1 }
    def i16(v: Int): Unit = bytes(Bin.le16(v))
    def i32(v: Int): Unit = bytes(Bin.le32(v))
    def bytes(b: Array[Byte]): Unit = { ensure(b.length)
      System.arraycopy(b, 0, a, len, b.length); len += b.length }
    def result: Array[Byte] = java.util.Arrays.copyOf(a, len)
  }

  /** One table field: either inline bytes (scalars/structs, with an
    * alignment) or a forward reference to another object. */
  private sealed trait FVal
  private final case class Inline(b: Array[Byte], align: Int) extends FVal
  private final case class Ref(id: Int) extends FVal

  /** Buffer assembler: objects registered as thunks, written in
    * registration order, uoffset slots patched at the end. */
  private final class FbDoc {
    private val fb = new Fb
    private val objPos = collection.mutable.Map.empty[Int, Int]
    private val fixups = collection.mutable.ArrayBuffer.empty[(Int, Int)]
    private var nextId = 0
    private val pendingWrites =
      collection.mutable.ArrayBuffer.empty[(Int, () => Unit)]

    def alloc(): Int = { nextId += 1; nextId }

    def writeRoot(rootRef: Int): Unit = {
      fixups += ((fb.len, rootRef))
      fb.i32(0) // patched
    }

    def table(id: Int, fields: Seq[(Int, FVal)]): Unit =
      pendingWrites += ((id, () => emitTable(id, fields)))
    def string(id: Int, s: String): Unit =
      pendingWrites += ((id, () => {
        fb.pad(4)
        objPos(id) = fb.len
        val b = s.getBytes("UTF-8")
        fb.i32(b.length); fb.bytes(b); fb.u8(0); fb.pad(4)
      }))
    def vectorOfRefs(id: Int, refs: Seq[Int]): Unit =
      pendingWrites += ((id, () => {
        fb.pad(4)
        objPos(id) = fb.len
        fb.i32(refs.length)
        refs.foreach { r => fixups += ((fb.len, r)); fb.i32(0) }
      }))
    def vectorOfStructs(id: Int, structBytes: Seq[Array[Byte]],
        elemAlign: Int): Unit =
      pendingWrites += ((id, () => {
        // element 0 must land elemAlign-aligned, count i32 just before
        fb.pad(4)
        while ((fb.len + 4) % elemAlign != 0) { fb.i32(0) }
        objPos(id) = fb.len
        fb.i32(structBytes.length)
        structBytes.foreach(fb.bytes)
      }))

    private def emitTable(id: Int, fields: Seq[(Int, FVal)]): Unit = {
      val maxField = if (fields.isEmpty) -1 else fields.map(_._1).max
      // table layout: soffset then fields in id order, each aligned
      var off = 4
      val slotOff = collection.mutable.Map.empty[Int, Int]
      fields.sortBy(_._1).foreach { case (fid, v) =>
        val (sz, al) = v match {
          case Inline(b, a0) => (b.length, a0)
          case Ref(_) => (4, 4)
        }
        while (off % al != 0) off += 1
        slotOff(fid) = off
        off += sz
      }
      val vtSize = 4 + 2 * (maxField + 1)
      fb.pad(2)
      val vtPos = fb.len
      fb.i16(vtSize); fb.i16(off)
      (0 to maxField).foreach(fid => fb.i16(slotOff.getOrElse(fid, 0)))
      fb.pad(4)
      val tPos = fb.len
      objPos(id) = tPos
      fb.i32(tPos - vtPos) // soffset: vtable sits BEFORE the table
      var cur = 4
      fields.sortBy(_._1).foreach { case (fid, v) =>
        val target = slotOff(fid)
        while (cur < target) { fb.u8(0); cur += 1 }
        v match {
          case Inline(b, _) => fb.bytes(b); cur += b.length
          case Ref(r) => fixups += ((fb.len, r)); fb.i32(0); cur += 4
        }
      }
    }

    def finish(): Array[Byte] = {
      pendingWrites.foreach(_._2())
      fixups.foreach { case (slot, ref) =>
        val target = objPos.getOrElse(ref,
          throw new IllegalArgumentException(s"fb: unresolved object $ref"))
        require(target > slot, "fb: uoffset would be non-positive")
        Bin.put32le(fb.a, slot, target - slot)
      }
      fb.pad(8)
      fb.result
    }
  }

  // ------------------------------------- fixture schema/field tables

  /** Type union ids from the public Schema.fbs. */
  private val TInt = 2
  private val TFloat = 3
  private val TUtf8 = 5
  private val TBool = 6

  /** Register a Field table (+ its type table, name string, empty
    * children vector) and return the Field's object id. */
  /** Register a Field table (+ its type table, name string, empty
    * children vector) under a PRE-ALLOCATED id — the field table is
    * registered before its own children so the forward-growing
    * builder's uoffsets stay positive. */
  private def fieldObj(doc: FbDoc, fieldId: Int, name: String,
      nullable: Boolean, typeType: Int,
      typeFields: Seq[(Int, FVal)]): Unit = {
    val nameId = doc.alloc()
    val typeId = doc.alloc()
    val childrenId = doc.alloc()
    doc.table(fieldId, Seq(
      0 -> Ref(nameId),
      1 -> Inline(Array[Byte](if (nullable) 1 else 0), 1),
      2 -> Inline(Array[Byte](typeType.toByte), 1),
      3 -> Ref(typeId),
      5 -> Ref(childrenId)))
    doc.string(nameId, name)
    doc.table(typeId, typeFields)
    doc.vectorOfRefs(childrenId, Seq.empty)
  }

  /** Register the fixture Schema table (parents strictly before
    * children in registration = emission order); returns its id. */
  private def schemaObj(doc: FbDoc, d: Long, schemaId: Int): Unit = {
    val fieldsVec = doc.alloc()
    doc.table(schemaId, Seq(
      0 -> Inline(Bin.le16(0), 2), // endianness: Little
      1 -> Ref(fieldsVec)))
    val nf = if (hasTag(d)) 5 else 4
    val ids = (0 until nf).map(_ => doc.alloc())
    doc.vectorOfRefs(fieldsVec, ids)
    fieldObj(doc, ids(0), "id", nullable = false, TInt,
      Seq(0 -> Inline(Bin.le32(64), 4), 1 -> Inline(Array[Byte](1), 1)))
    fieldObj(doc, ids(1), "score", nullable = true, TFloat,
      Seq(0 -> Inline(Bin.le16(2), 2))) // DOUBLE
    fieldObj(doc, ids(2), "name", nullable = false, TUtf8, Seq.empty)
    fieldObj(doc, ids(3), "flag", nullable = false, TBool, Seq.empty)
    if (hasTag(d))
      fieldObj(doc, ids(4), "tag", nullable = false, TUtf8, Seq.empty)
  }

  /** Encapsulated message: continuation 0xFFFFFFFF + i32 length +
    * flatbuffer padded to 8. Returns the full framed bytes. */
  private def frame(fbBytes: Array[Byte]): Array[Byte] = {
    val padded = (fbBytes.length + 7) / 8 * 8
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](-1, -1, -1, -1))
    out.write(Bin.le32(padded))
    out.write(fbBytes)
    (fbBytes.length until padded).foreach(_ => out.write(0))
    out.toByteArray
  }

  private def schemaMessage(d: Long): Array[Byte] = {
    val doc = new FbDoc
    val msgId = doc.alloc()
    val schemaId = doc.alloc()
    doc.writeRoot(msgId)
    doc.table(msgId, Seq(
      0 -> Inline(Bin.le16(4), 2),          // MetadataVersion V5
      1 -> Inline(Array[Byte](1), 1),    // header: Schema
      2 -> Ref(schemaId),
      3 -> Inline(Bin.le64(0L), 8)))
    schemaObj(doc, d, schemaId)
    frame(doc.finish())
  }

  private def p8(n: Int): Int = (n + 7) / 8 * 8

  /** Build one record batch: (framed message+body bytes, bodyLength). */
  private def batchBytes(d: Long, j: Int): (Array[Byte], Long) = {
    val r = rowsInBatch(d, j)
    val body = new java.io.ByteArrayOutputStream()
    val buffers = collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val nodes = collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def buffer(b: Array[Byte]): Unit = {
      buffers += ((body.size.toLong, b.length.toLong))
      body.write(b, 0, b.length)
      (b.length until p8(b.length)).foreach(_ => body.write(0))
    }
    def bitmap(bit: Int => Boolean): Array[Byte] = {
      val b = new Array[Byte]((r + 7) / 8)
      (0 until r).foreach(i => if (bit(i))
        b(i / 8) = (b(i / 8) | (1 << (i % 8))).toByte)
      b
    }
    // id: int64, no nulls
    nodes += ((r.toLong, 0L))
    buffer(bitmap(_ => true))
    buffer((0 until r).flatMap(i => Bin.le64(idVal(d, j, i))).toArray)
    // score: float64, nulls at (d+j+i)%7==0
    val nNull = (0 until r).count(isNull(d, j, _))
    nodes += ((r.toLong, nNull.toLong))
    buffer(bitmap(i => !isNull(d, j, i)))
    buffer((0 until r).flatMap { i =>
      Bin.le64(java.lang.Double.doubleToLongBits(
        if (isNull(d, j, i)) 0.0 else scoreVal(d, j, i)))
    }.toArray)
    // name: utf8, no nulls
    nodes += ((r.toLong, 0L))
    buffer(bitmap(_ => true))
    val nameB = (0 until r).map(i => nameVal(d, j, i).getBytes("UTF-8"))
    val nameOffs = nameB.scanLeft(0)(_ + _.length)
    buffer(nameOffs.flatMap(v => Bin.le32(v)).toArray)
    buffer(nameB.flatten.toArray)
    // flag: bool (bit-packed), no nulls
    nodes += ((r.toLong, 0L))
    buffer(bitmap(_ => true))
    buffer(bitmap(i => flagVal(d, j, i)))
    // tag: utf8, no nulls (odd ids)
    if (hasTag(d)) {
      nodes += ((r.toLong, 0L))
      buffer(bitmap(_ => true))
      val tagB = (0 until r).map(i => tagVal(i).getBytes("UTF-8"))
      buffer(tagB.scanLeft(0)(_ + _.length).flatMap(v => Bin.le32(v)).toArray)
      buffer(tagB.flatten.toArray)
    }
    val bodyB = body.toByteArray
    // RecordBatch + Message flatbuffer
    val doc = new FbDoc
    val msgId = doc.alloc()
    val rbId = doc.alloc()
    val nodesVec = doc.alloc()
    val bufsVec = doc.alloc()
    doc.writeRoot(msgId)
    doc.table(msgId, Seq(
      0 -> Inline(Bin.le16(4), 2),
      1 -> Inline(Array[Byte](3), 1),    // header: RecordBatch
      2 -> Ref(rbId),
      3 -> Inline(Bin.le64(bodyB.length.toLong), 8)))
    doc.table(rbId, Seq(
      0 -> Inline(Bin.le64(r.toLong), 8),
      1 -> Ref(nodesVec),
      2 -> Ref(bufsVec)))
    doc.vectorOfStructs(nodesVec,
      nodes.toSeq.map { case (l, n) => Bin.le64(l) ++ Bin.le64(n) }, 8)
    doc.vectorOfStructs(bufsVec,
      buffers.toSeq.map { case (o, l) => Bin.le64(o) ++ Bin.le64(l) }, 8)
    val framed = frame(doc.finish())
    val out = new java.io.ByteArrayOutputStream()
    out.write(framed); out.write(bodyB, 0, bodyB.length)
    (out.toByteArray, bodyB.length.toLong)
  }

  /** The complete closed-form .arrow file for id d. */
  def synth(d: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(8192)
    out.write("ARROW1".getBytes("US-ASCII")); out.write(0); out.write(0)
    out.write(schemaMessage(d))
    val blocks = (0 until nBatches(d)).map { j =>
      val at = out.size.toLong
      val (bytes, bodyLen) = batchBytes(d, j)
      out.write(bytes)
      (at, (bytes.length - bodyLen).toInt, bodyLen)
    }
    out.write(Array[Byte](-1, -1, -1, -1, 0, 0, 0, 0)) // EOS
    // footer flatbuffer
    val doc = new FbDoc
    val footerId = doc.alloc()
    val schemaId = doc.alloc()
    val dictsVec = doc.alloc()
    val batchesVec = doc.alloc()
    doc.writeRoot(footerId)
    doc.table(footerId, Seq(
      0 -> Inline(Bin.le16(4), 2), // MetadataVersion V5
      1 -> Ref(schemaId),
      2 -> Ref(dictsVec),
      3 -> Ref(batchesVec)))
    schemaObj(doc, d, schemaId)
    doc.vectorOfStructs(dictsVec, Seq.empty, 8)
    doc.vectorOfStructs(batchesVec, blocks.map { case (o, m, b) =>
      Bin.le64(o) ++ Bin.le32(m) ++ Bin.le32(0) ++ Bin.le64(b) }, 8)
    val fbBytes = doc.finish()
    out.write(fbBytes)
    out.write(Bin.le32(fbBytes.length))
    out.write("ARROW1".getBytes("US-ASCII"))
    out.toByteArray
  }

  // ------------------------------------------- flatbuffers walker

  private final class FbReader(b: Array[Byte], from: Int, until: Int) {
    private def at(o: Int): Int = {
      require(o >= from, "arrow: flatbuffer read before its buffer"); o
    }
    def i16(o: Int): Int =
      Bin.u16le(b, at(o), until, "arrow: flatbuffer").toShort.toInt
    def i32(o: Int): Int = Bin.u32le(b, at(o), until, "arrow: flatbuffer").toInt
    def i64(o: Int): Long = Bin.u64le(b, at(o), until, "arrow: flatbuffer")
    def u8(o: Int): Int = Bin.u8(b, at(o), until, "arrow: flatbuffer")
    def root(): Int = {
      val t = from + i32(from)
      require(t > from && t < until, "arrow: root table out of bounds")
      t
    }
    /** Absolute position of field `fid`'s slot, or -1 when absent. */
    def field(tablePos: Int, fid: Int): Int = {
      val so = i32(tablePos)
      val vt = tablePos - so
      require(vt >= from, "arrow: vtable out of bounds")
      Bin.checkRange(vt, 4, until, "arrow: vtable out of bounds")
      val vtSize = i16(vt)
      require(vtSize >= 4 && vtSize <= 2048 && vtSize % 2 == 0,
        s"arrow: implausible vtable size $vtSize")
      val slot = 4 + 2 * fid
      if (slot >= vtSize) -1
      else {
        val off = i16(vt + slot) & 0xffff
        if (off == 0) -1 else tablePos + off
      }
    }
    def indirect(pos: Int): Int = {
      val t = pos + i32(pos)
      require(t > from && t < until, "arrow: uoffset out of bounds")
      t
    }
    def str(pos: Int): String = {
      val p = indirect(pos)
      val n = i32(p)
      Bin.checkRange(p + 4, n, until, "arrow: string out of bounds")
      new String(b, p + 4, n, "UTF-8")
    }
    /** (element count, first element pos). */
    def vector(pos: Int): (Int, Int) = {
      val p = indirect(pos)
      val n = i32(p)
      require(n >= 0 && n <= (1 << 20), s"arrow: vector length bomb $n")
      (n, p + 4)
    }
  }

  final case class ArrowMeta(nFields: Int, fieldSig: String,
      nBatches: Int, nDicts: Int, nRows: Long, nullCount: Long,
      bodyBytes: Long, version: Int)

  def walk(bytes: Array[Byte]): ArrowMeta = {
    val n = bytes.length
    require(n >= 8 + 10 + 6, "arrow: file too short")
    require(new String(bytes, 0, 6, "US-ASCII") == "ARROW1" &&
      bytes(6) == 0 && bytes(7) == 0, "arrow: missing leading magic")
    require(new String(bytes, n - 6, 6, "US-ASCII") == "ARROW1",
      "arrow: missing trailing magic")
    val footerLen = Bin.u32le(bytes, n - 10, bytes.length).toInt
    require(footerLen > 0 && footerLen <= n - 10 - 8,
      s"arrow: implausible footer length $footerLen")
    val fStart = n - 10 - footerLen
    val r = new FbReader(bytes, fStart, n - 10)
    val footer = r.root()
    val version = {
      val p = r.field(footer, 0); if (p < 0) 0 else r.i16(p)
    }
    // ---- schema
    val schemaPos = {
      val p = r.field(footer, 1)
      require(p >= 0, "arrow: footer lacks a schema")
      r.indirect(p)
    }
    val fieldsPos = {
      val p = r.field(schemaPos, 1)
      require(p >= 0, "arrow: schema lacks a fields vector")
      r.vector(p)
    }
    require(fieldsPos._1 >= 1 && fieldsPos._1 <= 10000,
      s"arrow: implausible field count ${fieldsPos._1}")
    val sigs = (0 until fieldsPos._1).map { k =>
      val fPos = r.indirect(fieldsPos._2 + 4 * k)
      val name = { val p = r.field(fPos, 0)
        require(p >= 0, "arrow: field lacks a name"); r.str(p) }
      val tt = { val p = r.field(fPos, 2); if (p < 0) 0 else r.u8(p) }
      val tPos = r.field(fPos, 3)
      val tname = tt match {
        case TInt =>
          require(tPos >= 0, "arrow: Int field lacks its type table")
          val it = r.indirect(tPos)
          val bw = { val p = r.field(it, 0); if (p < 0) 0 else r.i32(p) }
          val signed = { val p = r.field(it, 1)
            if (p < 0) false else r.u8(p) != 0 }
          (if (signed) "int" else "uint") + bw
        case TFloat =>
          require(tPos >= 0, "arrow: Float field lacks its type table")
          val ft = r.indirect(tPos)
          val prec = { val p = r.field(ft, 0); if (p < 0) 0 else r.i16(p) }
          require(prec >= 0 && prec <= 2,
            s"arrow: floating-point precision $prec out of range")
          Seq("float16", "float32", "float64")(prec)
        case TUtf8 => "utf8"
        case TBool => "bool"
        case other => s"type$other"
      }
      s"$name:$tname"
    }
    // ---- blocks
    def blocks(fid: Int): Seq[(Long, Int, Long)] = {
      val p = r.field(footer, fid)
      if (p < 0) Seq.empty
      else {
        val (cnt, at) = r.vector(p)
        require(cnt <= 100000, s"arrow: block count bomb $cnt")
        (0 until cnt).map { k =>
          val e = at + 24 * k
          (r.i64(e), r.i32(e + 8), r.i64(e + 16))
        }
      }
    }
    val dicts = blocks(2)
    val batches = blocks(3)
    var rows = 0L
    var nulls = 0L
    var body = 0L
    batches.foreach { case (off, metaLen, bodyLen) =>
      require(metaLen >= 16 && bodyLen >= 0 &&
        off >= 8 && off + metaLen + bodyLen <= n,
        s"arrow: block at $off overruns the file")
      // encapsulated message: continuation + i32 metadata size
      val o = off.toInt
      require((bytes(o) & 0xff) == 0xff && (bytes(o + 1) & 0xff) == 0xff &&
        (bytes(o + 2) & 0xff) == 0xff && (bytes(o + 3) & 0xff) == 0xff,
        "arrow: block lacks the continuation marker")
      val mLen = Bin.u32le(bytes, o + 4, bytes.length).toInt
      require(mLen > 0 && 8 + mLen <= metaLen,
        s"arrow: message metadata $mLen overruns the block's $metaLen")
      val mr = new FbReader(bytes, o + 8, o + 8 + mLen)
      val msg = mr.root()
      val ht = { val p = mr.field(msg, 1); if (p < 0) 0 else mr.u8(p) }
      require(ht == 3,
        s"arrow: footer block points at message type $ht, not a RecordBatch")
      val declaredBody = { val p = mr.field(msg, 3)
        if (p < 0) 0L else mr.i64(p) }
      require(declaredBody == bodyLen,
        s"arrow: block declares $bodyLen body bytes but the message " +
          s"says $declaredBody")
      val rbPos = { val p = mr.field(msg, 2)
        require(p >= 0, "arrow: RecordBatch message lacks its header")
        mr.indirect(p) }
      val batchRows = { val p = mr.field(rbPos, 0)
        if (p < 0) 0L else mr.i64(p) }
      val nodesP = mr.field(rbPos, 1)
      if (nodesP >= 0) {
        val (cnt, at) = mr.vector(nodesP)
        require(cnt <= 100000, "arrow: node count bomb")
        (0 until cnt).foreach { k =>
          val e = at + 16 * k
          require(mr.i64(e) == batchRows,
            s"arrow: node $k length ${mr.i64(e)} != batch rows $batchRows")
          nulls += mr.i64(e + 8)
        }
      }
      rows += batchRows
      body += bodyLen
    }
    ArrowMeta(fieldsPos._1, sigs.mkString(","), batches.size, dicts.size,
      rows, nulls, body, version)
  }

  // ------------------------------------------------ spark plumbing

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("n_fields", IntegerType),
    StructField("field_sig", StringType),
    StructField("n_batches", IntegerType),
    StructField("n_dicts", IntegerType),
    StructField("n_rows", LongType),
    StructField("null_count", LongType),
    StructField("body_bytes", LongType),
    StructField("version", IntegerType)))

  /** ids → footer + message-header walk of the closed-form .arrow
    * file. Per-doc map work. */
  def metaFeatures(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, schema) { d =>
      val m = walk(synth(d))
      Iterator.single(Row(d, m.nFields, m.fieldSig, m.nBatches, m.nDicts,
        m.nRows, m.nullCount, m.bodyBytes, m.version))
    }
}
