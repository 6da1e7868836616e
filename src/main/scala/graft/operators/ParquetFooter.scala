package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Parquet FOOTER walk — the lake-format analog of the tar/zip/MP4
  * listing pre-passes: row-group / column-chunk statistics, sizes,
  * codecs, and encodings as a queryable surface WITHOUT reading a
  * single data page. This is the pre-pass a 100 TB lake runs for scan
  * budgeting ("how many bytes does this predicate touch?"), file-health
  * audits (fragmented row groups, missing stats, stale writers), and
  * compaction planning — only the last 8 bytes plus the footer region
  * of each file are ever read, so the walk costs O(files), not O(data).
  *
  * Implemented from the public Parquet format spec: the footer is a
  * Thrift COMPACT-protocol FileMetaData struct sitting immediately
  * before the trailing `footerLen(u32 LE) + "PAR1"` — the reader here
  * is a from-scratch compact-protocol walk (ULEB128 varints, zigzag
  * i32/i64, short/long-form field headers with per-struct delta field
  * ids, size-prefixed lists), skipping unknown fields BY TYPE exactly
  * like the protobuf row skips by wire type. Statistics use the
  * value-ordered min_value/max_value pair (fields 5/6); the deprecated
  * sort-order-ambiguous min/max (fields 1/2) are ignored by design.
  * Timestamp columns are detected via BOTH the legacy converted_type
  * (TIMESTAMP_MILLIS/MICROS) and the modern LogicalType union
  * (TIMESTAMP{isAdjustedToUTC, unit}), since different writers emit
  * different generations of the annotation.
  *
  * Cross-checked in ParquetFooterSpec against the bundled
  * org.apache.parquet reader (the same ImageIO-style discipline the
  * Avro row uses) on BOTH writer lineages available here: the
  * parquet-cpp-arrow fixture files and parquet-mr files written by
  * Spark itself. Malformed input fails loudly: bad magic, footer
  * lengths overrunning the file, truncated Thrift structs, repeat
  * overruns, and unknown compact types all name their defect.
  */
object ParquetFooter {

  /** One column chunk of one row group. minStr/maxStr are decoded
    * per physical type (null for types whose cross-engine decimal
    * rendering is not canonical — FLOAT/DOUBLE — and for INT96). */
  final case class ChunkMeta(
      rowGroup: Int, colPath: String, ptype: String, codec: String,
      isTimestamp: Boolean,
      numValues: Long, nullCount: Long, minStr: String, maxStr: String,
      totalCompressed: Long, totalUncompressed: Long,
      dataPageOffset: Long, dictPageOffset: Long, nEncodings: Int)

  final case class FileMeta(numRows: Long, nRowGroups: Int,
      createdBy: String, chunks: Seq[ChunkMeta])

  // ------------------------------------------ Thrift compact protocol

  private val TStop = 0
  private val TBoolTrue = 1
  private val TBoolFalse = 2
  private val TByte = 3
  private val TI16 = 4
  private val TI32 = 5
  private val TI64 = 6
  private val TDouble = 7
  private val TBinary = 8
  private val TList = 9
  private val TSet = 10
  private val TMap = 11
  private val TStruct = 12

  /** Thrift compact protocol over the shared byte cursor. */
  private final class TCompact(bytes: Array[Byte]) {
    private val in = new Bin.Cursor(bytes, 0, bytes.length, "parquet footer")
    def pos: Int = in.pos
    def zigzag(): Long = in.zigzag()
    def binary(): Array[Byte] = in.bytes(in.varint())
    def str(): String = new String(binary(), "UTF-8")
    /** (compactType, fieldId) or (TStop, _). Field ids are deltas from
      * the previous field WITHIN the current struct. */
    def fieldHeader(lastId: Int): (Int, Int) = {
      val b = in.u8()
      if (b == TStop) (TStop, lastId)
      else {
        val tpe = b & 0x0f
        val delta = (b >> 4) & 0x0f
        val id = if (delta != 0) lastId + delta else zigzag().toInt
        (tpe, id)
      }
    }
    /** (size, elemType) for lists and sets. */
    def listHeader(): (Int, Int) = {
      val b = in.u8()
      val tpe = b & 0x0f
      val sz = (b >> 4) & 0x0f
      val size = if (sz == 15) in.varint().toInt else sz
      require(size >= 0 && size <= bytes.length,
        s"parquet footer: implausible list size $size")
      (size, tpe)
    }
    /** Skip a value of the given compact type (unknown-field rule).
      * Bools are positional: as a STRUCT FIELD the value lives in the
      * type nibble (zero payload bytes), but as a list/set/map ELEMENT
      * each bool occupies one byte (0x01 true / 0x02 false) — skipping
      * an unknown list<bool> as zero-width would silently desync the
      * parse (ADVICE r15). `elem` marks element context. */
    def skip(tpe: Int, depth: Int = 0, elem: Boolean = false): Unit = {
      require(depth <= 32, "parquet footer: Thrift nesting too deep")
      tpe match {
        case TBoolTrue | TBoolFalse =>
          if (elem) {
            val b = in.u8()
            require(b == 1 || b == 2,
              s"parquet footer: bool list element byte $b is not 1/2")
          }
        case TByte                  => in.u8()
        case TI16 | TI32 | TI64     => zigzag()
        case TDouble                => in.skip(8)
        case TBinary                => binary()
        case TList | TSet =>
          val (n, et) = listHeader()
          var i = 0
          while (i < n) { skip(et, depth + 1, elem = true); i += 1 }
        case TMap =>
          val b = in.u8()
          if (b != 0) {
            // non-empty map: byte was the varint size's first byte? No:
            // compact maps start with a varint size then a type byte.
            // Re-read accordingly: back up one byte.
            in.pos -= 1
            val n = in.varint().toInt
            val kv = in.u8()
            val kt = (kv >> 4) & 0x0f
            val vt = kv & 0x0f
            var i = 0
            while (i < n) {
              skip(kt, depth + 1, elem = true)
              skip(vt, depth + 1, elem = true)
              i += 1
            }
          }
        case TStruct =>
          var last = 0
          var done = false
          while (!done) {
            val (t, id) = fieldHeader(last)
            if (t == TStop) done = true
            else { skip(t, depth + 1); last = id }
          }
        case other =>
          throw new IllegalArgumentException(
            s"parquet footer: unknown compact type $other")
      }
    }
  }

  // ------------------------------------------------- struct extraction

  private final case class SchemaElem(ptype: Int, name: String,
      numChildren: Int, convertedType: Int, isTimestampLogical: Boolean)

  private def readSchemaElem(tc: TCompact): SchemaElem = {
    var ptype = -1
    var name = ""
    var nChildren = 0
    var converted = -1
    var tsLogical = false
    var last = 0
    var done = false
    while (!done) {
      val (t, id) = tc.fieldHeader(last)
      if (t == TStop) done = true
      else {
        (id, t) match {
          case (1, TI32) => ptype = tc.zigzag().toInt
          case (4, TBinary) => name = tc.str()
          case (5, TI32) => nChildren = tc.zigzag().toInt
          case (6, TI32) => converted = tc.zigzag().toInt
          case (10, TStruct) =>
            // LogicalType union: TIMESTAMP is union field 8
            var l2 = 0
            var d2 = false
            while (!d2) {
              val (t2, id2) = tc.fieldHeader(l2)
              if (t2 == TStop) d2 = true
              else {
                if (id2 == 8) tsLogical = true
                tc.skip(t2); l2 = id2
              }
            }
          case _ => tc.skip(t)
        }
        last = id
      }
    }
    SchemaElem(ptype, name, nChildren, converted, tsLogical)
  }

  private final case class Stats(nullCount: Long, minV: Array[Byte],
      maxV: Array[Byte])

  private def readStats(tc: TCompact): Stats = {
    var nulls = -1L
    var minV: Array[Byte] = null
    var maxV: Array[Byte] = null
    var last = 0
    var done = false
    while (!done) {
      val (t, id) = tc.fieldHeader(last)
      if (t == TStop) done = true
      else {
        (id, t) match {
          case (3, TI64)    => nulls = tc.zigzag()
          case (5, TBinary) => maxV = tc.binary()
          case (6, TBinary) => minV = tc.binary()
          case _            => tc.skip(t)
        }
        last = id
      }
    }
    Stats(nulls, minV, maxV)
  }

  private final case class ColMeta(ptype: Int, nEncodings: Int,
      path: Seq[String], codec: Int, numValues: Long, uncompressed: Long,
      compressed: Long, dataPageOffset: Long, dictPageOffset: Long,
      stats: Stats)

  private def readColMeta(tc: TCompact): ColMeta = {
    var ptype = -1
    var nEnc = 0
    var path = Seq.empty[String]
    var codec = -1
    var numValues = -1L
    var unc = -1L
    var comp = -1L
    var dataOff = -1L
    var dictOff = -1L
    var stats = Stats(-1L, null, null)
    var last = 0
    var done = false
    while (!done) {
      val (t, id) = tc.fieldHeader(last)
      if (t == TStop) done = true
      else {
        (id, t) match {
          case (1, TI32) => ptype = tc.zigzag().toInt
          case (2, TList) =>
            val (n, et) = tc.listHeader()
            nEnc = n
            (0 until n).foreach(_ => tc.skip(et))
          case (3, TList) =>
            val (n, _) = tc.listHeader()
            path = (0 until n).map(_ => tc.str())
          case (4, TI32)    => codec = tc.zigzag().toInt
          case (5, TI64)    => numValues = tc.zigzag()
          case (6, TI64)    => unc = tc.zigzag()
          case (7, TI64)    => comp = tc.zigzag()
          case (9, TI64)    => dataOff = tc.zigzag()
          case (11, TI64)   => dictOff = tc.zigzag()
          case (12, TStruct) => stats = readStats(tc)
          case _            => tc.skip(t)
        }
        last = id
      }
    }
    ColMeta(ptype, nEnc, path, codec, numValues, unc, comp,
      dataOff, dictOff, stats)
  }

  private val PhysName = Array("BOOLEAN", "INT32", "INT64", "INT96",
    "FLOAT", "DOUBLE", "BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY")
  private val CodecName = Array("UNCOMPRESSED", "SNAPPY", "GZIP", "LZO",
    "BROTLI", "LZ4", "ZSTD", "LZ4_RAW")

  /** Decode a stats binary per physical type; null where rendering is
    * not cross-engine canonical (FLOAT/DOUBLE/INT96/fixed). Timestamps
    * surface as their raw epoch-micros integer. */
  private def statStr(ptype: Int, v: Array[Byte]): String =
    if (v == null) null
    else ptype match {
      case 1 => require(v.length == 4, "bad INT32 stat width")
        Bin.u32le(v, 0, 4).toInt.toString
      case 2 => require(v.length == 8, "bad INT64 stat width")
        Bin.u64le(v, 0, 8).toString
      case 6 => new String(v, "UTF-8")
      case _ => null
    }

  /** Test hook: skip ONE value of `tpe` from offset 0 and return the
    * number of bytes consumed — pins the skip-by-type walk (notably
    * the one-byte-per-element bool rule inside lists, ADVICE r15)
    * without crafting a whole footer around it. */
  private[graft] def skipValueForTest(bytes: Array[Byte], tpe: Int): Int = {
    val tc = new TCompact(bytes)
    tc.skip(tpe)
    tc.pos
  }

  /** Parse a footer byte region (the Thrift FileMetaData struct). */
  def parseFooter(footer: Array[Byte]): FileMeta = {
    val tc = new TCompact(footer)
    var numRows = -1L
    var createdBy = ""
    var schema = Seq.empty[SchemaElem]
    val chunks = collection.mutable.ArrayBuffer.empty[ChunkMeta]
    var nRowGroups = 0
    var last = 0
    var done = false
    while (!done) {
      val (t, id) = tc.fieldHeader(last)
      if (t == TStop) done = true
      else {
        (id, t) match {
          case (2, TList) =>
            val (n, _) = tc.listHeader()
            schema = (0 until n).map(_ => readSchemaElem(tc))
          case (3, TI64) => numRows = tc.zigzag()
          case (4, TList) =>
            // writers serialize fields in ascending id order, so the
            // schema (field 2) is always parsed before the row groups
            require(schema.nonEmpty,
              "parquet footer: row groups precede the schema")
            val paths = leafPaths(schema)
            val (nRg, _) = tc.listHeader()
            (0 until nRg).foreach { rg =>
              nRowGroups += 1
              var lastRg = 0
              var doneRg = false
              while (!doneRg) {
                val (tRg, idRg) = tc.fieldHeader(lastRg)
                if (tRg == TStop) doneRg = true
                else {
                  (idRg, tRg) match {
                    case (1, TList) =>
                      val (nc, _) = tc.listHeader()
                      (0 until nc).foreach { _ =>
                        // ColumnChunk: field 3 = ColumnMetaData
                        var lastCc = 0
                        var doneCc = false
                        var cm: ColMeta = null
                        while (!doneCc) {
                          val (tCc, idCc) = tc.fieldHeader(lastCc)
                          if (tCc == TStop) doneCc = true
                          else {
                            if (idCc == 3 && tCc == TStruct)
                              cm = readColMeta(tc)
                            else tc.skip(tCc)
                            lastCc = idCc
                          }
                        }
                        require(cm != null,
                          "parquet footer: column chunk missing metadata")
                        val leaf = paths.get(cm.path)
                        val isTs = leaf.exists(l => l.isTimestampLogical ||
                          l.convertedType == 9 || l.convertedType == 10)
                        require(cm.ptype >= 0 && cm.ptype < PhysName.length,
                          s"parquet footer: bad physical type ${cm.ptype}")
                        require(cm.codec >= 0 && cm.codec < CodecName.length,
                          s"parquet footer: bad codec ${cm.codec}")
                        chunks += ChunkMeta(rg, cm.path.mkString("."),
                          PhysName(cm.ptype), CodecName(cm.codec), isTs,
                          cm.numValues, cm.stats.nullCount,
                          statStr(cm.ptype, cm.stats.minV),
                          statStr(cm.ptype, cm.stats.maxV),
                          cm.compressed, cm.uncompressed,
                          cm.dataPageOffset, cm.dictPageOffset, cm.nEncodings)
                      }
                    case _ => tc.skip(tRg)
                  }
                  lastRg = idRg
                }
              }
            }
          case (6, TBinary) => createdBy = tc.str()
          case _            => tc.skip(t)
        }
        last = id
      }
    }
    require(numRows >= 0 && schema.nonEmpty,
      "parquet footer: missing num_rows or schema")
    FileMeta(numRows, nRowGroups, createdBy, chunks.toSeq)
  }

  /** Rebuild the schema tree from the flat DFS list (root first,
    * spans given by num_children) into full-path -> leaf element. */
  private def leafPaths(schema: Seq[SchemaElem])
      : Map[Seq[String], SchemaElem] = {
    val out = collection.mutable.Map.empty[Seq[String], SchemaElem]
    var idx = 0
    def node(prefix: Seq[String], isRoot: Boolean): Unit = {
      require(idx < schema.length, "parquet footer: schema tree truncated")
      val e = schema(idx)
      idx += 1
      val p = if (isRoot) prefix else prefix :+ e.name
      if (e.numChildren == 0 && !isRoot) out(p) = e
      else (0 until e.numChildren).foreach(_ => node(p, isRoot = false))
    }
    node(Seq.empty, isRoot = true)
    require(idx == schema.length,
      "parquet footer: schema child counts do not cover the element list")
    out.toMap
  }

  /** Read JUST the footer of a local parquet file: head magic, trailing
    * `len + "PAR1"`, then the footer region — data pages never touched. */
  def walkFile(path: String): FileMeta = {
    val f = new java.io.RandomAccessFile(path, "r")
    try {
      val len = f.length()
      require(len >= 12, s"parquet file too short ($len bytes)")
      val head = new Array[Byte](4)
      f.readFully(head)
      require(new String(head, "US-ASCII") == "PAR1",
        "missing PAR1 head magic")
      f.seek(len - 8)
      val tail = new Array[Byte](8)
      f.readFully(tail)
      require(new String(tail, 4, 4, "US-ASCII") == "PAR1",
        "missing PAR1 tail magic")
      val footerLen = Bin.u32le(tail, 0, tail.length).toInt
      require(footerLen > 0 && footerLen <= len - 12,
        s"footer length $footerLen overruns the file")
      f.seek(len - 8 - footerLen)
      val footer = new Array[Byte](footerLen)
      f.readFully(footer)
      parseFooter(footer)
    } finally f.close()
  }

  // ---------------------------------------------------- Spark features

  private val chunkSchema = StructType(Seq(
    StructField("tbl", StringType),
    StructField("row_group", IntegerType),
    StructField("col_path", StringType),
    StructField("ptype", StringType),
    StructField("is_ts", IntegerType),
    StructField("num_values", LongType),
    StructField("null_count", LongType),
    StructField("min_v", StringType),
    StructField("max_v", StringType)))

  /** (table, file) pairs -> one row per column chunk with the
    * oracle-checkable logical fields. The file list is distributed so
    * footer reads happen on executors — at 100 TB the walk is one map
    * stage over the file listing, the same shape as etl_compact_files'
    * input side but fed from footers instead of directory sizes. */
  def footerFeatures(spark: SparkSession, dir: String,
      tables: Seq[String]): DataFrame = {
    val files = tables.map(t => (t, s"$dir/$t.parquet"))
    val rdd = spark.sparkContext
      .parallelize(files, math.max(1, files.size))
      .flatMap { case (t, path) =>
        walkFile(path).chunks.map(c =>
          Row(t, c.rowGroup, c.colPath, c.ptype,
            if (c.isTimestamp) 1 else 0, c.numValues, c.nullCount,
            c.minStr, c.maxStr))
      }
    spark.createDataFrame(rdd, chunkSchema)
  }
}
