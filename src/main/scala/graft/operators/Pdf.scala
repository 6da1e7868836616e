package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** PDF metadata + text extraction — the third big document corpus
  * shape after HTML ([[Html]]) and markdown ([[Markdown]]). Training
  * pipelines ingest PDFs at enormous scale (papers, books, filings),
  * and the curation pass is the same two-phase shape as the media
  * walks: a cheap METADATA pass that touches only the xref table and
  * object dictionaries (never inflating a stream — "filter before
  * decode"), then a TEXT pass that inflates content streams and scans
  * the text-showing operators for documents the filter kept.
  *
  * From-spec subset of ISO 32000-1 (the public PDF spec):
  *   - classic cross-reference TABLE (`xref` + 20-byte entries) located
  *     via the `startxref` pointer at the tail; every in-use entry's
  *     offset is verified to actually hold `N G obj`;
  *   - object values: dictionaries, arrays, names, integers/reals,
  *     literal strings with escapes, indirect references `N G R`,
  *     booleans/null — a small recursive-descent parser;
  *   - document structure: trailer `/Root` → catalog `/Pages` → page
  *     tree `/Kids` (flat tree; `/Count` cross-checked against the
  *     walk), per-page `/MediaBox` and `/Contents`;
  *   - streams: `stream`..`endstream` with `/Length` taken as binding
  *     (mismatch with the `endstream` keyword fails loudly); filters:
  *     none or `/FlateDecode` (zlib, via java.util.zip.Inflater) —
  *     any other filter name fails loudly rather than mis-extracting;
  *   - content text: `(s) Tj` and `[(s) n (s) ...] TJ`. Runs join with
  *     a single space. Inside a TJ array, a kerning adjustment with
  *     |adj| >= 100 (thousandths of an em) reads as a word gap —
  *     the same heuristic public extractors use — smaller adjustments
  *     concatenate directly. String escapes: `\\ \( \) \n \r \t` and
  *     octal `\ddd` (1-3 digits).
  *
  * Malformed input fails LOUDLY (require → IllegalArgumentException):
  * a bad xref offset, a /Length that does not land on `endstream`, an
  * unknown filter, or a truncated stream must never silently yield
  * partial text — at 100 TB a silent partial extraction poisons the
  * corpus invisibly, while a loud row routes to the dead-letter path
  * (etl_dead_letter) for triage.
  */
object Pdf {

  // ---------------------------------------------------------------- //
  // Object model
  // ---------------------------------------------------------------- //

  sealed trait PVal
  final case class PNum(v: Double) extends PVal
  final case class PName(v: String) extends PVal
  final case class PStr(v: String) extends PVal
  final case class PRef(num: Int, gen: Int) extends PVal
  final case class PArr(v: Vector[PVal]) extends PVal
  final case class PDict(v: Map[String, PVal]) extends PVal
  case object PNull extends PVal
  final case class PBool(v: Boolean) extends PVal

  final case class PObj(num: Int, gen: Int, value: PVal,
      streamStart: Int, streamLen: Int) {
    def hasStream: Boolean = streamStart >= 0
  }

  final case class PdfMeta(version: String, nObjects: Int, nPages: Int,
      mediaW: Int, mediaH: Int, nFlate: Int)

  final case class PdfDoc(meta: PdfMeta, text: String, nWords: Int)

  // ---------------------------------------------------------------- //
  // Lexical layer
  // ---------------------------------------------------------------- //

  private def isWs(c: Byte): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0

  private def isDelim(c: Byte): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' ||
      c == ']' || c == '{' || c == '}' || c == '/' || c == '%'

  /** Mutable cursor over the byte buffer — the parser is a handful of
    * mutually recursive reads over this. */
  private final class Cur(val b: Array[Byte], var i: Int) {
    def skipWs(): Unit = { while (i < b.length && isWs(b(i))) i += 1 }
    def peek: Byte = { require(i < b.length, "unexpected end of PDF"); b(i) }
    def take(): Byte = { val c = peek; i += 1; c }
    def expect(s: String): Unit = {
      require(i + s.length <= b.length &&
        s.indices.forall(k => b(i + k) == s.charAt(k).toByte),
        s"expected '$s' at offset $i")
      i += s.length
    }
    /** Next regular token (non-delimiter run); empty at a delimiter. */
    def token(): String = {
      val start = i
      while (i < b.length && !isWs(b(i)) && !isDelim(b(i))) i += 1
      new String(b, start, i - start, "US-ASCII")
    }
  }

  // ---------------------------------------------------------------- //
  // Value parser
  // ---------------------------------------------------------------- //

  private def parseVal(c: Cur): PVal = {
    c.skipWs()
    c.peek match {
      case '/' =>
        c.take(); PName(c.token())
      case '(' =>
        c.take(); PStr(parseLiteralString(c))
      case '[' =>
        c.take()
        val buf = Vector.newBuilder[PVal]
        c.skipWs()
        while (c.peek != ']') { buf += parseVal(c); c.skipWs() }
        c.take()
        PArr(buf.result())
      case '<' =>
        require(c.i + 1 < c.b.length && c.b(c.i + 1) == '<',
          "hex strings not in subset")
        c.i += 2
        val m = Map.newBuilder[String, PVal]
        c.skipWs()
        while (c.peek != '>') {
          require(c.take() == '/', "dict key must be a name")
          val k = c.token()
          m += (k -> parseVal(c))
          c.skipWs()
        }
        c.expect(">>")
        PDict(m.result())
      case d if (d >= '0' && d <= '9') || d == '+' || d == '-' || d == '.' =>
        parseNumberOrRef(c)
      case _ =>
        c.token() match {
          case "true" => PBool(true)
          case "false" => PBool(false)
          case "null" => PNull
          case t =>
            throw new IllegalArgumentException(s"unexpected PDF token '$t' at ${c.i}")
        }
    }
  }

  /** `N G R` is three tokens; disambiguate from a plain number by
    * lookahead — both N and G must be non-negative integers. */
  private def parseNumberOrRef(c: Cur): PVal = {
    val t1 = c.token()
    val save = c.i
    if (t1.forall(_.isDigit)) {
      c.skipWs()
      val t2Start = c.i
      val t2 = c.token()
      if (t2.nonEmpty && t2.forall(_.isDigit)) {
        c.skipWs()
        if (c.i < c.b.length && c.b(c.i) == 'R' &&
            (c.i + 1 >= c.b.length || isWs(c.b(c.i + 1)) ||
              isDelim(c.b(c.i + 1)))) {
          c.i += 1
          return PRef(t1.toInt, t2.toInt)
        }
      }
      c.i = if (t2.isEmpty) save else t2Start
    }
    PNum(java.lang.Double.parseDouble(t1))
  }

  /** Literal string body after the opening `(` — balanced parens,
    * backslash escapes, octal codes. */
  private def parseLiteralString(c: Cur): String = {
    val sb = new StringBuilder
    var depth = 1
    while (depth > 0) {
      val ch = c.take()
      if (ch == '\\') {
        val e = c.take()
        e match {
          case 'n' => sb.append('\n')
          case 'r' => sb.append('\r')
          case 't' => sb.append('\t')
          case 'b' => sb.append('\b')
          case 'f' => sb.append('\f')
          case '(' => sb.append('(')
          case ')' => sb.append(')')
          case '\\' => sb.append('\\')
          case d if d >= '0' && d <= '7' =>
            var v = d - '0'
            var k = 0
            while (k < 2 && c.i < c.b.length &&
                c.b(c.i) >= '0' && c.b(c.i) <= '7') {
              v = v * 8 + (c.take() - '0'); k += 1
            }
            sb.append((v & 0xff).toChar)
          case other => sb.append(other.toChar) // spec: drop the backslash
        }
      } else if (ch == '(') { depth += 1; sb.append('(') }
      else if (ch == ')') { depth -= 1; if (depth > 0) sb.append(')') }
      else sb.append((ch & 0xff).toChar)
    }
    sb.toString
  }

  // ---------------------------------------------------------------- //
  // Document structure
  // ---------------------------------------------------------------- //

  private def ascii(b: Array[Byte], from: Int, len: Int): String =
    new String(b, from, math.min(len, b.length - from), "US-ASCII")

  /** Parse the xref table + trailer, then every in-use object. */
  private def parseObjects(bytes: Array[Byte])
      : (Map[Int, PObj], PDict, String) = {
    require(bytes.length > 32 && ascii(bytes, 0, 5) == "%PDF-",
      "not a PDF payload")
    val verEnd = {
      var k = 5
      while (k < bytes.length && bytes(k) != '\n' && bytes(k) != '\r') k += 1
      k
    }
    val version = ascii(bytes, 5, verEnd - 5)

    // startxref: scan the last 64 bytes for the keyword.
    val tailFrom = math.max(0, bytes.length - 64)
    val tail = ascii(bytes, tailFrom, bytes.length - tailFrom)
    val sx = tail.lastIndexOf("startxref")
    require(sx >= 0, "PDF missing startxref")
    val sxc = new Cur(bytes, tailFrom + sx + "startxref".length)
    sxc.skipWs()
    val xrefOff = sxc.token().toInt
    require(xrefOff > 0 && xrefOff < bytes.length, "bad startxref offset")

    val xc = new Cur(bytes, xrefOff)
    xc.skipWs(); xc.expect("xref"); xc.skipWs()
    val first = xc.token().toInt
    xc.skipWs()
    val count = xc.token().toInt
    require(first == 0 && count >= 1 && count <= 100000,
      s"unsupported xref subsection $first $count")
    // entries are exactly 20 bytes: 10-digit offset, 5-digit gen, f/n
    xc.skipWs()
    val offsets = (0 until count).flatMap { k =>
      val e = ascii(bytes, xc.i + 20 * k, 20)
      require(e.length >= 18, "truncated xref entry")
      val kind = e.charAt(17)
      require(kind == 'n' || kind == 'f', s"bad xref entry kind '$kind'")
      if (kind == 'n') Some(k -> e.substring(0, 10).toInt) else None
    }.toMap
    xc.i += 20 * count
    xc.skipWs(); xc.expect("trailer")
    val trailer = parseVal(xc) match {
      case d: PDict => d
      case other =>
        throw new IllegalArgumentException(s"trailer is not a dict: $other")
    }

    val objs = offsets.map { case (num, off) =>
      require(off >= 0 && off < bytes.length, s"xref offset $off out of range")
      val oc = new Cur(bytes, off)
      oc.skipWs()
      val n = oc.token().toInt
      require(n == num, s"xref points obj $num at an 'obj $n' header")
      oc.skipWs()
      val gen = oc.token().toInt
      oc.skipWs(); oc.expect("obj")
      val value = parseVal(oc)
      oc.skipWs()
      var sStart = -1; var sLen = -1
      if (ascii(bytes, oc.i, 6) == "stream") {
        oc.i += 6
        if (oc.i < bytes.length && bytes(oc.i) == '\r') oc.i += 1
        require(oc.i < bytes.length && bytes(oc.i) == '\n',
          "stream keyword not followed by newline")
        oc.i += 1
        val len = value match {
          case PDict(m) => m.get("Length") match {
            case Some(PNum(v)) => v.toInt
            case other =>
              throw new IllegalArgumentException(
                s"stream /Length missing or odd: $other")
          }
          case _ => throw new IllegalArgumentException("stream without a dict")
        }
        require(len >= 0, s"stream /Length $len overruns the file")
        Bin.checkRange(oc.i, len, bytes.length, "stream /Length")
        sStart = oc.i; sLen = len
        oc.i += len
        oc.skipWs(); oc.expect("endstream")
      }
      oc.skipWs(); oc.expect("endobj")
      num -> PObj(num, gen, value, sStart, sLen)
    }
    (objs, trailer, version)
  }

  private def deref(objs: Map[Int, PObj], v: PVal): PVal = v match {
    case PRef(n, _) =>
      objs.get(n).map(_.value)
        .getOrElse(throw new IllegalArgumentException(
          s"dangling reference to object $n"))
    case other => other
  }

  private def dictGet(objs: Map[Int, PObj], d: PVal, key: String): PVal =
    d match {
      case PDict(m) =>
        deref(objs,
          m.getOrElse(key, throw new IllegalArgumentException(s"dict missing /$key")))
      case other => throw new IllegalArgumentException(s"expected dict, got $other")
    }

  /** Page objects in /Kids order, via trailer → catalog → page tree. */
  private def pageObjs(objs: Map[Int, PObj], trailer: PDict): Vector[PObj] = {
    val catalog = dictGet(objs, trailer, "Root")
    require(dictGet(objs, catalog, "Type") == PName("Catalog"),
      "/Root is not a /Catalog")
    val pages = dictGet(objs, catalog, "Pages")
    val kids = dictGet(objs, pages, "Kids") match {
      case PArr(v) => v
      case other =>
        throw new IllegalArgumentException(s"/Kids is not an array: $other")
    }
    val declared = dictGet(objs, pages, "Count") match {
      case PNum(v) => v.toInt
      case other =>
        throw new IllegalArgumentException(s"/Count is not a number: $other")
    }
    require(declared == kids.length,
      s"/Count $declared != ${kids.length} kids")
    kids.map {
      case PRef(n, _) =>
        val o = objs.getOrElse(n,
          throw new IllegalArgumentException(s"dangling kid $n"))
        require(dictGet(objs, o.value, "Type") == PName("Page"),
          s"kid $n is not a /Page")
        o
      case other =>
        throw new IllegalArgumentException(s"kid is not a reference: $other")
    }
  }

  /** Metadata-only walk: xref, trailer, page tree, per-page dicts, and
    * each content stream's DICTIONARY (filter name) — but never the
    * stream bytes. This is the 100 TB filter pass: decide keep/drop on
    * structure before paying any inflate. */
  def meta(bytes: Array[Byte]): PdfMeta = {
    val (objs, trailer, version) = parseObjects(bytes)
    val pages = pageObjs(objs, trailer)
    val mb = dictGet(objs, pages.head.value, "MediaBox") match {
      case PArr(Vector(PNum(a), PNum(b), PNum(c), PNum(d))) =>
        require(a == 0 && b == 0, "MediaBox not origin-anchored")
        (c.toInt, d.toInt)
      case other => throw new IllegalArgumentException(s"bad /MediaBox: $other")
    }
    val nFlate = pages.count { p =>
      val cObj = dictGet(objs, p.value, "Contents") match {
        case d: PDict => d
        case other =>
          throw new IllegalArgumentException(s"/Contents not a stream dict: $other")
      }
      cObj.v.get("Filter") match {
        case None => false
        case Some(PName("FlateDecode")) => true
        case Some(other) =>
          throw new IllegalArgumentException(s"unsupported filter $other")
      }
    }
    PdfMeta(version, objs.size, pages.length, mb._1, mb._2, nFlate)
  }

  private def inflate(b: Array[Byte], from: Int, len: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(b, from, len)
    // Bomb guard (ADVICE r12): DEFLATE tops out near 1032:1, so any
    // stream expanding past that ratio is hostile, not a PDF — fail
    // loudly like every other malformed-input path instead of letting
    // a few crafted MB inflate to executor-OOM GBs. Same constant the
    // ZIP walk enforces (Codecs.zipEntries).
    val maxOut = len.toLong * 1032 + 64
    val out = new java.io.ByteArrayOutputStream(len * 4 + 64)
    val buf = new Array[Byte](4096)
    try {
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        require(n > 0 || inf.finished(),
          "truncated or unsupported FlateDecode stream")
        require(out.size().toLong + n <= maxOut,
          s"FlateDecode stream expands past ${maxOut} bytes " +
            s"(>1032x its $len-byte input) — decompression bomb")
        out.write(buf, 0, n)
      }
    } catch {
      // DataFormatException is checked — fold it into the loud-failure
      // contract (require → IllegalArgumentException) like every other
      // malformed-input path.
      case e: java.util.zip.DataFormatException =>
        throw new IllegalArgumentException(
          s"corrupt FlateDecode stream: ${e.getMessage}")
    } finally inf.end()
    out.toByteArray
  }

  /** Content-stream scan: collect `(s) Tj` and `[...] TJ` runs in
    * order. The tokenizer is the same lexical layer as the object
    * parser; operators other than the text-showing two are skipped
    * (graphics state, positioning — a text extractor ignores them). */
  def contentText(content: Array[Byte],
      runs: collection.mutable.ArrayBuffer[String]): Unit = {
    val c = new Cur(content, 0)
    var pendingStr: String = null
    var pendingArr: Vector[PVal] = null
    while ({ c.skipWs(); c.i < content.length }) {
      val ch = c.peek
      if (ch == '(') {
        c.take(); pendingStr = parseLiteralString(c); pendingArr = null
      } else if (ch == '[') {
        parseVal(c) match {
          case PArr(v) => pendingArr = v; pendingStr = null
          case _ => ()
        }
      } else if ((ch >= '0' && ch <= '9') || ch == '+' || ch == '-' ||
          ch == '.') {
        c.token(); ()
      } else if (ch == '/') {
        c.take(); c.token(); ()
      } else if (isDelim(ch)) {
        throw new IllegalArgumentException(
          s"unexpected delimiter '${ch.toChar}' in content stream")
      } else {
        c.token() match {
          case "Tj" =>
            require(pendingStr != null, "Tj without a preceding string")
            runs += pendingStr
          case "TJ" =>
            require(pendingArr != null, "TJ without a preceding array")
            val sb = new StringBuilder
            pendingArr.foreach {
              case PStr(s) => sb.append(s)
              case PNum(adj) => if (math.abs(adj) >= 100) sb.append(' ')
              case other =>
                throw new IllegalArgumentException(s"bad TJ element $other")
            }
            runs += sb.toString
          case _ => () // BT/ET/Tf/Td/... — no text payload
        }
        pendingStr = null; pendingArr = null
      }
    }
  }

  /** Full extraction: meta walk + per-page content inflate + text
    * scan. Runs join with single spaces across pages. */
  def extract(bytes: Array[Byte]): PdfDoc = {
    val (objs, trailer, version) = parseObjects(bytes)
    val pages = pageObjs(objs, trailer)
    val mb = dictGet(objs, pages.head.value, "MediaBox") match {
      case PArr(Vector(PNum(a), PNum(b), PNum(c), PNum(d))) =>
        require(a == 0 && b == 0, "MediaBox not origin-anchored")
        (c.toInt, d.toInt)
      case other => throw new IllegalArgumentException(s"bad /MediaBox: $other")
    }
    val runs = collection.mutable.ArrayBuffer.empty[String]
    var nFlate = 0
    pages.foreach { p =>
      val cRef = p.value match {
        case PDict(m) => m.getOrElse("Contents",
          throw new IllegalArgumentException("page missing /Contents"))
        case _ => throw new IllegalArgumentException("page is not a dict")
      }
      val cObj = cRef match {
        case PRef(n, _) => objs.getOrElse(n,
          throw new IllegalArgumentException(s"dangling /Contents $n"))
        case _ =>
          throw new IllegalArgumentException(
            "/Contents must be an indirect reference")
      }
      require(cObj.hasStream, "/Contents object carries no stream")
      val filt = cObj.value match {
        case PDict(m) => m.get("Filter")
        case _ => None
      }
      val content = filt match {
        case None =>
          java.util.Arrays.copyOfRange(bytes, cObj.streamStart,
            cObj.streamStart + cObj.streamLen)
        case Some(PName("FlateDecode")) =>
          nFlate += 1
          inflate(bytes, cObj.streamStart, cObj.streamLen)
        case Some(other) =>
          throw new IllegalArgumentException(s"unsupported filter $other")
      }
      contentText(content, runs)
    }
    val text = runs.filter(_.nonEmpty).mkString(" ")
    val nWords = if (text.isEmpty) 0 else text.split(" ").length
    PdfDoc(PdfMeta(version, objs.size, pages.length, mb._1, mb._2, nFlate),
      text, nWords)
  }

  // ---------------------------------------------------------------- //
  // Generic encoder — the round-trip half
  // ---------------------------------------------------------------- //

  /** PDF literal-string escape: backslash/parens escaped, control
    * characters as their shorthands — so ANY ASCII content survives
    * extract(encode(x)) == x (PdfSpec's round-trip property). */
  private def escapeStr(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '(' => sb.append("\\(")
      case ')' => sb.append("\\)")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Build a syntactically complete PDF carrying arbitrary per-page
    * text runs (each run becomes a `(s) Tj`), with real xref offsets;
    * `flatePage(p)` selects per-page FlateDecode. The encoder the
    * round-trip property drives — NOT the declared fixture (synthPdf
    * keeps its own byte-stable layout for the oracle hashes). */
  def encode(pages: Seq[Seq[String]],
      flatePage: Int => Boolean = _ % 2 == 0): Array[Byte] = {
    require(pages.nonEmpty, "a PDF needs at least one page")
    val out = new java.io.ByteArrayOutputStream(2048)
    def w(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    val nPages = pages.length
    val offsets = new Array[Int](3 + 2 * nPages)
    w("%PDF-1.4\n")
    offsets(1) = out.size()
    w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    offsets(2) = out.size()
    val kids = (0 until nPages).map(p => s"${3 + 2 * p} 0 R").mkString(" ")
    w(s"2 0 obj\n<< /Type /Pages /Kids [$kids] /Count $nPages >>\nendobj\n")
    pages.zipWithIndex.foreach { case (runs, p) =>
      val pageNum = 3 + 2 * p
      val contNum = 4 + 2 * p
      offsets(pageNum) = out.size()
      w(s"$pageNum 0 obj\n<< /Type /Page /Parent 2 0 R " +
        s"/MediaBox [0 0 612 792] /Contents $contNum 0 R >>\nendobj\n")
      offsets(contNum) = out.size()
      val content = "BT /F1 12 Tf " +
        runs.map(r => s"(${escapeStr(r)}) Tj").mkString(" ") + " ET"
      val raw = content.getBytes("US-ASCII")
      val (body, filter) =
        if (flatePage(p)) {
          val df = new java.util.zip.Deflater()
          df.setInput(raw); df.finish()
          val zb = new java.io.ByteArrayOutputStream(raw.length + 64)
          val buf = new Array[Byte](1024)
          while (!df.finished()) {
            val n = df.deflate(buf); zb.write(buf, 0, n)
          }
          df.end()
          (zb.toByteArray, " /Filter /FlateDecode")
        } else (raw, "")
      w(s"$contNum 0 obj\n<< /Length ${body.length}$filter >>\nstream\n")
      out.write(body, 0, body.length)
      w("\nendstream\nendobj\n")
    }
    val xrefOff = out.size()
    val size = 3 + 2 * nPages
    w(s"xref\n0 $size\n")
    w("0000000000 65535 f \n")
    (1 until size).foreach(n => w(f"${offsets(n)}%010d 00000 n \n"))
    w(s"trailer\n<< /Size $size /Root 1 0 R >>\n")
    w(s"startxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  // ---------------------------------------------------------------- //
  // Closed-form fixture
  // ---------------------------------------------------------------- //

  /** Structurally real PDF for doc id d: catalog + page tree with
    * 1 + d%3 pages; per page one content stream — a `Tj` header run
    * `p{p} s{(d+p)%5}`, then a `TJ` array carrying the word run and an
    * escape-exercising `x\({d%5}\)` token separated by a -250 kern
    * (reads as a space). Streams alternate raw / FlateDecode by
    * (d+p)%2. MediaBox is US-Letter for even ids, A4 for odd. The
    * xref offsets are REAL (computed while writing), so the parser's
    * offset verification sits on the oracle path.
    */
  def synthPdf(d: Long): Array[Byte] = {
    val nPages = (1 + d % 3).toInt
    val version = s"1.${4 + d % 3}"
    val (mw, mh) = if (d % 2 == 0) (612, 792) else (595, 842)

    def pageContent(p: Int): String = {
      val nw = (4 + (d + p) % 5).toInt
      val words = (0 until nw)
        .map(i => s"w${(d * 3 + 7 * p + i) % 17}").mkString(" ")
      s"BT /F1 12 Tf 72 720 Td (p$p s${(d + p) % 5}) Tj " +
        s"0 -14 Td [($words) -250 (x\\(${d % 5}\\))] TJ ET"
    }

    val out = new java.io.ByteArrayOutputStream(2048)
    def w(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    val offsets = new Array[Int](3 + 2 * nPages) // index = obj number

    w(s"%PDF-$version\n")
    offsets(1) = out.size()
    w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    offsets(2) = out.size()
    val kids = (0 until nPages).map(p => s"${3 + 2 * p} 0 R").mkString(" ")
    w(s"2 0 obj\n<< /Type /Pages /Kids [$kids] /Count $nPages >>\nendobj\n")
    (0 until nPages).foreach { p =>
      val pageNum = 3 + 2 * p
      val contNum = 4 + 2 * p
      offsets(pageNum) = out.size()
      w(s"$pageNum 0 obj\n<< /Type /Page /Parent 2 0 R " +
        s"/MediaBox [0 0 $mw $mh] /Contents $contNum 0 R >>\nendobj\n")
      offsets(contNum) = out.size()
      val raw = pageContent(p).getBytes("US-ASCII")
      val (body, filter) =
        if ((d + p) % 2 == 0) {
          val df = new java.util.zip.Deflater()
          df.setInput(raw); df.finish()
          val zb = new java.io.ByteArrayOutputStream(raw.length + 64)
          val buf = new Array[Byte](1024)
          while (!df.finished()) { val n = df.deflate(buf); zb.write(buf, 0, n) }
          df.end()
          (zb.toByteArray, " /Filter /FlateDecode")
        } else (raw, "")
      w(s"$contNum 0 obj\n<< /Length ${body.length}$filter >>\nstream\n")
      out.write(body, 0, body.length)
      w("\nendstream\nendobj\n")
    }
    val xrefOff = out.size()
    val size = 3 + 2 * nPages
    w(s"xref\n0 $size\n")
    w("0000000000 65535 f \n")
    (1 until size).foreach(n => w(f"${offsets(n)}%010d 00000 n \n"))
    w(s"trailer\n<< /Size $size /Root 1 0 R >>\n")
    w(s"startxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  // ---------------------------------------------------------------- //
  // DataFrame plumbing — the per-partition batch shape of [[Markdown]]
  // ---------------------------------------------------------------- //

  /** ids → (id, pdf binary) rows of closed-form PDFs. */
  def synthDf(ids: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType), StructField("pdf", BinaryType)))
    PerDoc.walk(ids, outSchema)(d => Iterator.single(Row(d, synthPdf(d))))
  }

  private val metaSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("version", StringType),
    StructField("n_objects", IntegerType),
    StructField("n_pages", IntegerType),
    StructField("media_w", IntegerType),
    StructField("media_h", IntegerType),
    StructField("n_flate", IntegerType)))

  /** Metadata-only features — no stream is ever inflated. */
  def metaFeatures(df: DataFrame, idCol: String,
      pdfCol: String): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    val pdfIdx = df.schema.fieldIndex(pdfCol)
    PerDoc.rows(df, metaSchema) { r =>
      val m = meta(r.getAs[Array[Byte]](pdfIdx))
      Iterator.single(Row(r.getLong(idIdx), m.version, m.nObjects, m.nPages,
        m.mediaW, m.mediaH, m.nFlate))
    }
  }

  private val textSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("text", StringType),
    StructField("n_pages", IntegerType),
    StructField("n_words", IntegerType),
    StructField("n_chars", IntegerType),
    StructField("n_flate", IntegerType)))

  /** Full text extraction features. */
  def textFeatures(df: DataFrame, idCol: String,
      pdfCol: String): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    val pdfIdx = df.schema.fieldIndex(pdfCol)
    PerDoc.rows(df, textSchema) { r =>
      val doc = extract(r.getAs[Array[Byte]](pdfIdx))
      Iterator.single(Row(r.getLong(idIdx), doc.text, doc.meta.nPages,
        doc.nWords, doc.text.length, doc.meta.nFlate))
    }
  }
}
