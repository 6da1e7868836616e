package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Markdown → plain-text extraction — the sibling of [[Html]] for the
  * other big documentation corpus shape (READMEs, wikis, docs sites).
  * Training-data curation treats markdown exactly like HTML: strip the
  * markup, keep the prose, count the structure (headings, links, code
  * blocks) as quality features.
  *
  * Declared semantics (what the paired DuckDB oracle recomputes and
  * MarkdownSpec pins):
  *   - fenced code blocks (``` toggles) are EXCLUDED from text and
  *     counted — code is what a text-quality pass wants to measure,
  *     not ingest as prose;
  *   - ATX headings (1-6 #'s then a space) counted, their text kept;
  *   - list markers (`- `/`* `/`+ `, `N. `) and blockquote `>` are
  *     stripped, their text kept, items counted;
  *   - inline: `[text](url)` keeps text and collects url (images
  *     `![alt](url)` the same, alt kept), `code spans` keep their
  *     content, `*` emphasis markers drop; `_` is NOT treated as
  *     emphasis (snake_case identifiers survive, and CommonMark
  *     intraword `_` doesn't emphasize anyway);
  *   - all surviving tokens join with single spaces — line and block
  *     boundaries are separators, never fused.
  *
  * Markdown has no invalid inputs, so the extractor is TOTAL: anything
  * that does not parse as markup passes through as literal text (an
  * unclosed `[` or a lone backtick is prose, not an error). A single
  * forward scan per line; per-partition batch shape in [[features]] —
  * embarrassingly parallel, the right 100 TB shape for a pure
  * per-document transform.
  */
object Markdown {

  final case class MdDoc(text: String, links: Array[String],
      nHeadings: Int, nCodeBlocks: Int, nListItems: Int)

  def extract(md: String): MdDoc = {
    val tokens = collection.mutable.ArrayBuffer.empty[String]
    val links = collection.mutable.ArrayBuffer.empty[String]
    var nHead = 0
    var nCode = 0
    var nItems = 0
    var inFence = false
    md.split("\n", -1).foreach { raw =>
      val t = raw.trim
      if (t.startsWith("```")) {
        if (!inFence) { inFence = true; nCode += 1 } else inFence = false
      } else if (inFence || t.isEmpty) {
        // fenced content and blank lines contribute nothing
      } else {
        var body = t
        if (body.charAt(0) == '#') {
          var h = 0
          while (h < body.length && body.charAt(h) == '#') h += 1
          if (h <= 6 && (h == body.length || body.charAt(h) == ' ')) {
            nHead += 1
            body = if (h < body.length) body.substring(h + 1) else ""
          }
        } else if (body.length >= 2 && body.charAt(1) == ' ' &&
            (body.charAt(0) == '-' || body.charAt(0) == '*' ||
              body.charAt(0) == '+')) {
          nItems += 1; body = body.substring(2)
        } else if (body.charAt(0) == '>') {
          // blockquotes nest by repeating the marker
          while (body.nonEmpty && body.charAt(0) == '>')
            body = body.substring(1).trim
        } else {
          var di = 0
          while (di < body.length && body.charAt(di).isDigit) di += 1
          if (di > 0 && di + 1 < body.length && body.charAt(di) == '.' &&
              body.charAt(di + 1) == ' ') {
            nItems += 1; body = body.substring(di + 2)
          }
        }
        stripInline(body, links).split("\\s+").foreach { w =>
          if (w.nonEmpty) tokens += w
        }
      }
    }
    MdDoc(tokens.mkString(" "), links.toArray, nHead, nCode, nItems)
  }

  /** One forward scan over a line's inline markup. Anything malformed
    * is literal text — extraction is total. */
  private def stripInline(s: String,
      links: collection.mutable.ArrayBuffer[String]): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '`') {
        val close = s.indexOf('`', i + 1)
        if (close > i) {
          sb.append(' ').append(s.substring(i + 1, close)).append(' ')
          i = close + 1
        } else { sb.append(c); i += 1 }
      } else if (c == '[' ||
          (c == '!' && i + 1 < s.length && s.charAt(i + 1) == '[')) {
        val start = if (c == '!') i + 1 else i
        val closeB = s.indexOf(']', start + 1)
        if (closeB > start && closeB + 1 < s.length &&
            s.charAt(closeB + 1) == '(') {
          val closeP = s.indexOf(')', closeB + 2)
          if (closeP > closeB) {
            sb.append(' ').append(s.substring(start + 1, closeB)).append(' ')
            links += s.substring(closeB + 2, closeP)
            i = closeP + 1
          } else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      } else if (c == '*') {
        i += 1
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Closed-form markdown document for doc id d — heading, paragraph,
    * link/emphasis/code-span line, unordered + ordered list items,
    * blockquote, and (even ids) a fenced code block the text must NOT
    * contain. */
  def synthMd(d: Long): String = {
    val sb = new StringBuilder
    sb.append(s"# head w${d % 13}\n\n")
    val nw = (5 + d % 7).toInt
    sb.append((0 until nw).map(i => s"w${(d * 2 + i) % 13}")
      .mkString(" ")).append("\n\n")
    sb.append(s"see [w${d % 13}](http://ex.com/p/$d) and *w${(d + 3) % 13}*" +
      s" or `c${d % 11}`\n\n")
    (0 until (2 + d % 3).toInt).foreach(k => sb.append(s"- it$k\n"))
    sb.append(s"1. ot${d % 4}\n\n")
    sb.append(s"> q w${(d + 5) % 13}\n")
    if (d % 2 == 0) sb.append(s"\n```\ncode $d x\n```\n")
    sb.toString
  }

  /** ids → (id, md) rows of closed-form markdown. */
  def synthDf(ids: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType), StructField("md", StringType)))
    PerDoc.walk(ids, outSchema)(d => Iterator.single(Row(d, synthMd(d))))
  }

  /** Per-partition extraction: (id, text, n_headings, n_links,
    * n_code_blocks, n_list_items, n_words, first_link). */
  def features(df: DataFrame, idCol: String, mdCol: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("text", StringType),
      StructField("n_headings", IntegerType),
      StructField("n_links", IntegerType),
      StructField("n_code_blocks", IntegerType),
      StructField("n_list_items", IntegerType),
      StructField("n_words", IntegerType),
      StructField("first_link", StringType)))
    val idIdx = df.schema.fieldIndex(idCol)
    val mdIdx = df.schema.fieldIndex(mdCol)
    PerDoc.rows(df, outSchema) { r =>
      val doc = extract(r.getString(mdIdx))
      val nWords = if (doc.text.isEmpty) 0 else doc.text.split(" ").length
      Iterator.single(Row(r.getLong(idIdx), doc.text, doc.nHeadings,
        doc.links.length, doc.nCodeBlocks, doc.nListItems, nWords,
        if (doc.links.nonEmpty) doc.links(0) else null))
    }
  }
}
