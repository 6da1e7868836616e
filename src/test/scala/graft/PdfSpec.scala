package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Pdf

class PdfSpec extends AnyFunSuite {

  test("closed-form fixture extracts to the oracle's exact text and meta") {
    for (d <- 0L to 60L) {
      val bytes = Pdf.synthPdf(d)
      val doc = Pdf.extract(bytes)
      val nPages = (1 + d % 3).toInt
      val want = (0 until nPages).map { p =>
        val nw = (4 + (d + p) % 5).toInt
        val words = (0 until nw)
          .map(i => s"w${(d * 3 + 7 * p + i) % 17}").mkString(" ")
        s"p$p s${(d + p) % 5} $words x(${d % 5})"
      }.mkString(" ")
      assert(doc.text == want, s"d=$d")
      assert(doc.meta.nPages == nPages, s"d=$d")
      assert(doc.meta.version == s"1.${4 + d % 3}", s"d=$d")
      assert(doc.meta.nObjects == 2 + 2 * nPages, s"d=$d")
      assert(doc.meta.nFlate ==
        (0 until nPages).count(p => (d + p) % 2 == 0), s"d=$d")
      assert(doc.nWords == want.split(" ").length, s"d=$d")
      // meta-only walk agrees with the full extraction's meta
      assert(Pdf.meta(bytes) == doc.meta, s"d=$d")
      val (mw, mh) = if (d % 2 == 0) (612, 792) else (595, 842)
      assert(doc.meta.mediaW == mw && doc.meta.mediaH == mh, s"d=$d")
    }
  }

  test("string escapes: parens, backslash, octal, control shorthands") {
    def pdfWith(content: String): Array[Byte] = {
      // minimal 1-page doc around an arbitrary content stream
      val out = new java.io.ByteArrayOutputStream()
      def w(s: String): Unit = out.write(s.getBytes("US-ASCII"))
      val off = new Array[Int](5)
      w("%PDF-1.4\n")
      off(1) = out.size(); w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
      off(2) = out.size(); w("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
      off(3) = out.size(); w("3 0 obj\n<< /Type /Page /Parent 2 0 R " +
        "/MediaBox [0 0 612 792] /Contents 4 0 R >>\nendobj\n")
      off(4) = out.size()
      val body = content.getBytes("US-ASCII")
      w(s"4 0 obj\n<< /Length ${body.length} >>\nstream\n")
      out.write(body); w("\nendstream\nendobj\n")
      val xref = out.size()
      w("xref\n0 5\n0000000000 65535 f \n")
      (1 to 4).foreach(n => w(f"${off(n)}%010d 00000 n \n"))
      w(s"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
      out.toByteArray
    }
    assert(Pdf.extract(pdfWith("""BT (a\(b\)c) Tj ET""")).text == "a(b)c")
    assert(Pdf.extract(pdfWith("""BT (a\\b) Tj ET""")).text == "a\\b")
    assert(Pdf.extract(pdfWith("""BT (a\101b) Tj ET""")).text == "aAb")
    assert(Pdf.extract(pdfWith("""BT (a\tb) Tj ET""")).text == "a\tb")
    // balanced unescaped parens are legal in literal strings
    assert(Pdf.extract(pdfWith("""BT ((x)) Tj ET""")).text == "(x)")
    // TJ kerning: |adj| >= 100 is a word gap, below concatenates
    assert(Pdf.extract(pdfWith("""BT [(ab) -250 (cd)] TJ ET""")).text
      == "ab cd")
    assert(Pdf.extract(pdfWith("""BT [(ab) -40 (cd)] TJ ET""")).text
      == "abcd")
    // multiple runs join with single spaces
    assert(Pdf.extract(pdfWith("""BT (u) Tj (v) Tj ET""")).text == "u v")
  }

  test("malformed structure fails loudly, never silently partial") {
    val good = Pdf.synthPdf(7L)
    // truncation inside the xref
    intercept[RuntimeException] {
      Pdf.meta(java.util.Arrays.copyOfRange(good, 0, good.length - 40))
    }
    // corrupt startxref offset
    val badStart = good.clone()
    val sx = new String(badStart, "US-ASCII").lastIndexOf("startxref")
    badStart(sx + 10) = '9'
    intercept[RuntimeException] { Pdf.meta(badStart) }
    // /Length that overruns the file
    val s = new String(good, "US-ASCII")
    val bad2 = s.replaceFirst("/Length \\d+", "/Length 999999")
    intercept[RuntimeException] {
      Pdf.extract(bad2.getBytes("US-ASCII"))
    }
    // unknown filter name
    val bad3 = s.replaceFirst("/Filter /FlateDecode", "/Filter /LZWDecode")
    if (bad3 != s) // only even-id pages carry a filter; d=7 p=1 does
      intercept[RuntimeException] { Pdf.extract(bad3.getBytes("US-ASCII")) }
    // not a PDF at all
    intercept[RuntimeException] { Pdf.meta("hello world".getBytes) }
    intercept[RuntimeException] { Pdf.meta(Array.emptyByteArray) }
  }

  test("xref /Count mismatch and dangling refs fail loudly") {
    val s = new String(Pdf.synthPdf(3L), "US-ASCII")
    val badCount = s.replaceFirst("/Count \\d+", "/Count 9")
    intercept[RuntimeException] {
      Pdf.meta(badCount.getBytes("US-ASCII"))
    }
  }

  test("round-trip property: extract(encode(runs)) == runs, any ASCII") {
    // Arbitrary content through the escape/unescape pair — parens,
    // backslashes, control shorthands, nested-paren shapes — across
    // raw and FlateDecode pages. Runs joining with single spaces is
    // the extractor's declared semantics, so compare run-joined text.
    val rng = new scala.util.Random(77)
    val alphabet = "ab z09()\\\n\t\r()(())\\\\/<>[]%#.-"
    for (trial <- 0 until 200) {
      val nPages = 1 + rng.nextInt(3)
      val pages = (0 until nPages).map { _ =>
        (0 until 1 + rng.nextInt(3)).map { _ =>
          val len = 1 + rng.nextInt(12)
          var s = new String(
            Array.fill(len)(alphabet(rng.nextInt(alphabet.length))))
          // the extractor drops empty runs and joins with spaces, so
          // normalize runs the way the semantics declare
          s
        }
      }
      val doc = Pdf.extract(Pdf.encode(pages, p => (trial + p) % 2 == 0))
      val want = pages.flatten.filter(_.nonEmpty).mkString(" ")
      assert(doc.text == want, s"trial=$trial pages=$pages")
      assert(doc.meta.nPages == nPages)
    }
  }

}
