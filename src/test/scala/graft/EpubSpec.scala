package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Codecs, Epub}

class EpubSpec extends AnyFunSuite {

  test("closed-form fixture parses to the oracle's exact fields in " +
      "SPINE order") {
    for (d <- 0L to 60L) {
      val b = Epub.parse(Epub.synth(d))
      val n = Epub.chapterCount(d)
      assert(b.title == s"Book $d", s"d=$d")
      assert(b.chapters.length == n, s"d=$d")
      b.chapters.foreach { c =>
        val j = ((c.spineIdx + d % n) % n).toInt
        assert(c.href == s"OEBPS/chap$j.xhtml", s"d=$d s=${c.spineIdx}")
        assert(c.title == s"Chapter $j of $d", s"d=$d s=${c.spineIdx}")
        assert(c.nWords == (6 + (d + j) % 9).toInt, s"d=$d s=${c.spineIdx}")
      }
    }
    // the rotation is live: some doc's spine order differs from its
    // manifest order, or reading-order correctness is untested
    assert((0L until 300L).exists(d =>
      Epub.chapterCount(d) > 1 && d % Epub.chapterCount(d) != 0))
  }

  test("OCF violations are rejected by name") {
    // mimetype not first: rebuild with the members reordered
    val d = 5L
    val members = Codecs.zipExtract(Epub.synth(d))
    def rebuild(ms: Seq[(String, Array[Byte], Boolean)]): Array[Byte] =
      Codecs.zipBuild(ms, "tampered")
    val asTriples = members.toSeq.map { case (m, body) =>
      (m.name, body, m.method == "deflated")
    }
    val e1 = intercept[RuntimeException] {
      Epub.parse(rebuild(asTriples.tail :+ asTriples.head))
    }
    assert(e1.getMessage.contains("not mimetype"), e1.getMessage)
    // mimetype deflated instead of stored
    val e2 = intercept[IllegalArgumentException] {
      Epub.parse(rebuild(asTriples.head.copy(_3 = true) +: asTriples.tail))
    }
    assert(e2.getMessage.contains("stored"), e2.getMessage)
    // wrong media type
    val e3 = intercept[IllegalArgumentException] {
      Epub.parse(rebuild(("mimetype",
        "application/zip".getBytes("US-ASCII"), false) +: asTriples.tail))
    }
    assert(e3.getMessage.contains("media type"), e3.getMessage)
    // spine idref pointing nowhere
    val broken = asTriples.map {
      case (n, b, z) if n == "OEBPS/content.opf" =>
        (n, new String(b, "UTF-8")
          .replace("idref=\"c0\"", "idref=\"ghost\"").getBytes("UTF-8"), z)
      case m => m
    }
    val e4 = intercept[RuntimeException] { Epub.parse(rebuild(broken)) }
    assert(e4.getMessage.contains("not in the manifest"), e4.getMessage)
    // missing container.xml
    val e5 = intercept[RuntimeException] {
      Epub.parse(rebuild(asTriples.filterNot(
        _._1 == "META-INF/container.xml")))
    }
    assert(e5.getMessage.contains("container.xml"), e5.getMessage)
  }

}
