package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** EPUB walk — the composed document format (EPUB OCF 3.x): a ZIP
  * container whose `mimetype` member must be FIRST and STORED,
  * `META-INF/container.xml` pointing at the package document, an OPF
  * package with a manifest (id → href) and a SPINE whose itemref
  * order — not the manifest order — is the reading order, and XHTML
  * chapters extracted through the same Html.extract the web pipeline
  * uses. Composes three existing verified layers (Codecs.zipExtract's
  * CRC-checked member extraction, a schema-scoped XML walk, Html
  * text extraction); the fixture ROTATES the spine against the
  * manifest so a walk that reads manifest order cannot hash-match.
  * Violations of the OCF rules fail loudly by name.
  */
object Epub {

  final case class Chapter(spineIdx: Int, href: String, title: String,
      nWords: Int)
  final case class Book(title: String, chapters: Array[Chapter])

  /** Pull `attr="..."` out of a single element's text. */
  private def attr(elem: String, name: String): String = {
    val k = name + "=\""
    val i = elem.indexOf(k)
    require(i >= 0, s"epub: element lacks $name: '$elem'")
    val e = elem.indexOf('"', i + k.length)
    require(e > 0, s"epub: unterminated $name attribute")
    elem.substring(i + k.length, e)
  }

  /** All `<tag .../>` element texts inside `xml`, in document order. */
  private def elements(xml: String, tag: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var pos = 0
    val open = s"<$tag "
    while ({ val i = xml.indexOf(open, pos); pos = i; i >= 0 }) {
      val e = xml.indexOf('>', pos)
      require(e > 0, s"epub: unterminated <$tag> element")
      out += xml.substring(pos, e + 1)
      pos = e + 1
    }
    out.result()
  }

  def parse(bytes: Array[Byte]): Book = {
    val members = Codecs.zipExtract(bytes)
    val byName = members.map(m => m._1.name -> m._2).toMap
    // OCF 3.3 §3.3: mimetype first, stored, exact content
    require(members.head._1.name == "mimetype",
      s"epub: first member is '${members.head._1.name}', not mimetype")
    require(members.head._1.method == "stored",
      "epub: mimetype member must be stored, not compressed")
    require(new String(members.head._2, "US-ASCII") ==
      "application/epub+zip",
      "epub: mimetype member carries the wrong media type")
    val container = byName.getOrElse("META-INF/container.xml",
      throw new IllegalArgumentException("epub: missing META-INF/container.xml"))
    val rootfiles = elements(new String(container, "UTF-8"), "rootfile")
    require(rootfiles.nonEmpty, "epub: container.xml lists no rootfile")
    val opfPath = attr(rootfiles.head, "full-path")
    val opf = new String(byName.getOrElse(opfPath,
      throw new IllegalArgumentException(
        s"epub: rootfile '$opfPath' not in the archive")), "UTF-8")
    // dc:title from the metadata block
    val tOpen = opf.indexOf("<dc:title>")
    val tClose = opf.indexOf("</dc:title>")
    require(tOpen >= 0 && tClose > tOpen, "epub: package lacks dc:title")
    val bookTitle = opf.substring(tOpen + "<dc:title>".length, tClose)
    // manifest id → href; spine idref order IS the reading order
    val manifest = elements(opf, "item")
      .map(e => attr(e, "id") -> attr(e, "href")).toMap
    require(manifest.nonEmpty, "epub: empty manifest")
    val spine = elements(opf, "itemref").map(e => attr(e, "idref"))
    require(spine.nonEmpty, "epub: empty spine")
    val opfDir = opfPath.lastIndexOf('/') match {
      case -1 => ""
      case i => opfPath.substring(0, i + 1)
    }
    val chapters = spine.zipWithIndex.map { case (idref, sIdx) =>
      val href = manifest.getOrElse(idref,
        throw new IllegalArgumentException(
          s"epub: spine idref '$idref' not in the manifest"))
      val path = opfDir + href
      val xhtml = new String(byName.getOrElse(path,
        throw new IllegalArgumentException(
          s"epub: manifest href '$path' not in the archive")),
        "UTF-8")
      val doc = Html.extract(xhtml)
      Chapter(sIdx, path, doc.title,
        if (doc.text.isEmpty) 0 else doc.text.split(" ").length)
    }
    Book(bookTitle, chapters.toArray)
  }

  // ------------------------------------------------------------------
  // Closed-form fixture: 1 + d%4 chapters; the spine rotates by
  // d % n against the manifest (spine position s reads chapter
  // (s + d%n) % n), chapter j carries 6 + (d+j)%9 words. mimetype is
  // stored-first per OCF; container.xml / OPF / chapters deflate.
  // ------------------------------------------------------------------

  def chapterCount(d: Long): Int = (1 + d % 4).toInt

  def synth(d: Long): Array[Byte] = {
    val n = chapterCount(d)
    val rot = (d % n).toInt
    val container =
      """<?xml version="1.0"?>
        |<container version="1.0">
        |  <rootfiles>
        |    <rootfile full-path="OEBPS/content.opf" media-type="application/oebps-package+xml"/>
        |  </rootfiles>
        |</container>""".stripMargin
    val manifest = (0 until n).map(j =>
      s"""    <item id="c$j" href="chap$j.xhtml" media-type="application/xhtml+xml"/>""")
      .mkString("\n")
    val spine = (0 until n).map(s =>
      s"""    <itemref idref="c${(s + rot) % n}"/>""").mkString("\n")
    val opf =
      s"""<?xml version="1.0"?>
         |<package version="3.0" unique-identifier="uid">
         |  <metadata>
         |    <dc:title>Book $d</dc:title>
         |  </metadata>
         |  <manifest>
         |$manifest
         |  </manifest>
         |  <spine>
         |$spine
         |  </spine>
         |</package>""".stripMargin
    def chapter(j: Int): String = {
      val words = (0 until (6 + (d + j) % 9).toInt)
        .map(i => s"w${(d + j + i) % 11}").mkString(" ")
      s"""<html><head><title>Chapter $j of $d</title></head>
         |<body><p>$words</p></body></html>""".stripMargin
    }
    Codecs.zipBuild(
      ("mimetype", "application/epub+zip".getBytes("US-ASCII"), false) +:
        ("META-INF/container.xml", container.getBytes("UTF-8"), true) +:
        ("OEBPS/content.opf", opf.getBytes("UTF-8"), true) +:
        (0 until n).map(j =>
          (s"OEBPS/chap$j.xhtml", chapter(j).getBytes("UTF-8"), true)),
      s"epub-$d")
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("spine_idx", IntegerType),
    StructField("href", StringType),
    StructField("chapter_title", StringType),
    StructField("n_words", IntegerType),
    StructField("book_title", StringType)))

  /** ids → one row per chapter IN SPINE ORDER over the closed-form
    * fixture — per-doc map work like the other container walks. */
  def epubFeatures(ids: DataFrame, idCol: String): DataFrame = {
    val idIdx = ids.schema.fieldIndex(idCol)
    val rdd = ids.rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val d = r.getLong(idIdx)
        val b = parse(synth(d))
        b.chapters.iterator.map(c =>
          Row(d, c.spineIdx, c.href, c.title, c.nWords, b.title))
      }
    }
    ids.sparkSession.createDataFrame(rdd, schema)
  }
}
