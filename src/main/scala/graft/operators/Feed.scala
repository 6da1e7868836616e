package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** RSS 2.0 / Atom 1.0 feed walk — the third crawl-policy companion
  * beside robots.txt and sitemap.xml: the per-site CHANGE feed a
  * crawl planner polls for new URLs. Both dialects parse through the
  * same schema-scoped XML discipline as Sitemap.parse and normalize
  * onto one entry shape, so one oracle covers both and a divergence
  * in either dialect's parser breaks the hash:
  *  - RSS: <channel> metadata, any-order <item> children, text
  *    <link> elements, RFC-822 pubDate ("Tue, 02 Jan 2024 03:04:05
  *    GMT") whose WEEKDAY is validated against the actual date;
  *  - Atom: <entry> blocks, self-closing <link href="..."/> with the
  *    URL in an ATTRIBUTE (entity-escaped there, not in text), ISO
  *    8601 <updated> timestamps.
  * Loud failures on unknown elements, missing mandatory fields,
  * malformed dates, or a weekday that contradicts the date.
  */
object Feed {

  final case class FeedEntry(title: String, link: String,
      published: String /* ISO yyyy-MM-dd */, pubHour: Int, nWords: Int)

  private def decodeEntities(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&apos;", "'")
      .replace("&amp;", "&")

  private val months = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
  private val weekdays = Array("Mon", "Tue", "Wed", "Thu", "Fri",
    "Sat", "Sun")

  /** RFC-822 date-time ("Tue, 02 Jan 2024 03:04:05 GMT") → (ISO date,
    * hour). The weekday token must match the calendar. */
  private def parseRfc822(s: String): (String, Int) = {
    val m = raw"(\w{3}), (\d{2}) (\w{3}) (\d{4}) (\d{2}):(\d{2}):(\d{2}) GMT"
      .r.pattern.matcher(s)
    require(m.matches(), s"feed: malformed RFC-822 date '$s'")
    val mon = months.indexOf(m.group(3))
    require(mon >= 0, s"feed: unknown month '${m.group(3)}'")
    val date = java.time.LocalDate.of(m.group(4).toInt, mon + 1,
      m.group(2).toInt)
    val wd = weekdays(date.getDayOfWeek.getValue - 1)
    require(wd == m.group(1),
      s"feed: weekday ${m.group(1)} contradicts date $date (is $wd)")
    val hour = m.group(5).toInt
    require(hour < 24 && m.group(6).toInt < 60 && m.group(7).toInt < 60,
      s"feed: out-of-range time in '$s'")
    (date.toString, hour)
  }

  /** ISO-8601 ("2024-01-02T03:04:05Z") → (ISO date, hour). */
  private def parseIso(s: String): (String, Int) = {
    val m = raw"(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})Z"
      .r.pattern.matcher(s)
    require(m.matches(), s"feed: malformed ISO-8601 date '$s'")
    // LocalDate.of validates the calendar (month 13 / day 32 throw)
    val date = java.time.LocalDate.of(m.group(1).toInt, m.group(2).toInt,
      m.group(3).toInt)
    val hour = m.group(4).toInt
    require(hour < 24 && m.group(5).toInt < 60 && m.group(6).toInt < 60,
      s"feed: out-of-range time in '$s'")
    (date.toString, hour)
  }

  private def wordCount(text: String): Int =
    if (text.isEmpty) 0 else text.split(" ").length

  /** A tiny element cursor shared by both dialect walks. */
  private final class Cursor(val xml: String) {
    var pos = 0
    def skipWs(): Unit =
      while (pos < xml.length && Character.isWhitespace(xml.charAt(pos)))
        pos += 1
    def expect(tok: String): Unit = {
      require(xml.startsWith(tok, pos),
        s"feed: expected '$tok' at $pos, found " +
          s"'${xml.slice(pos, pos + 20)}'")
      pos += tok.length
    }
    def startsWith(tok: String): Boolean = xml.startsWith(tok, pos)
    /** consume `<name>text</name>` and return the decoded text. */
    def textElement(name: String): String = {
      expect(s"<$name>")
      val close = s"</$name>"
      val end = xml.indexOf(close, pos)
      require(end >= 0, s"feed: missing $close")
      val t = decodeEntities(xml.substring(pos, end).trim)
      pos = end + close.length
      t
    }
    /** peek the element name at `<...>` without consuming. */
    def peekName(): String = {
      require(pos < xml.length && xml.charAt(pos) == '<',
        s"feed: expected element at $pos")
      var e = pos + 1
      while (e < xml.length && xml.charAt(e) != '>' &&
        xml.charAt(e) != ' ' && xml.charAt(e) != '/') e += 1
      xml.substring(pos + 1, e)
    }
  }

  def parse(xml: String): Array[FeedEntry] = {
    val c = new Cursor(xml)
    c.skipWs()
    if (c.startsWith("<?xml")) {
      val end = xml.indexOf("?>", c.pos)
      require(end > 0, "feed: unterminated XML prolog")
      c.pos = end + 2
    }
    c.skipWs()
    if (c.startsWith("<rss")) parseRss(c)
    else if (c.startsWith("<feed")) parseAtom(c)
    else sys.error("feed: neither an <rss> nor an Atom <feed> document")
  }

  private def skipOpenTag(c: Cursor): Unit = {
    val gt = c.xml.indexOf('>', c.pos)
    require(gt > 0, s"feed: unterminated tag at ${c.pos}")
    c.pos = gt + 1
  }

  private def parseRss(c: Cursor): Array[FeedEntry] = {
    skipOpenTag(c) // <rss version="2.0">
    c.skipWs()
    c.expect("<channel>")
    c.skipWs()
    // channel metadata: title/link/description in order, validated
    c.textElement("title"); c.skipWs()
    c.textElement("link"); c.skipWs()
    c.textElement("description"); c.skipWs()
    val out = collection.mutable.ArrayBuffer.empty[FeedEntry]
    while (!c.startsWith("</channel>")) {
      require(c.pos < c.xml.length, "feed: unterminated <channel>")
      c.expect("<item>")
      var title: String = null; var link: String = null
      var date: (String, Int) = null; var words = -1
      c.skipWs()
      while (!c.startsWith("</item>")) {
        val name = c.peekName()
        name match {
          case "title" => title = c.textElement("title")
          case "link" => link = c.textElement("link")
          case "guid" => c.textElement("guid") // carried, not emitted
          case "pubDate" => date = parseRfc822(c.textElement("pubDate"))
          case "description" =>
            words = wordCount(c.textElement("description"))
          case other => sys.error(s"feed: unknown RSS item element <$other>")
        }
        c.skipWs()
      }
      c.pos += "</item>".length
      require(title != null && link != null && date != null,
        "feed: <item> missing title, link, or pubDate")
      out += FeedEntry(title, link, date._1, date._2, math.max(words, 0))
      c.skipWs()
    }
    c.pos += "</channel>".length
    c.skipWs()
    c.expect("</rss>")
    out.toArray
  }

  private def parseAtom(c: Cursor): Array[FeedEntry] = {
    skipOpenTag(c) // <feed xmlns="...">
    c.skipWs()
    c.textElement("title"); c.skipWs()
    c.textElement("updated"); c.skipWs()
    val out = collection.mutable.ArrayBuffer.empty[FeedEntry]
    while (!c.startsWith("</feed>")) {
      require(c.pos < c.xml.length, "feed: unterminated <feed>")
      c.expect("<entry>")
      var title: String = null; var link: String = null
      var date: (String, Int) = null; var words = -1
      c.skipWs()
      while (!c.startsWith("</entry>")) {
        val name = c.peekName()
        name match {
          case "title" => title = c.textElement("title")
          case "link" =>
            // self-closing <link href="..."/> — the URL lives in an
            // ATTRIBUTE (entity-escaped there), not element text
            c.expect("<link href=\"")
            val end = c.xml.indexOf("\"/>", c.pos)
            require(end >= 0, "feed: unterminated <link href>")
            link = decodeEntities(c.xml.substring(c.pos, end))
            c.pos = end + 3
          case "id" => c.textElement("id")
          case "updated" => date = parseIso(c.textElement("updated"))
          case "summary" => words = wordCount(c.textElement("summary"))
          case other =>
            sys.error(s"feed: unknown Atom entry element <$other>")
        }
        c.skipWs()
      }
      c.pos += "</entry>".length
      require(title != null && link != null && date != null,
        "feed: <entry> missing title, link, or updated")
      out += FeedEntry(title, link, date._1, date._2, math.max(words, 0))
      c.skipWs()
    }
    c.pos += "</feed>".length
    out.toArray
  }

  // ------------------------------------------------------------------
  // Closed-form fixture: even ids are RSS, odd ids Atom, SAME entry
  // content — so the one oracle differentially checks both dialect
  // parsers. Entries n = 2 + d%4; entry j: published 2024-01-01 +
  // (5d+3j)%365 at hour (d+j)%24, summary of 4 + (d+j)%7 words, and a
  // link with a LIVE & entity in both dialects' escaping positions.
  // ------------------------------------------------------------------

  def entries(d: Long): Int = (2 + d % 4).toInt
  def isRss(d: Long): Boolean = d % 2 == 0

  private def entryFields(d: Long, j: Int):
      (String, String, java.time.LocalDate, Int, String) = {
    val title = s"Item $d-$j w${(d + j) % 9}"
    val link = s"http://feed$d.example/a$j?s=$d&t=$j"
    val date = java.time.LocalDate.of(2024, 1, 1)
      .plusDays((5 * d + 3 * j) % 365)
    val hour = ((d + j) % 24).toInt
    val summary = (0 until (4 + (d + j) % 7).toInt)
      .map(i => s"w${(d + j + i) % 13}").mkString(" ")
    (title, link, date, hour, summary)
  }

  def synth(d: Long): String = {
    val sb = new StringBuilder
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    val n = entries(d)
    if (isRss(d)) {
      sb.append("<rss version=\"2.0\">\n  <channel>\n")
      sb.append(s"    <title>Feed $d</title>\n")
      sb.append(s"    <link>http://feed$d.example/</link>\n")
      sb.append(s"    <description>fixture feed $d</description>\n")
      (0 until n).foreach { j =>
        val (title, link, date, hour, summary) = entryFields(d, j)
        val wd = weekdays(date.getDayOfWeek.getValue - 1)
        val pub = f"$wd, ${date.getDayOfMonth}%02d " +
          f"${months(date.getMonthValue - 1)} ${date.getYear} " +
          f"$hour%02d:${(3 * d + j) % 60}%02d:${(d + 5 * j) % 60}%02d GMT"
        sb.append("    <item>\n")
        // rotate child order per entry like the sitemap fixture
        val kids = Seq(
          s"<title>$title</title>",
          s"<link>${link.replace("&", "&amp;")}</link>",
          s"<guid>urn:$d:$j</guid>",
          s"<pubDate>$pub</pubDate>",
          s"<description>$summary</description>")
        val rot = (d + j).toInt % kids.size
        (kids.drop(rot) ++ kids.take(rot)).foreach(k =>
          sb.append("      ").append(k).append('\n'))
        sb.append("    </item>\n")
      }
      sb.append("  </channel>\n</rss>")
    } else {
      sb.append("<feed xmlns=\"http://www.w3.org/2005/Atom\">\n")
      sb.append(s"  <title>Feed $d</title>\n")
      sb.append(s"  <updated>2024-01-01T00:00:00Z</updated>\n")
      (0 until n).foreach { j =>
        val (title, link, date, hour, summary) = entryFields(d, j)
        val upd = f"${date.toString}T$hour%02d:" +
          f"${(3 * d + j) % 60}%02d:${(d + 5 * j) % 60}%02dZ"
        sb.append("  <entry>\n")
        val kids = Seq(
          s"<title>$title</title>",
          s"""<link href="${link.replace("&", "&amp;")}"/>""",
          s"<id>urn:$d:$j</id>",
          s"<updated>$upd</updated>",
          s"<summary>$summary</summary>")
        val rot = (d + j).toInt % kids.size
        (kids.drop(rot) ++ kids.take(rot)).foreach(k =>
          sb.append("    ").append(k).append('\n'))
        sb.append("  </entry>\n")
      }
      sb.append("</feed>")
    }
    sb.toString
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("entry_idx", IntegerType),
    StructField("title", StringType),
    StructField("link", StringType),
    StructField("published", DateType),
    StructField("pub_hour", IntegerType),
    StructField("n_words", IntegerType),
    StructField("dialect", StringType)))

  /** ids → one row per feed entry over the closed-form fixture —
    * pure map work like sitemapFeatures. */
  def feedFeatures(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, schema) { d =>
      val dialect = if (isRss(d)) "rss" else "atom"
      parse(synth(d)).zipWithIndex.iterator.map { case (e, j) =>
        Row(d, j, e.title, e.link, java.sql.Date.valueOf(e.published),
          e.pubHour, e.nWords, dialect)
      }
    }
}
