package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Feed

class FeedSpec extends AnyFunSuite {

  test("both dialects parse to the oracle's exact fields") {
    for (d <- 0L to 60L) {
      val es = Feed.parse(Feed.synth(d))
      assert(es.length == Feed.entries(d), s"d=$d")
      es.zipWithIndex.foreach { case (e, j) =>
        assert(e.title == s"Item $d-$j w${(d + j) % 9}", s"d=$d j=$j")
        assert(e.link == s"http://feed$d.example/a$j?s=$d&t=$j",
          s"d=$d j=$j — the & entity must decode in BOTH dialects' " +
            "escaping positions")
        val date = java.time.LocalDate.of(2024, 1, 1)
          .plusDays((5 * d + 3 * j) % 365)
        assert(e.published == date.toString, s"d=$d j=$j")
        assert(e.pubHour == ((d + j) % 24).toInt, s"d=$d j=$j")
        assert(e.nWords == (4 + (d + j) % 7).toInt, s"d=$d j=$j")
      }
    }
  }

  test("RSS weekday validation is live: a wrong weekday is rejected") {
    val rss = Feed.synth(0L) // even id = RSS
    // the fixture always computes the TRUE weekday; rotate it to the
    // next day name and the parser must name the contradiction
    val m = raw"(Mon|Tue|Wed|Thu|Fri|Sat|Sun),".r
      .findFirstMatchIn(rss).get
    val wrong = Map("Mon" -> "Tue", "Tue" -> "Wed", "Wed" -> "Thu",
      "Thu" -> "Fri", "Fri" -> "Sat", "Sat" -> "Sun", "Sun" -> "Mon")
    val bad = rss.substring(0, m.start) + wrong(m.group(1)) +
      rss.substring(m.start + 3)
    val e = intercept[IllegalArgumentException] { Feed.parse(bad) }
    assert(e.getMessage.contains("contradicts"), e.getMessage)
  }

  test("malformed feeds fail loudly by name") {
    // unknown item element
    val e1 = intercept[IllegalArgumentException] {
      Feed.parse("""<rss version="2.0"><channel><title>t</title>
        <link>l</link><description>d</description>
        <item><enclosure>x</enclosure></item></channel></rss>""")
    }
    assert(e1.getMessage.contains("unknown RSS item element"),
      e1.getMessage)
    // missing mandatory pubDate
    val e2 = intercept[IllegalArgumentException] {
      Feed.parse("""<rss version="2.0"><channel><title>t</title>
        <link>l</link><description>d</description>
        <item><title>a</title><link>b</link></item></channel></rss>""")
    }
    assert(e2.getMessage.contains("missing title, link, or pubDate"),
      e2.getMessage)
    // neither dialect
    val e3 = intercept[IllegalArgumentException] {
      Feed.parse("<opml><body/></opml>")
    }
    assert(e3.getMessage.contains("neither"), e3.getMessage)
    // invalid calendar date in Atom (month 13: java.time's validation,
    // rethrown as the walker's one error class)
    val e4 = intercept[IllegalArgumentException] {
      Feed.parse("""<feed xmlns="x"><title>t</title>
        <updated>2024-01-01T00:00:00Z</updated>
        <entry><title>a</title><link href="u"/>
        <updated>2024-13-28T09:00:00Z</updated></entry></feed>""")
    }
    assert(e4.getMessage.contains("feed:") ||
      e4.getMessage.contains("Invalid") ||
      e4.getMessage.contains("MonthOfYear"), e4.getMessage)
  }

  test("parser terminates loudly under random corruption") {
    val rng = new scala.util.Random(777)
    for (trial <- 0 until 300) {
      val chars = Feed.synth((trial % 9).toLong).toCharArray
      (0 to rng.nextInt(5)).foreach { _ =>
        chars(rng.nextInt(chars.length)) = (32 + rng.nextInt(95)).toChar
      }
      try { Feed.parse(new String(chars)); () }
      catch {
        case e: RuntimeException
            if e.isInstanceOf[IllegalArgumentException] ||
              e.getClass == classOf[RuntimeException] ||
              e.isInstanceOf[java.time.DateTimeException] => ()
        case _: java.time.DateTimeException => ()
        case other: Throwable =>
          fail(s"trial $trial: non-contract failure " +
            s"${other.getClass.getName}: ${other.getMessage}", other)
      }
    }
  }
}
