package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Subtitle/caption parsing — SRT and WebVTT, the text half of
  * video+caption training pairs (the video walks supply the sample
  * timeline; captions supply time-aligned text). A caption curation
  * pass gates on cue statistics (count, coverage, chars-per-second)
  * and extracts the transcript — both computed here in one walk.
  *
  * SRT (de-facto public format): cues separated by blank lines, each
  * cue = a 1-based SEQUENTIAL index line, a `HH:MM:SS,mmm -->
  * HH:MM:SS,mmm` timing line (comma decimal — the format's one quirk),
  * then 1+ text lines. WebVTT (W3C): a `WEBVTT` header line, blank
  * line, then cues — timing uses a DOT decimal and the hours field is
  * OPTIONAL (`MM:SS.mmm`), cue ids are optional and non-numeric-free;
  * NOTE comment blocks are skipped.
  *
  * Loud failures: malformed timing lines, end <= start, non-monotonic
  * cue starts, a non-sequential SRT index, a missing WEBVTT header.
  * Within-cue lines join with a single space; cue texts join with a
  * single space in the transcript.
  */
object Subtitles {

  final case class Cue(startMs: Long, endMs: Long, text: String)

  final case class SubDoc(cues: Vector[Cue]) {
    def nCues: Int = cues.length
    def text: String = cues.map(_.text).mkString(" ")
    def totalMs: Long = cues.map(c => c.endMs - c.startMs).sum
    def firstStartMs: Long = if (cues.isEmpty) 0L else cues.head.startMs
    def lastEndMs: Long = if (cues.isEmpty) 0L else cues.last.endMs
  }

  /** `HH:MM:SS,mmm` (SRT) or `[HH:]MM:SS.mmm` (VTT) → millis. */
  private def parseTime(s: String, sep: Char): Long = {
    val parts = s.trim.split(':')
    require(parts.length == 2 || parts.length == 3,
      s"bad timestamp '$s'")
    val (h, m, rest) =
      if (parts.length == 3) (parts(0).toInt, parts(1).toInt, parts(2))
      else (0, parts(0).toInt, parts(1))
    val di = rest.indexOf(sep)
    require(di > 0 && di < rest.length - 1, s"bad timestamp '$s'")
    val sec = rest.substring(0, di).toInt
    val msStr = rest.substring(di + 1)
    require(msStr.length == 3 && msStr.forall(_.isDigit),
      s"bad millis in '$s'")
    require(h >= 0 && m >= 0 && m < 60 && sec >= 0 && sec < 60,
      s"timestamp fields out of range in '$s'")
    ((h * 60L + m) * 60L + sec) * 1000L + msStr.toInt
  }

  private def parseCues(blocks: Seq[Seq[String]], sep: Char,
      srtIndexes: Boolean): Vector[Cue] = {
    var expectIdx = 1
    var lastStart = -1L
    val cues = Vector.newBuilder[Cue]
    blocks.foreach { block0 =>
      var block = block0
      if (srtIndexes) {
        require(block.nonEmpty && block.head.trim.forall(_.isDigit) &&
          block.head.trim.nonEmpty, s"SRT cue missing index line")
        require(block.head.trim.toInt == expectIdx,
          s"SRT index ${block.head.trim} != expected $expectIdx")
        expectIdx += 1
        block = block.tail
      } else if (block.nonEmpty && !block.head.contains("-->")) {
        block = block.tail // optional VTT cue identifier line
      }
      require(block.nonEmpty && block.head.contains("-->"),
        "cue missing timing line")
      val t = block.head.split("-->")
      require(t.length == 2, s"bad timing line '${block.head}'")
      val start = parseTime(t(0), sep)
      // VTT allows cue settings after the end time (position:...)
      val endTok = t(1).trim.split("\\s+")(0)
      val end = parseTime(endTok, sep)
      require(end > start, s"cue end $end <= start $start")
      require(start >= lastStart, s"non-monotonic cue start $start")
      lastStart = start
      val text = block.tail.map(_.trim).filter(_.nonEmpty).mkString(" ")
      require(text.nonEmpty, "cue with no text")
      cues += Cue(start, end, text)
    }
    cues.result()
  }

  private def split(s: String): Seq[Seq[String]] = {
    val lines = s.split("\n", -1).toSeq.map(_.stripSuffix("\r"))
    val blocks = collection.mutable.ArrayBuffer.empty[Seq[String]]
    var cur = collection.mutable.ArrayBuffer.empty[String]
    lines.foreach { l =>
      if (l.trim.isEmpty) {
        if (cur.nonEmpty) { blocks += cur.toSeq; cur = collection.mutable.ArrayBuffer.empty }
      } else cur += l
    }
    if (cur.nonEmpty) blocks += cur.toSeq
    blocks.toSeq
  }

  def parseSrt(s: String): SubDoc =
    SubDoc(parseCues(split(s), ',', srtIndexes = true))

  def parseVtt(s: String): SubDoc = {
    val blocks = split(s)
    require(blocks.nonEmpty && blocks.head.head.startsWith("WEBVTT"),
      "missing WEBVTT header")
    // header block may carry metadata lines; NOTE blocks are comments
    val cueBlocks = blocks.tail.filterNot(_.head.startsWith("NOTE"))
    SubDoc(parseCues(cueBlocks, '.', srtIndexes = false))
  }

  // ---------------------------------------------------------------- //
  // Closed-form fixtures
  // ---------------------------------------------------------------- //

  private def cueText(d: Long, j: Int): String =
    if ((d + j) % 2 == 0) s"c$j w${(d + j) % 9} x${(2 * d + j) % 7}"
    else s"c$j w${(d + j) % 9}"

  private def fmtSrt(ms: Long): String = {
    val h = ms / 3600000; val m = ms / 60000 % 60
    val s = ms / 1000 % 60; val mm = ms % 1000
    f"$h%02d:$m%02d:$s%02d,$mm%03d"
  }

  private def fmtVtt(ms: Long, withHours: Boolean): String = {
    val h = ms / 3600000; val m = ms / 60000 % 60
    val s = ms / 1000 % 60; val mm = ms % 1000
    if (withHours) f"$h%02d:$m%02d:$s%02d.$mm%03d"
    else f"${ms / 60000}%02d:$s%02d.$mm%03d"
  }

  private def cueTimes(d: Long, j: Int): (Long, Long) = {
    val start = j * 3000L + d % 1000
    (start, start + 1500 + (d + j) % 800)
  }

  /** Generic SRT encoder for arbitrary cues — the round-trip half
    * (SubtitlesSpec: parseSrt(encodeSrt(cues)) reproduces every cue).
    * Text lines must be newline-free and non-blank after trimming —
    * the format cannot carry either (a newline splits the cue, a
    * blank line ends it). */
  def encodeSrt(cues: Seq[(Long, Long, Seq[String])]): String =
    cues.zipWithIndex.map { case ((a, b, lines), j) =>
      require(lines.nonEmpty && lines.forall(l =>
        !l.contains('\n') && l.trim.nonEmpty),
        "SRT cue text lines must be newline-free and non-blank")
      s"${j + 1}\n${fmtSrt(a)} --> ${fmtSrt(b)}\n${lines.mkString("\n")}"
    }.mkString("\n\n") + "\n"

  /** SRT document for id d: 2 + d%4 cues; the second text line exists
    * for even (d+j), exercising multi-line joining. */
  def synthSrt(d: Long): String = {
    val n = (2 + d % 4).toInt
    (0 until n).map { j =>
      val (a, b) = cueTimes(d, j)
      val lines =
        if ((d + j) % 2 == 0)
          s"c$j w${(d + j) % 9}\nx${(2 * d + j) % 7}"
        else s"c$j w${(d + j) % 9}"
      s"${j + 1}\n${fmtSrt(a)} --> ${fmtSrt(b)}\n$lines"
    }.mkString("\n\n") + "\n"
  }

  /** WebVTT twin with the SAME cue content: hour-less timestamps for
    * cues under an hour (all of them here — the optional-hours branch
    * is always on), odd cues carry an identifier line, even cues a
    * position setting after the end time. */
  def synthVtt(d: Long): String = {
    val n = (2 + d % 4).toInt
    val cues = (0 until n).map { j =>
      val (a, b) = cueTimes(d, j)
      val id = if (j % 2 == 1) s"cue-$j\n" else ""
      val settings = if (j % 2 == 0) " position:50%" else ""
      val lines =
        if ((d + j) % 2 == 0)
          s"c$j w${(d + j) % 9}\nx${(2 * d + j) % 7}"
        else s"c$j w${(d + j) % 9}"
      s"$id${fmtVtt(a, withHours = false)} --> " +
        s"${fmtVtt(b, withHours = false)}$settings\n$lines"
    }
    "WEBVTT\n\nNOTE graft fixture\n\n" + cues.mkString("\n\n") + "\n"
  }

  // expected features (shared by both formats; used by the spec)
  private[graft] def expected(d: Long): (Int, String, Long, Long, Long) = {
    val n = (2 + d % 4).toInt
    val text = (0 until n).map(j => cueText(d, j)).mkString(" ")
    val total = (0 until n).map(j => 1500L + (d + j) % 800).sum
    val (_, lastEnd) = cueTimes(d, n - 1)
    (n, text, total, d % 1000, lastEnd)
  }

  private val featSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("n_cues", IntegerType),
    StructField("text", StringType),
    StructField("n_chars", IntegerType),
    StructField("total_ms", LongType),
    StructField("first_start_ms", LongType),
    StructField("last_end_ms", LongType)))

  private def features(ids: DataFrame,
      gen: Long => String, parse: String => SubDoc): DataFrame =
    PerDoc.walk(ids, featSchema) { d =>
      val doc = parse(gen(d))
      Iterator.single(Row(d, doc.nCues, doc.text, doc.text.length, doc.totalMs,
        doc.firstStartMs, doc.lastEndMs))
    }

  /** ids → parsed SRT features over closed-form fixtures. */
  def srtFeatures(ids: DataFrame): DataFrame =
    features(ids, synthSrt, parseSrt)

  private val cueSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("cue_idx", IntegerType),
    StructField("start_ms", LongType),
    StructField("end_ms", LongType),
    StructField("ctext", StringType)))

  /** ids → ONE ROW PER CUE over the SRT fixtures — the join input for
    * time-alignment against a sample/frame timeline. */
  def srtCues(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, cueSchema) { d =>
      parseSrt(synthSrt(d)).cues.zipWithIndex.map { case (c, j) =>
        Row(d, j, c.startMs, c.endMs, c.text)
      }
    }

  /** ids → parsed WebVTT features over closed-form fixtures. */
  def vttFeatures(ids: DataFrame): DataFrame =
    features(ids, synthVtt, parseVtt)
}
