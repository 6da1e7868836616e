package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** SVG metadata walk — the vector-image triage a web corpus needs
  * beside the raster walks: root dimensions and viewBox, element
  * inventory (paths / basic shapes / groups / text), path COMPLEXITY
  * as the count of path-data command letters (the signal that
  * separates an icon from a traced bitmap), and the entity-decoded
  * <title>. Reuses the Html tag scanner's attribute and entity rules
  * (quoted attributes, tolerant of hostile markup); <script> inside
  * SVG — a real XSS vector — is COUNTED so a curation gate can drop
  * active documents. Rendering is out of scope: triage reads
  * structure. */
object Svg {

  final case class SvgMeta(width: String, height: String,
      viewBox: String, nPaths: Int, nShapes: Int, nGroups: Int,
      nText: Int, nScripts: Int, nCommands: Int, title: String)

  private val ShapeTags = Set("rect", "circle", "ellipse", "line",
    "polyline", "polygon")

  def parse(svg: String): SvgMeta = {
    var width = ""
    var height = ""
    var viewBox = ""
    var nPaths = 0
    var nShapes = 0
    var nGroups = 0
    var nText = 0
    var nScripts = 0
    var nCommands = 0
    var title = ""
    var sawSvg = false
    var inTitle = false
    val titleBuf = new StringBuilder
    var i = 0
    val n = svg.length
    while (i < n) {
      if (svg.charAt(i) == '<') {
        if (svg.startsWith("<!--", i)) {
          val end = svg.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else if (svg.startsWith("<?", i) || svg.startsWith("<!", i)) {
          val end = svg.indexOf('>', i + 1)
          i = if (end < 0) n else end + 1
        } else {
          val name = Html.tagName(svg, i)
          val close = svg.indexOf('>', i + 1)
          if (close < 0) i = n
          else {
            val isEnd = i + 1 < n && svg.charAt(i + 1) == '/'
            val tag = svg.substring(i, close + 1)
            name match {
              case "svg" if !isEnd =>
                require(!sawSvg, "nested <svg> roots are outside the walk")
                sawSvg = true
                width = Html.attrValue(tag, "width").getOrElse("")
                height = Html.attrValue(tag, "height").getOrElse("")
                viewBox = Html.attrValue(tag, "viewbox").getOrElse("")
              case "path" if !isEnd =>
                nPaths += 1
                Html.attrValue(tag, "d").foreach { dAttr =>
                  nCommands += dAttr.count(c =>
                    "MmLlHhVvCcSsQqTtAaZz".indexOf(c) >= 0)
                }
              case t if ShapeTags.contains(t) && !isEnd => nShapes += 1
              case "g" if !isEnd => nGroups += 1
              case "text" if !isEnd => nText += 1
              case "script" if !isEnd => nScripts += 1
              case "title" =>
                if (!isEnd) { inTitle = true; titleBuf.clear() }
                else { inTitle = false; title = Html.decodeEntities(
                  titleBuf.toString.trim) }
              case _ => ()
            }
            i = close + 1
          }
        }
      } else {
        if (inTitle) titleBuf.append(svg.charAt(i))
        i += 1
      }
    }
    require(sawSvg, "no <svg> root element")
    SvgMeta(width, height, viewBox, nPaths, nShapes, nGroups, nText,
      nScripts, nCommands, title)
  }

  /** Closed-form fixture: dims 100+d%50 x 80+d%40, a matching
    * viewBox, 1+d%4 paths with 2+(d+i)%5 command letters each,
    * d%3 rects, d%2 circles, one group, a text element on d%5==0,
    * a script element on d%7==0 (the gate signal), and an
    * entity-bearing title. */
  def synth(d: Long): String = {
    val w = (100 + d % 50).toInt
    val h = (80 + d % 40).toInt
    val sb = new StringBuilder()
      .append("<?xml version=\"1.0\"?>\n")
      .append(s"""<svg xmlns="http://www.w3.org/2000/svg" width="$w" """)
      .append(s"""height="$h" viewBox="0 0 $w $h">""")
      .append(s"<title>icon &amp; $d</title><g>")
    val np = (1 + d % 4).toInt
    (0 until np).foreach { i =>
      val cmds = (2 + (d + i) % 5).toInt
      val dAttr = (0 until cmds).map { c =>
        val x = (d + 7 * i + 3 * c) % w
        val y = (d + 5 * i + 2 * c) % h
        if (c == 0) s"M$x $y" else s"L$x $y"
      }.mkString(" ")
      sb.append(s"""<path d="$dAttr"/>""")
    }
    (0 until (d % 3).toInt).foreach(i =>
      sb.append(s"""<rect x="$i" y="$i" width="4" height="4"/>"""))
    (0 until (d % 2).toInt).foreach(i =>
      sb.append(s"""<circle cx="${5 + i}" cy="5" r="3"/>"""))
    if (d % 5 == 0) sb.append(s"<text x=\"1\" y=\"9\">t$d</text>")
    if (d % 7 == 0) sb.append("<script>var x = 1;</script>")
    sb.append("</g></svg>").toString
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("width", StringType),
    StructField("height", StringType),
    StructField("view_box", StringType),
    StructField("n_paths", IntegerType),
    StructField("n_shapes", IntegerType),
    StructField("n_groups", IntegerType),
    StructField("n_text", IntegerType),
    StructField("n_scripts", IntegerType),
    StructField("n_commands", IntegerType),
    StructField("title", StringType)))

  /** ids -> closed-form SVG -> structure walk. Per-doc map work. */
  def features(ids: DataFrame): DataFrame =
    PerDoc.walk(ids, schema) { d =>
      val m = parse(synth(d))
      Iterator.single(Row(d, m.width, m.height, m.viewBox, m.nPaths, m.nShapes,
        m.nGroups, m.nText, m.nScripts, m.nCommands, m.title))
    }
}
