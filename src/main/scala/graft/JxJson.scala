package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window => W, WindowSpec}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.sources.Catalog

/** JX JSON-query front door (SURVEY.md §3.2 entry 2).
  *
  * Accepts the reference's query shape —
  * {"from": t, "select": …, "where": …, "groupby": …, "sort": …,
  * "limit": n} with JX expression objects ({"eq": ["col", v]},
  * {"and": […]}, {"missing": "col"}, …) — and compiles it onto the
  * same DataFrame builder calls every other entry point uses: one
  * compile step, zero new execution machinery, Catalyst sees exactly
  * the plan a hand-written query would produce (SURVEY §3.1 [P] for
  * the reference lifecycle being mirrored).
  *
  * Expression semantics follow SURVEY §1.4: SQL/DuckDB null logic, with
  * JX's tolerant ops surfaced as explicit functions (missing/exists/
  * coalesce).
  */
object JxJson {

  /** Hard cap on the dense-cube cell count runCube will collect to the
    * driver (≈ a few hundred MB worst case at 1e6 cells of wide rows —
    * generous for any human-readable cube, far under driver OOM).
    */
  val MaxCubeCells: Int = 1000000

  /** Front-door contract shared by every fixture-backed document
    * source — `"from": "web:archives"` (gunzip → WARC → HTTP → HTML),
    * `"docs:markdown"`, `"docs:pdf"`, and `"docs:any"` (the mime
    * dispatcher): each synthesizes payloads for the first
    * `WebArchiveFixtureDocs` doc_ids — the same slice every llm_*
    * fixture query uses, so the front door and the hand-written
    * queries agree byte-for-byte. A query that wants a different
    * slice says so explicitly with a top-level `"archive_docs": n`
    * (n ≤ total documents); the bound is never silent — it is THIS
    * documented constant or the caller's number.
    */
  val WebArchiveFixtureDocs: Int = 300

  /** JX `format: "cube"` result (SURVEY §1.1 Cube row): dense N-dim
    * arrays — one axis per edge in declared order, every domain part
    * present (zero-filled counts / nulls for value aggs). An edge whose
    * data produced out-of-domain rows carries a trailing NULL part on
    * its axis (the reference's allowNulls overflow part), so a row that
    * overflows edge 0 but hits a real part on edge 1 lands at
    * (NULL-part, j) — per-edge overflow, not one lumped cell. `data`
    * maps each select name to a nested Seq with one nesting level per
    * edge; axis i has length |domains(i)| + (hasNullPart(i) ? 1 : 0).
    *
    * The reshape is a CLIENT-side format of the (bounded-by-
    * construction: |cube| = Π(|domain|+1)) table-form result — the
    * distributed work is identical to format:"table"; only the final
    * collect differs, exactly like the reference's output formatting
    * layer. */
  case class Cube(
      edgeNames: Seq[String],
      domains: Seq[Seq[Any]],
      hasNullPart: Seq[Boolean],
      data: Map[String, Seq[Any]],
      overflow: Map[String, Any])

  /** Run an edges query and reshape to the dense cube format. The query
    * must have `edges`; `sort`/`limit` are ignored (cube order is the
    * domain order). `overflow` is the all-edges-NULL corner cell — for
    * a 1-edge cube, THE overflow cell — kept as a convenience view of
    * the grid. */
  def runCube(spark: SparkSession, sfDir: String, queryJson: String): Cube = {
    val q = JsonMethods.parse(queryJson)
    val table = run(spark, sfDir, queryJson)
    val edgeDefs = (q \ "edges") match {
      case JArray(xs) => xs
      case JNothing | JNull => sys.error("jx cube: query has no edges")
      case x => Seq(x)
    }
    val names = edgeDefs.map(outName)
    val aggNames = table.columns.drop(names.length).toSeq
    // The dense grid is a CLIENT-side reshape — bounded by the domain
    // product, which nothing upstream caps. Guard the collect: fetch at
    // most cap+1 rows (limit runs distributed, so the driver never
    // materializes an unbounded grid) and fail fast with a usable
    // message — a cube over two high-cardinality edges is a user error
    // (use format:"table"), not an OOM to discover in production.
    val rows = table.limit(MaxCubeCells + 1).collect()
    require(rows.length <= MaxCubeCells,
      s"jx cube: dense grid exceeds the $MaxCubeCells-cell driver-side " +
        "cap — reduce the edge domains or use table format")
    // Domain order: first-appearance order of each edge's parts in the
    // dense output (the dense join preserved the domain construction).
    val domains = names.indices.map { i =>
      val seen = scala.collection.mutable.LinkedHashSet[Any]()
      rows.foreach(r => if (!r.isNullAt(i)) seen += r.get(i))
      seen.toSeq
    }
    val hasNullPart = names.indices.map(i => rows.exists(_.isNullAt(i)))
    val axisLen = names.indices.map(i =>
      domains(i).size + (if (hasNullPart(i)) 1 else 0))
    val index = domains.map(d => d.zipWithIndex.toMap)
    val strides = names.indices.map(i => axisLen.drop(i + 1).product)
    def posOf(r: org.apache.spark.sql.Row): Int =
      names.indices.map { i =>
        (if (r.isNullAt(i)) domains(i).size else index(i)(r.get(i))) * strides(i)
      }.sum
    // Mutable N-d fill, then freeze. Every in-domain cell is present in
    // the dense table-form result (the domain crossJoin guarantees it);
    // overflow cells with no matching rows stay null (counts there were
    // never emitted — a NULL-part cell exists only where data put it).
    def fill(agg: Int): Seq[Any] = {
      val flat = new Array[Any](axisLen.product.max(1))
      rows.foreach(r => flat(posOf(r)) = r.get(names.length + agg))
      def nest(depth: Int, off: Int): Any =
        if (depth == names.length) flat(off)
        else Seq.tabulate(axisLen(depth))(j =>
          nest(depth + 1, off + j * strides(depth)))
      nest(0, 0) match {
        case s: Seq[_] => s
        case x => Seq(x)
      }
    }
    val filled = aggNames.indices.map(fill)
    // Convenience: the all-NULL corner (only present when every edge
    // has a NULL part).
    val corner: Map[String, Any] =
      if (hasNullPart.forall(identity)) {
        def walk(depth: Int, cur: Any): Any = cur match {
          case s: Seq[_] if depth < names.length => walk(depth + 1, s.last)
          case x => x
        }
        aggNames.zipWithIndex.flatMap { case (a, k) =>
          Option(walk(0, filled(k))).map(a -> _)
        }.toMap
      } else Map.empty
    Cube(names, domains, hasNullPart,
      aggNames.zip(filled).toMap, corner)
  }

  def run(spark: SparkSession, sfDir: String, queryJson: String): DataFrame =
    runParsed(spark, sfDir, JsonMethods.parse(queryJson))

  /** Shared parse/validate/bound step for every fixture-backed doc
    * source (was copy-pasted per source — ADVICE r12). Returns the
    * bounded doc_id slice the source synthesizes payloads for. An
    * EXPLICIT "archive_docs" is validated against the documents
    * table's actual row count, so a typo like 3000000 fails loudly
    * instead of silently meaning "all docs"; the default-constant
    * path stays job-free (the fixture contract pins it ≤ total).
    */
  private def archiveDocIds(spark: SparkSession, sfDir: String,
      q: JValue): DataFrame = {
    val docs = (q \ "archive_docs") match {
      case JInt(n) =>
        require(n > 0, s"jx: archive_docs must be positive, got $n")
        val total = Catalog.table(spark, sfDir, "documents").count()
        require(n <= total,
          s"jx: archive_docs = $n exceeds the documents table " +
            s"($total rows); over-asking would silently mean 'all " +
            "docs' — ask for a real slice")
        n.toInt
      case JNothing | JNull => WebArchiveFixtureDocs
      case other =>
        sys.error(s"jx: archive_docs must be an integer, got $other")
    }
    Catalog.table(spark, sfDir, "documents")
      .filter(org.apache.spark.sql.functions.col("doc_id") < docs)
      .select("doc_id")
  }

  private def runParsed(spark: SparkSession, sfDir: String, q: JValue): DataFrame = {
    // `from` forms: a table name; a dotted path ("orders_nested.lines")
    // descending into nested child tables — jx_sqlite's snowflake
    // descent (SURVEY §1.1), each segment a plain Generate(explode) (or
    // struct flatten) with parent columns visible beside child fields
    // and pushdown still reaching the parent scan; or a whole NESTED
    // QUERY object — JX query composition, compiled recursively so the
    // outer query consumes the inner one as a subplan in the SAME
    // Catalyst tree (one optimization pass over the fused plan, exactly
    // like a SQL derived table — never a materialization barrier).
    var df = (q \ "from") match {
      case JString(from) if from.endsWith(":stream") =>
        return runStreaming(spark, sfDir, from.stripSuffix(":stream"), q)
      // the WEB-INGEST front door: `"from": "web:archives"` exposes
      // the extracted crawl pages (gunzip → WARC → HTTP → HTML, the
      // llm_web_* fixture chain) as a queryable JX source, so every
      // relational clause below composes with archive extraction in
      // ONE fused plan — the extraction is partition-local map work
      // ahead of whatever the query shuffles on.
      case JString("web:archives") =>
        // Bound is the documented front-door constant, overridable per
        // query with "archive_docs" — never a silent truncation.
        graft.operators.Multimodal.webTextFeatures(
          graft.operators.Multimodal.synthWarcWebGzMedia(
            archiveDocIds(spark, sfDir, q)), gz = true)
      // the MARKDOWN front door: `"from": "docs:markdown"` exposes the
      // extracted README/wiki fixture corpus (operators/Markdown) the
      // same way — extraction is partition-local map work ahead of
      // whatever the query shuffles on; the same documented fixture
      // bound and the same "archive_docs" override apply.
      // the PDF front door: `"from": "docs:pdf"` exposes the extracted
      // PDF fixture corpus (operators/Pdf) the same way — xref walk +
      // content-stream text extraction as partition-local map work
      // ahead of whatever the query shuffles on; same fixture bound
      // and "archive_docs" override as the other doc sources.
      case JString("docs:pdf") =>
        graft.operators.Pdf.textFeatures(
          graft.operators.Pdf.synthDf(
            archiveDocIds(spark, sfDir, q)),
          "id", "pdf")
      // the MIXED front door: `"from": "docs:any"` exposes the
      // mime-dispatched mixed-format corpus (html/markdown/pdf via
      // operators/Multimodal.docDispatchFeatures) — extraction
      // dispatch fused ahead of whatever the query shuffles on.
      case JString("docs:any") =>
        graft.operators.Multimodal.docDispatchFeatures(
          graft.operators.Multimodal.synthMixedDocsMedia(
            archiveDocIds(spark, sfDir, q)), "id")
      case JString("docs:markdown") =>
        graft.operators.Markdown.features(
          graft.operators.Markdown.synthDf(
            archiveDocIds(spark, sfDir, q)),
          "id", "md")
      // the EPUB front door: `"from": "docs:epub"` exposes the
      // chapter-level ebook corpus (operators/Epub — OCF walk + OPF
      // spine + Html extraction) the same way: one row per chapter in
      // SPINE order, extraction as partition-local map work; same
      // fixture bound and "archive_docs" override as the other doc
      // sources.
      case JString("docs:epub") =>
        graft.operators.Epub.epubFeatures(
          archiveDocIds(spark, sfDir, q))
      // the FEED front door: `"from": "web:feeds"` exposes the
      // RSS/Atom change-feed corpus (operators/Feed) beside the
      // archive source — one row per entry, dialect column included,
      // parse as partition-local map work; same bound and override.
      case JString("web:feeds") =>
        graft.operators.Feed.feedFeatures(
          archiveDocIds(spark, sfDir, q))
      // the AUDIO front door: `"from": "media:audio"` exposes the
      // Opus-in-Ogg walk (operators/Ogg.oggFeatures — pages, packets,
      // TOC mode counts, duration) the same way; walk as
      // partition-local map work, same bound and override.
      case JString("media:audio") =>
        graft.operators.Ogg.oggFeatures(
          archiveDocIds(spark, sfDir, q))
      // the IMAGE front door: `"from": "media:images"` exposes the
      // WebP container-walk features (operators/Webp.metaFeatures —
      // kind, canvas, feature flags, lossy header fields) so image-
      // corpus curation gates compile through the JSON front door
      // like every other media family; walk as partition-local map
      // work, same fixture bound and "archive_docs" override.
      case JString("media:images") =>
        graft.operators.Webp.metaFeatures(
          archiveDocIds(spark, sfDir, q))
      // the VIDEO front door: `"from": "media:video"` exposes the
      // WebM/EBML walk (operators/Webm.webmFeatures — tracks,
      // clusters, per-block VP8 key-frame header decode, Opus TOC,
      // the duration ledger) as a JX source — the video-corpus
      // curation gate beside images and audio; same bound/override.
      case JString("media:video") =>
        graft.operators.Webm.webmFeatures(
          archiveDocIds(spark, sfDir, q))
      case JString(from) =>
        val segs = from.split('.')
        segs.tail.foldLeft(Catalog.table(spark, sfDir, segs.head))(descendInto)
      case o: JObject => runParsed(spark, sfDir, o)
      case other => sys.error(s"jx: 'from' must be a table or query, got $other")
    }

    // join: the BATCH equi-join clause (VERDICT r12 #6) — the jx twin
    // of the DSL door's join family. `"join": {"with": <table|query>,
    // "on": {"left": c, "right": c}, "type": inner|left|semi|anti}`.
    // The right side is a table name (with the same dotted nested
    // descent as `from`) or a whole nested query compiled recursively
    // into the SAME Catalyst tree — one fused plan, so the parent
    // `where` below filters the JOINED row set and Catalyst pushes
    // each side's conjuncts down to its own scan (plan-asserted in
    // PlanQualitySpec). Cross-side name collisions are refused at
    // compile time like the stream-stream form: the two sides meet in
    // one row, so their columns must be explicitly disjoint (rename
    // inside a nested-query `with`).
    (q \ "join") match {
      case JNothing | JNull => ()
      case j =>
        val right = (j \ "with") match {
          case JString(t) =>
            val segs = t.split('.')
            segs.tail.foldLeft(Catalog.table(spark, sfDir, segs.head))(descendInto)
          case o: JObject => runParsed(spark, sfDir, o)
          case other =>
            sys.error(s"jx: join.with must be a table or query, got $other")
        }
        val lk = (j \ "on" \ "left") match {
          case JString(c) => c
          case other => sys.error(s"jx: join.on.left $other")
        }
        val rk = (j \ "on" \ "right") match {
          case JString(c) => c
          case other => sys.error(s"jx: join.on.right $other")
        }
        val jt = (j \ "type") match {
          case JNothing | JNull | JString("inner") => "inner"
          case JString("left") => "left_outer"
          case JString("semi") => "left_semi"
          case JString("anti") => "left_anti"
          case other => sys.error(
            s"jx: join.type $other — one of inner|left|semi|anti")
        }
        // semi/anti keep only left columns, so only the row-merging
        // forms can collide
        if (jt == "inner" || jt == "left_outer") {
          val collide = df.columns.toSet intersect right.columns.toSet
          require(collide.isEmpty,
            s"jx: join sides share column name(s) ${collide.mkString(", ")}" +
              " — rename via a nested query's select; the two sides " +
              "meet in one row, so their columns must be explicitly " +
              "disjoint")
        }
        df = df.join(right, df.col(lk) === right.col(rk), jt)
    }

    (q \ "where") match {
      case JNothing | JNull => ()
      case w => df = df.filter(compile(w))
    }

    // sample: {"rate": r, "on": <expr>} — DETERMINISTIC
    // content-addressed sampling (the llm_holdout_split /
    // sample_stratified primitive from the JSON front door): keep a
    // row iff the first 4 md5 hex digits of its key hash below
    // floor(r·65536). No RNG, no stored sample table — the same row
    // is kept on every engine and cluster size, and the predicate is
    // a pure row-local filter.
    (q \ "sample") match {
      case JNothing | JNull => ()
      case s =>
        val rate = (s \ "rate") match {
          case JDouble(r) => r
          case JDecimal(r) => r.toDouble
          case JInt(r) => r.toDouble
          case other => sys.error(s"jx: sample rate $other")
        }
        require(rate >= 0.0 && rate <= 1.0, s"jx: sample rate $rate not in [0,1]")
        val key = (s \ "on") match {
          case JNothing | JNull => sys.error(
            "jx: sample needs 'on' (the content-address key)")
          case k => operand(k)
        }
        // rate 1.0 keeps EVERYTHING — no filter. (A clamped 0xffff cut
        // with a strict < would silently drop the ~1/65536 of rows
        // whose hash prefix is "ffff".)
        if (rate < 1.0) {
          val cut = f"${math.floor(rate * 65536).toLong}%04x"
          df = df.filter(
            substring(md5(key.cast("string")), 1, 4) < lit(cut))
        }
    }

    // dedup: {"on": [exprs], "sort": [...]} — keep the FIRST row per
    // key under the given order: the llm_exact_dedup shape (row_number
    // window partitioned by a high-cardinality key) reachable from the
    // JSON front door, composing with the curation kernel via the
    // "fingerprint" expression. `sort` is REQUIRED: which duplicate
    // survives must be deterministic, not partition-order luck.
    (q \ "dedup") match {
      case JNothing | JNull => ()
      case d =>
        val keys = (d \ "on") match {
          case JArray(xs) => xs.map(operand)
          case JNothing | JNull => sys.error("jx: dedup needs 'on'")
          case x => Seq(operand(x))
        }
        val order = (d \ "sort") match {
          case JNothing | JNull =>
            sys.error("jx: dedup needs 'sort' (deterministic keep order)")
          case s => (s match { case JArray(xs) => xs; case x => Seq(x) }).map {
            case JString(k) => asc(k)
            case so: JObject =>
              val v = (so \ "value") match { case JString(k) => k
                case other => sys.error(s"jx: dedup sort $other") }
              (so \ "sort") match {
                case JString("desc") => desc(v); case _ => asc(v) }
            case other => sys.error(s"jx: dedup sort $other")
          }
        }
        val rn = "_jx_dedup_rn"
        df = df
          .withColumn(rn,
            row_number().over(W.partitionBy(keys: _*).orderBy(order: _*)))
          .filter(col(rn) === 1).drop(rn)
    }

    // window: [{name, value?, aggregate, edges: [partition cols],
    // sort: [...], range: {min, max}?}] — adds columns to the row set
    // (reference jx window clauses per SURVEY §2.6 [P]); later select/
    // sort may reference them by name.
    (q \ "window") match {
      case JNothing | JNull => ()
      case ws =>
        val defs = ws match { case JArray(xs) => xs; case x => Seq(x) }
        defs.foreach { d => df = applyWindow(df, d) }
    }

    // edges: dense-domain grouping (SURVEY §2.5) — each domain part
    // appears even with zero rows; rows outside every part roll into a
    // NULL overflow part. Compiled onto the same broadcast
    // domain-LEFT-JOIN pattern as graft.queries.Edges.
    (q \ "edges") match {
      case JNothing | JNull => ()
      case es =>
        val edgeDefs = es match { case JArray(xs) => xs; case x => Seq(x) }
        return finishSortLimit(edgesQuery(spark, df, edgeDefs, selectsOf(q)), q)
    }

    val groupby: Seq[String] = (q \ "groupby") match {
      case JNothing | JNull => Seq.empty
      case JString(g) => Seq(g)
      case JArray(gs) => gs.map { case JString(g) => g; case other =>
        sys.error(s"jx: groupby entry $other") }
      case other => sys.error(s"jx: groupby $other")
    }

    val selects = selectsOf(q)

    // DISTINCT/PERCENTILE SPLIT (guide §2.3 "aggregate before you
    // shuffle", measured on the jx_json_agg_stats plan): when one
    // aggregate mixes an exact count-distinct (`cardinality`) with an
    // exact percentile family, Spark's single-distinct rewrite
    // regroups phase 1 by (group keys ++ distinct column) — and the
    // percentile counts-map buffers ride along built/serialized/merged
    // once per (key, distinct-value) pair instead of once per group
    // (~200k buffers instead of 3 on lineitem). Compile the two
    // families as two clean single-pass aggregates over the same input
    // and null-safe-join them on the group keys (|groups| rows — the
    // jx_json_agg_stats_approx contract-join shape). Values are
    // unchanged: each aggregate sees exactly the rows of its group
    // either way.
    val (cardSel, plainSel) = selects.partition(s =>
      (s \ "aggregate") == JString("cardinality"))
    val splitMixed = groupby.nonEmpty && cardSel.nonEmpty &&
      plainSel.exists(s => pctOf(s).isDefined)
    if (splitMixed) {
      val keys = groupby
      val (paggs, ppost) = aggPlan(plainSel)
      var left = df.groupBy(keys.map(col): _*)
        .agg(paggs.head, paggs.tail: _*)
      ppost.foreach(p => left = left.select(keys.map(col) ++ p: _*))
      val daggs = cardSel.map(aggColumn)
      val rKeys = keys.map(k => s"__jxd_$k")
      val right = df.groupBy(keys.map(col): _*)
        .agg(daggs.head, daggs.tail: _*)
        .select(keys.zip(rKeys).map { case (k, r) => col(k).as(r) } ++
          cardSel.map(s => col(outName(s))): _*)
      // null-safe equality: a NULL group key is a real group and must
      // pair with itself, which plain `===` would drop
      val cond = keys.zip(rKeys).map { case (k, r) => col(k) <=> col(r) }
        .reduce(_ && _)
      df = left.join(right, cond)
        .select(keys.map(col) ++ selects.map(s => col(outName(s))): _*)
    } else if (groupby.nonEmpty) {
      val (aggs, post) = aggPlan(selects)
      df = df.groupBy(groupby.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
      post.foreach(p => df = df.select(groupby.map(col) ++ p: _*))
    } else if (selects.exists(s => (s \ "aggregate") != JNothing)) {
      val (aggs, post) = aggPlan(selects)
      df = df.agg(aggs.head, aggs.tail: _*)
      post.foreach(p => df = df.select(p: _*))
    } else if (selects.nonEmpty) {
      df = df.select(selects.map(selColumn): _*)
    }

    finishSortLimit(df, q)
  }

  /** STREAMING front door: `"from": "<table>:stream"` compiles onto
    * the watermarked Structured Streaming operators (§2.9) instead of
    * the batch Catalog — the same JSON body a user runs over the batch
    * table runs over its stream, with Append-mode emit-horizon
    * semantics. The supported clause surface is the one streaming can
    * honor incrementally: `where` (stateless filter), a `groupby`
    * whose entries are plain columns plus exactly one time-window
    * entry `{"name", "value", "window": "<duration>"}`, aggregate
    * `select`s, and the batch-side `sort`/`limit` on the drained
    * result. A `watermark: {"on": col, "delay": "<duration>"}` clause
    * is REQUIRED — an unbounded-state streaming aggregate is exactly
    * the 100 TB trap, so the front door refuses to compile one.
    * Clauses that have no incremental meaning here (edges, dedup,
    * sample, window, nested from) fail loudly rather than silently
    * running a batch semantics the caller did not ask for. */
  private def runStreaming(spark: SparkSession, sfDir: String,
      table: String, q: JValue): DataFrame = {
    require(table == "events",
      s"jx: only the events table streams (got '$table') — it is the " +
        "fixture's event-time source; other tables have no ts column")
    Seq("edges", "sample", "window").foreach { c =>
      require((q \ c) == JNothing || (q \ c) == JNull,
        s"jx: '$c' is not supported over a stream — run it against " +
          s"the batch table or move it above/below the streaming stage")
    }
    (q \ "join") match {
      case JNothing | JNull => ()
      case j =>
        require((q \ "groupby") == JNothing || (q \ "groupby") == JNull,
          "jx: a stream-stream join query takes no groupby — aggregate " +
            "the join's output in a downstream batch query instead")
        return finishSortLimit(streamStreamJoin(spark, sfDir, j, q), q)
    }
    val agg = compileStreaming(spark, sfDir, q)
    val out = graft.streaming.Streams.runToMemory(
      agg, s"jx_stream_${System.nanoTime()}",
      org.apache.spark.sql.streaming.OutputMode.Append())
    finishSortLimit(out, q)
  }

  /** Build (but do not start) the windowed streaming aggregate for an
    * `events:stream` query — factored out of runStreaming so tests can
    * assert plan properties (the dedup keys must carry event-time
    * watermark metadata, or dedup state is never watermark-evicted)
    * without running the stream. */
  private[graft] def compileStreaming(spark: SparkSession, sfDir: String,
      q: JValue): DataFrame = {
    val wm = (q \ "watermark")
    val wmOn = (wm \ "on") match {
      case JString(c) => c
      case JNothing | JNull => "ts"
      case other => sys.error(s"jx: watermark.on $other")
    }
    val wmDelay = (wm \ "delay") match {
      case JString(d) => d
      case _ => sys.error(
        "jx: a streaming query needs watermark: {on, delay} — without " +
          "one the windowed aggregate's state is unbounded")
    }
    var df = graft.streaming.Streams.eventsStream(spark, sfDir)
    (q \ "where") match {
      case JNothing | JNull => ()
      case w => df = df.filter(compile(w))
    }
    // dedup over the stream: watermark-scoped dropDuplicates ahead of
    // the windowed aggregate (two chained stateful operators). Plain
    // entries are key columns; a {"name","value","window"} entry keys
    // on the row's time window — the streaming
    // count-DISTINCT-per-window shape (dedup on (key, window), then
    // count), which stays hard-oracle-able because the surviving row's
    // window is fixed by the dedup key even though WHICH row survives
    // is arrival-order-dependent. State on both operators is evicted
    // by the same watermark.
    var watermarked = false
    (q \ "dedup") match {
      case JNothing | JNull => ()
      case d =>
        val entries = d match {
          case JArray(xs) => xs
          case x => List(x)
        }
        require(entries.nonEmpty, "jx: streaming dedup needs key entries")
        // the ONE watermark declaration (chained stateful operators
        // share it; redefining downstream is an error)
        df = df.withWatermark(wmOn, wmDelay)
        watermarked = true
        val keys = entries.map {
          case JString(c) => c
          case o: JObject =>
            val n = (o \ "name") match {
              case JString(s2) => s2
              case _ => sys.error("jx: dedup window entry needs 'name'") }
            val v = (o \ "value") match {
              case JString(s2) => s2
              case _ => sys.error("jx: dedup window entry needs 'value'") }
            val dur = (o \ "window") match {
              case JString(s2) => s2
              case _ => sys.error("jx: dedup window entry needs 'window'") }
            df = df.withColumn(n, window(col(v), dur)("start"))
            n
          case other => sys.error(s"jx: dedup entry $other — a column " +
            """name or {"name", "value", "window"}""")
        }
        // dropDuplicatesWITHINWATERMARK, not dropDuplicates (ADVICE
        // r12): the window-start key is an alias of a struct field,
        // which strips Spark's event-time metadata, and a metadata-
        // free dropDuplicates key set is never watermark-evicted —
        // unbounded state on a long-running stream. (Keying on the
        // window struct itself doesn't work either: window() mints a
        // SECOND event-time column beside ts and the downstream
        // windowed aggregate refuses multi-event-time plans.) The
        // within-watermark form evicts each key when the watermark
        // passes its first-seen event time + delay, by construction —
        // and its collapse guarantee (duplicates whose event times
        // lie within the delay) is TOTAL here because a window entry
        // groups rows at most one window-width apart and the
        // watermark delay is ≥ the window in every declared query;
        // rows later than the watermark are dropped by both forms
        // alike, so the emit-horizon oracle is unchanged. JxJsonSpec
        // asserts the DeduplicateWithinWatermark node is planned.
        df = df.dropDuplicatesWithinWatermark(keys).drop(
          entries.collect { case o: JObject =>
            (o \ "name").asInstanceOf[JString].s }: _*)
    }
    // groupby: plain columns + exactly one window entry
    val entries = (q \ "groupby") match {
      case JArray(xs) => xs
      case JNothing | JNull =>
        sys.error("jx: a streaming query needs a windowed groupby")
      case x => Seq(x)
    }
    val winEntries = entries.collect {
      case o: JObject
          if (o \ "window") != JNothing || (o \ "session_gap") != JNothing =>
        o }
    require(winEntries.size == 1,
      "jx: streaming groupby needs exactly one time-window entry " +
        """({"name", "value", "window": "<duration>"} or """ +
        """{"name", "value", "session_gap": "<duration>"})""")
    val winName = (winEntries.head \ "name") match {
      case JString(n) => n; case _ => "window_start" }
    val winValue = (winEntries.head \ "value") match {
      case JString(v) => v
      case _ => sys.error("jx: window groupby entry needs 'value'") }
    // three window shapes: tumbling ("window"), sliding ("window" +
    // "slide" — each event lands in window/slide overlapping windows),
    // session ("session_gap" — gap-merged per-key ranges, the
    // stream_session shape). The struct column Spark emits is named
    // after the construct, so track it for the start-projection.
    val (winCol, structName) = (winEntries.head \ "session_gap") match {
      case JString(gap) =>
        require((winEntries.head \ "window") == JNothing,
          "jx: pick window OR session_gap, not both")
        (session_window(col(winValue), gap), "session_window")
      case JNothing | JNull =>
        val winDur = (winEntries.head \ "window") match {
          case JString(d) => d
          case other => sys.error(s"jx: window duration $other") }
        ((winEntries.head \ "slide") match {
          case JString(sl) => window(col(winValue), winDur, sl)
          case JNothing | JNull => window(col(winValue), winDur)
          case other => sys.error(s"jx: window slide $other")
        }, "window")
      case other => sys.error(s"jx: session_gap $other")
    }
    val plain = entries.collect { case JString(g) => g }
    // Fail-loudly contract (matches the batch path): every groupby
    // entry must be consumed as either a plain column or THE window
    // entry — an object with a typo'd key ("windw") must error, not
    // silently vanish from the grouping.
    val leftovers = entries.filterNot(e =>
      e.isInstanceOf[JString] || winEntries.contains(e))
    require(leftovers.isEmpty,
      s"jx: unrecognized streaming groupby entr${if (leftovers.size == 1) "y" else "ies"} " +
        s"${leftovers.mkString(", ")} — each entry must be a column name " +
        """or a window object ({"name", "value", "window"|"session_gap"})""")
    val gbCols = winCol +: plain.map(col)
    val aggs = selectsOf(q).map(aggColumn)
    require(aggs.nonEmpty, "jx: streaming groupby needs aggregate selects")
    (if (watermarked) df else df.withWatermark(wmOn, wmDelay))
      .groupBy(gbCols: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn(winName, col(s"$structName.start"))
      .drop(structName)
  }

  /** Stream-stream interval join through the front door (r11 verdict
    * #7, the jx twin of Streams.clickViewJoin): both sides are
    * filtered projections of the events stream, each REQUIRED to carry
    * its own watermark and the join REQUIRED to carry a time interval
    * — without both watermarks and the bound, buffered join state
    * grows with the stream, so a query missing either is refused at
    * COMPILE time, not discovered at 100 TB. Shape:
    *   "join": {"left":  {"where": …, "fields": {new: src, …},
    *                      "watermark": {"on": …, "delay": …}},
    *            "right": {…},
    *            "on": {"left": col, "right": col},
    *            "interval": {"left": t0, "right": t1, "within": dur}}
    * Semantics: rows match when the key columns are equal and
    * t1 ∈ [t0, t0 + within] — right-side events in the `within`
    * window AFTER the left event. */
  private def streamStreamJoin(spark: SparkSession, sfDir: String,
      j: JValue, q: JValue): DataFrame = {
    // A side whose `where` is exactly an event_type equality reads the
    // staged single-type SLICE of the events table instead of the full
    // replay (guide §2.4 — remove work outright: the slice is the same
    // rows the filter keeps, staged once per fixture generation by the
    // same eventsTypeStream discipline stream_join uses, so each
    // micro-batch of this side skips a full-table scan+filter). The
    // compiled predicate is still applied on top — trivially true on
    // the slice — so the side's semantics are byte-identical to the
    // full-replay form by construction, not just by argument.
    def sliceType(w: JValue): Option[String] = w match {
      case JObject(List(("eq", JArray(List(JString("event_type"),
          JObject(List(("literal", JString(et))))))))) => Some(et)
      case _ => None
    }
    def side(name: String): (DataFrame, List[String]) = {
      val s = (j \ name)
      require(s != JNothing && s != JNull, s"jx: join needs '$name'")
      val df = (s \ "where") match {
        case JNothing | JNull => graft.streaming.Streams.eventsStream(spark, sfDir)
        case w => sliceType(w) match {
          case Some(et) =>
            graft.streaming.Streams.eventsTypeStream(spark, sfDir, et)
              .filter(compile(w))
          case None =>
            graft.streaming.Streams.eventsStream(spark, sfDir).filter(compile(w))
        }
      }
      val fields = (s \ "fields") match {
        case JObject(fs) if fs.nonEmpty => fs
        case _ => sys.error(s"jx: join.$name needs 'fields' " +
          """({"new_name": "source_col", …}) — the two sides meet in """ +
          "one row, so their columns must be explicitly disjoint")
      }
      val proj = df.select(fields.map {
        case (n, JString(src)) => col(src).as(n)
        case (n, other) => sys.error(s"jx: join.$name.fields.$n $other")
      }: _*)
      val wm = (s \ "watermark")
      ((wm \ "on"), (wm \ "delay")) match {
        case (JString(on), JString(d)) =>
          require(fields.exists(_._1 == on),
            s"jx: join.$name watermark.on '$on' is not a declared field")
          (proj.withWatermark(on, d), fields.map(_._1))
        case _ => sys.error(s"jx: join.$name needs watermark " +
          "{on, delay} — a stream-stream join cannot evict buffered " +
          "state unless BOTH sides are watermarked")
      }
    }
    val (left, lCols) = side("left")
    val (right, rCols) = side("right")
    val dup = lCols.intersect(rCols)
    require(dup.isEmpty,
      s"jx: join sides both declare ${dup.mkString(", ")} — rename in 'fields'")
    val (lk, rk) = ((j \ "on" \ "left"), (j \ "on" \ "right")) match {
      case (JString(a), JString(b)) => (a, b)
      case _ => sys.error("""jx: join.on needs {"left": col, "right": col}""")
    }
    val (lt, rt, within) = ((j \ "interval" \ "left"),
        (j \ "interval" \ "right"), (j \ "interval" \ "within")) match {
      case (JString(a), JString(b), JString(w)) =>
        require(w.matches("\\d+ [a-z]+"),
          s"jx: interval.within '$w' is not a '<n> <unit>' duration")
        (a, b, w)
      case _ => sys.error("jx: join needs interval {left, right, " +
        "within} — an un-time-bounded stream-stream join buffers " +
        "unbounded state")
    }
    (j \ "type") match {
      case JNothing | JNull | JString("inner") => ()
      case JString(t) => sys.error(s"jx: join.type '$t' — the front " +
        "door compiles inner interval joins; outer forms run through " +
        "the declared stream_join_outer/_full operators")
      case other => sys.error(s"jx: join.type $other")
    }
    val joined = left.join(right,
      col(lk) === col(rk) && col(rt) >= col(lt) &&
        col(rt) <= col(lt) + expr(s"INTERVAL '$within'"))
    val out = (q \ "select") match {
      case JNothing | JNull => joined
      case sel =>
        val names = (sel match {
          case JArray(xs) => xs; case x => List(x)
        }).map {
          case JString(n) => n
          case other => sys.error(s"jx: stream-join select $other — " +
            "plain output column names only")
        }
        joined.select(names.map(col): _*)
    }
    graft.streaming.Streams.runToMemory(
      out, s"jx_sj_${System.nanoTime()}",
      org.apache.spark.sql.streaming.OutputMode.Append(),
      // the front door compiles INNER interval joins only (enforced
      // above): matches emit on the data batch, so the trailing
      // watermark-only batch cannot add rows
      noDataBatch = false)
  }

  /** One snowflake-descent step: `seg` must be an array<struct> (the
    * nested child table — rows multiply, inner-join semantics: parents
    * with no children vanish, like the reference's nested-table query)
    * or a plain struct (flatten only). Child fields land at top level.
    * A child field whose name collides with a surviving parent column
    * is an ERROR, not a silent shadow — dropping a parent column is a
    * data-shape change the caller never asked for; qualify or rename
    * in the nest instead. The explode intermediate gets a
    * collision-proof generated alias, never a fixed name.
    */
  private[graft] def descendInto(df: DataFrame, seg: String): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, StructType}
    val field = df.schema.fields.find(_.name == seg).getOrElse(
      sys.error(s"jx: from descent — no nested column '$seg' " +
        s"(have: ${df.columns.mkString(", ")})"))
    def requireNoShadow(st: StructType): Unit = {
      val clash = df.columns.filter(c => c != seg && st.fieldNames.contains(c))
      if (clash.nonEmpty) sys.error(
        s"jx: from descent into '$seg' — child field(s) " +
          s"${clash.mkString("'", "', '", "'")} collide with parent " +
          "column(s) of the same name; descending would silently drop " +
          "the parent data. Rename the child field or drop the parent first.")
    }
    def fresh(taken: Seq[String]): String =
      Iterator.from(0).map(i => s"_jx_row$i")
        .find(n => !taken.contains(n)).get
    field.dataType match {
      case ArrayType(st: StructType, _) =>
        requireNoShadow(st)
        val parents = df.columns.filterNot(_ == seg)
        val rowAlias = fresh(df.columns ++ st.fieldNames)
        df.select(parents.map(col) :+ explode(col(seg)).as(rowAlias): _*)
          .select(parents.map(col) ++
            st.fieldNames.map(n => col(s"$rowAlias.$n").as(n)): _*)
      case st: StructType =>
        requireNoShadow(st)
        val parents = df.columns.filterNot(_ == seg)
        df.select(parents.map(col) ++
          st.fieldNames.map(n => col(s"$seg.$n").as(n)): _*)
      case other => sys.error(
        s"jx: from descent — '$seg' is $other, need array<struct> or struct")
    }
  }

  /** select: string | {name, value, aggregate} | array of those */
  private def selectsOf(q: JValue): Seq[JValue] = (q \ "select") match {
    case JNothing | JNull => Seq.empty
    case JArray(ss) => ss
    case s => Seq(s)
  }

  private def finishSortLimit(df0: DataFrame, q: JValue): DataFrame = {
    var df = df0
    (q \ "sort") match {
      case JNothing | JNull => ()
      case s =>
        val keys = (s match { case JArray(xs) => xs; case x => Seq(x) })
          .map {
            case JString(k) => asc(k)
            case o: JObject =>
              val v = (o \ "value") match { case JString(k) => k
                case other => sys.error(s"jx: sort value $other") }
              (o \ "sort") match {
                case JString("desc") => desc(v)
                case _ => asc(v)
              }
            case other => sys.error(s"jx: sort $other")
          }
        df = df.orderBy(keys: _*)
    }

    (q \ "limit") match {
      case JInt(n) => df = df.limit(n.toInt)
      case _ => ()
    }
    df
  }

  // --- edges (dense-domain grouping) ---------------------------------

  /** One edge: output name, row→part assignment expression, and the
    * (tiny, broadcastable) dense domain DataFrame with one column
    * carrying that name. Domain types (SURVEY §2.5):
    * set {partitions}, range {min,max,interval}, default (= distinct
    * values found in the data). */
  private def edgeParts(spark: SparkSession, df: DataFrame, e: JValue)
      : (String, Column, DataFrame) = {
    import spark.implicits._
    val (value, name, domain) = e match {
      case JString(v) => (col(v), v, JNothing: JValue)
      case o: JObject =>
        val v = (o \ "value") match {
          case JString(s) => col(s)
          case expr => compile(expr)
        }
        val n = (o \ "name") match {
          case JString(s) => s
          case _ => (o \ "value") match { case JString(s) => s
            case _ => sys.error("jx: edge needs a name") }
        }
        (v, n, o \ "domain")
      case other => sys.error(s"jx: edge $other")
    }
    (domain \ "type") match {
      case JString("set") =>
        val parts = (domain \ "partitions") match {
          case JArray(ps) => ps.map(litOf)
          case other => sys.error(s"jx: set domain partitions $other")
        }
        // Outside-the-set values → NULL overflow part.
        val assign = when(value.isin(parts: _*), value)
        val dom =
          if (parts.forall(_.isInstanceOf[String]))
            parts.map(_.asInstanceOf[String]).toDF(name)
          else parts.map(p => p.asInstanceOf[Long]).toDF(name)
        (name, assign, dom)
      case JString("range") =>
        val (lo, hi, step) = (num(domain \ "min"), num(domain \ "max"),
          num(domain \ "interval"))
        val assign = when(value >= lo && value < hi,
          floor((value - lo) / step) * step + lo)
        val dom = spark.range(1).select(explode(sequence(
          lit(lo), lit(hi - 1), lit(step))).as(name))
        (name, assign, dom)
      case JString("time") =>
        // Calendar bucketing — the most common real-world edge. The
        // domain is the dense run of calendar buckets between min and
        // max (explicit ISO strings, or derived from the data's own
        // bounds when omitted), stepped by `interval` (day/hour/week/
        // month…); rows assign by date_trunc. Mirrors the builder-level
        // edge_time (graft.queries.Edges) through the JSON front door.
        val unit = (domain \ "interval") match {
          case JString(u) => u
          case JNothing | JNull => "day"
          case other => sys.error(s"jx: time interval $other")
        }
        val bucket = date_trunc(unit, value)
        def explicitBound(key: String): Option[Column] =
          (domain \ key) match {
            case JString(ts) => Some(date_trunc(unit, lit(ts).cast("timestamp")))
            case JNothing | JNull => None
            case other => sys.error(s"jx: time $key $other")
          }
        val (loE, hiE) = (explicitBound("min"), explicitBound("max"))
        // Explicit bounds: rows outside [min, max] must land in the NULL
        // overflow part (same contract as the range domain). Derived
        // bounds cover all rows by construction.
        val assign = (loE, hiE) match {
          case (None, None) => bucket
          case _ =>
            val lo = loE.getOrElse(lit("0001-01-01").cast("timestamp"))
            val hi = hiE.getOrElse(lit("9999-01-01").cast("timestamp"))
            when(bucket >= lo && bucket <= hi, bucket)
        }
        val dom = df
          .agg(loE.getOrElse(date_trunc(unit, min(value))).as("lo"),
            hiE.getOrElse(date_trunc(unit, max(value))).as("hi"))
          .select(explode(sequence(col("lo"), col("hi"),
            expr(s"INTERVAL 1 $unit"))).as(name))
        (name, assign, dom)
      case JString("duration") =>
        // Duration domain: numeric seconds bucketed into a dense run of
        // duration-wide parts — the reference's duration type (SURVEY
        // §1.1) as a range over seconds. Bounds/step accept duration
        // literals ("minute", "hour", …) or raw second counts; rows
        // outside [min, max) land in the NULL overflow part. Bucket
        // values are long seconds so the dense-domain join is exact.
        def dur(j: JValue): Long = j match {
          case JString(u) => durationSeconds(u)
          case other => num(other)
        }
        val (lo, hi, step) = (dur(domain \ "min"), dur(domain \ "max"),
          dur(domain \ "interval"))
        val assign = when(value >= lo && value < hi,
          floor((value - lo) / step).cast("long") * step + lo)
        val dom = spark.range(1).select(explode(sequence(
          lit(lo), lit(hi - 1), lit(step))).as(name))
        (name, assign, dom)
      case JNothing | JNull | JString("default") =>
        // Domain = distinct non-null values present in the data; the
        // domain side is derived from the grouped result itself, so the
        // dense join is the identity — but keeping the same shape means
        // multi-edge queries still cross the domains densely.
        val dom = df.select(value.as(name)).where(value.isNotNull).distinct()
        (name, value, dom)
      case other => sys.error(s"jx: domain $other")
    }
  }

  private def durationSeconds(u: String): Long = u match {
    case "second" => 1L
    case "minute" => 60L
    case "hour" => 3600L
    case "day" => 86400L
    case "week" => 604800L
    case other => sys.error(s"jx: duration unit $other")
  }

  private def num(v: JValue): Long = litOf(v) match {
    case l: Long => l
    case d: Double => d.toLong
    case other => sys.error(s"jx: numeric domain bound $other")
  }

  private def edgesQuery(spark: SparkSession, df: DataFrame,
      edgeDefs: Seq[JValue], selects: Seq[JValue]): DataFrame = {
    val parts = edgeDefs.map(e => edgeParts(spark, df, e))
    val names = parts.map(_._1)
    val bucketed = parts.foldLeft(df) { case (d, (n, assign, _)) =>
      d.withColumn(n, assign)
    }
    val aggs =
      if (selects.isEmpty) Seq(count(lit(1)).as("count"))
      else selects.map(aggColumn)
    val grouped = bucketed.groupBy(names.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val aggNames = grouped.columns.drop(names.length)
    // Dense: every domain part survives; count-like aggs zero-fill,
    // value aggs stay NULL on empty parts (SQL semantics the oracle
    // reproduces). Domains are bounded by construction → broadcast.
    val domain = parts.map(_._3).reduce(_.crossJoin(_))
    val countNames: Set[String] =
      if (selects.isEmpty) Set("count")
      else selects.flatMap(s => (s \ "aggregate") match {
        case JString("count") => Some(outName(s)); case _ => None
      }).toSet
    val filled = aggNames.map { a =>
      if (countNames(a)) coalesce(col(a), lit(0L)).as(a) else col(a)
    }
    // Hint the GROUPED side: Spark cannot build-broadcast the preserved
    // (left) side of a left-outer join, so hinting `domain` was silently
    // dropped (HintErrorLogger). The grouped side is just as bounded —
    // ≤ |domain| + overflow rows post-aggregation — and is the side a
    // LeftOuter BroadcastHashJoin actually builds.
    val dense = domain.join(broadcast(grouped), names, "left")
      .select(names.map(col) ++ filled: _*)
    // Rows matching no part → NULL overflow (present only when such
    // rows exist, like any GROUP BY NULL bucket).
    val overflow = grouped.filter(names.map(col(_).isNull).reduce(_ || _))
    dense.unionByName(overflow)
  }

  private def outName(s: JValue): String = s match {
    case o: JObject => (o \ "name") match {
      case JString(n) => n
      case _ => (o \ "value") match { case JString(v) => v; case _ => "value" }
    }
    case JString(v) => v
    case _ => "value"
  }

  // --- window clauses ------------------------------------------------

  private def applyWindow(df: DataFrame, d: JValue): DataFrame = {
    val o = d match { case x: JObject => x
      case other => sys.error(s"jx: window $other") }
    val name = (o \ "name") match { case JString(n) => n
      case _ => sys.error("jx: window needs a name") }
    val partCols = (o \ "edges") match {
      case JNothing | JNull => Seq.empty[Column]
      case JArray(xs) => xs.map { case JString(c) => col(c)
        case e => compile(e) }
      case JString(c) => Seq(col(c))
      case other => sys.error(s"jx: window edges $other")
    }
    val sortCols = (o \ "sort") match {
      case JNothing | JNull => Seq.empty[Column]
      case s => (s match { case JArray(xs) => xs; case x => Seq(x) }).map {
        case JString(k) => asc(k)
        case so: JObject =>
          val v = (so \ "value") match { case JString(k) => k
            case other => sys.error(s"jx: window sort $other") }
          (so \ "sort") match {
            case JString("desc") => desc(v); case _ => asc(v) }
        case other => sys.error(s"jx: window sort $other")
      }
    }
    var spec: WindowSpec = W.partitionBy(partCols: _*)
    if (sortCols.nonEmpty) spec = spec.orderBy(sortCols: _*)
    (o \ "range") match {
      case JNothing | JNull => ()
      case r =>
        val lo = (r \ "min") match { case JNothing | JNull => W.unboundedPreceding
          case v => num(v) }
        val hi = (r \ "max") match { case JNothing | JNull => W.currentRow
          case v => num(v) }
        spec = spec.rowsBetween(lo, hi)
    }
    val value = (o \ "value") match {
      case JNothing | JNull => lit(1)
      case JString(v) => col(v)
      case e => compile(e)
    }
    val agg = (o \ "aggregate") match { case JString(a) => a
      case _ => sys.error("jx: window needs an aggregate") }
    val c = agg match {
      // rank family: Spark emits IntegerType; JX numbers are wide —
      // cast to long (also matches DuckDB BIGINT for the oracle).
      case "rownum" | "row_number" => row_number().over(spec).cast("long")
      case "rank" => rank().over(spec).cast("long")
      case "dense_rank" => dense_rank().over(spec).cast("long")
      case "ntile" => ntile(4).over(spec).cast("long")
      case "count" => count(value).over(spec)
      case "sum" => sum(value).over(spec)
      case "minimum" | "min" => min(value).over(spec)
      case "maximum" | "max" => max(value).over(spec)
      case "average" | "avg" => avg(value).over(spec)
      case "first" => first(value).over(spec)
      case "last" => last(value).over(spec)
      case "lag" => lag(value, 1).over(spec)
      case "lead" => lead(value, 1).over(spec)
      case other => sys.error(s"jx: window aggregate '$other'")
    }
    df.withColumn(name, c)
  }

  /** (out name, plain value column, fraction) when `s` is an EXACT
    * percentile-family aggregate over a bare column reference —
    * the only shape the fusion below rewrites. */
  private def pctOf(s: JValue): Option[(String, String, Double)] = s match {
    case o: JObject =>
      val vs = (o \ "value") match { case JString(v) => Some(v); case _ => None }
      val out = (o \ "name") match { case JString(n) => Some(n); case _ => vs }
      ((o \ "aggregate"), vs, out) match {
        case (JString("median"), Some(v), Some(n)) => Some((n, v, 0.5))
        case (JString("percentile"), Some(v), Some(n)) =>
          val p = (o \ "percentile") match {
            case JDouble(d) => d
            case JDecimal(d) => d.toDouble
            case JInt(i) => i.toDouble
            case JNothing | JNull => 0.5
            case other => sys.error(s"jx: percentile $other")
          }
          Some((n, v, p))
        case _ => None
      }
    case _ => None
  }

  /** Aggregate plan with exact-percentile FUSION (the
    * agg_percentile_approx array-form lesson, applied inside the front
    * door): N `median`/`percentile` selects over the same column each
    * build and merge their own full-group counts-map buffer — the
    * dominant cost of the stats queries at sf0.1 and a straight N×
    * memory multiplier at 100 TB. When ≥2 exact percentile selects hit
    * one column, compile ONE array-form percentile() and restore the
    * declared names/order with an element_at projection; everything
    * else (approx sketches, count_distinct, plain aggs) passes through
    * aggColumn unchanged. Returns (agg columns, optional
    * post-projection in declared select order). */
  private def aggPlan(selects: Seq[JValue]): (Seq[Column], Option[Seq[Column]]) = {
    val fusable = selects.flatMap(pctOf).groupBy(_._2).filter(_._2.size >= 2)
    if (fusable.isEmpty) (selects.map(aggColumn), None)
    else {
      val passthrough = selects.filter(s => pctOf(s) match {
        case Some((_, v, _)) => !fusable.contains(v)
        case None => true
      }).map(aggColumn)
      val fused = fusable.toSeq.sortBy(_._1).map { case (v, es) =>
        expr(s"percentile($v, array(${es.map(_._3).mkString("D, ")}D))")
          .as(s"__pct_$v")
      }
      val post = selects.map { s =>
        pctOf(s) match {
          case Some((n, v, p)) if fusable.contains(v) =>
            // Keyed by (name, fraction), not name alone: two selects
            // that declare the SAME output name over the same column
            // but different fractions must each resolve to their OWN
            // array slot, not both to the first name match.
            element_at(col(s"__pct_$v"),
              fusable(v).indexWhere(e => e._1 == n && e._3 == p) + 1).as(n)
          case _ => col(outName(s))
        }
      }
      (passthrough ++ fused, Some(post))
    }
  }

  private def aggColumn(s: JValue): Column = s match {
    case o: JObject =>
      val value = (o \ "value") match {
        case JString(v) => col(v)
        case JNothing | JNull => lit(1)
        case e => compile(e)
      }
      val out = (o \ "name") match {
        case JString(n) => n
        case _ => (o \ "value") match {
          case JString(v) => v; case _ => "value" }
      }
      val agg = (o \ "aggregate") match {
        case JString(a) => a; case _ => "count" }
      (agg match {
        case "count" => count(value)
        case "sum" => sum(value)
        case "minimum" | "min" => min(value)
        case "maximum" | "max" => max(value)
        case "average" | "avg" => avg(value)
        case "cardinality" => count_distinct(value)
        // Sketch twins reachable from the front door (SURVEY §2.4
        // 100 TB posture): a JSON caller should not be locked into the
        // exact per-group sort / Expand that "median"/"cardinality"
        // compile to. Same mergeable families as agg_percentile_approx
        // (Greenwald-Khanna digest) and agg_hll_merge (Datasketches
        // HLL, lgK=12).
        case "cardinality_approx" =>
          expr(s"hll_sketch_estimate(hll_sketch_agg(${value.toString}, 12))")
        case "median_approx" =>
          expr(s"approx_percentile(${value.toString}, 0.5D, 1000)")
        case "median" => expr(s"percentile(${value.toString}, 0.5)")
        case "percentile" | "percentile_approx" =>
          val p = (o \ "percentile") match {
            case JDouble(d) => d
            case JDecimal(d) => d.toDouble
            case JInt(i) => i.toDouble
            case JNothing | JNull => 0.5
            case other => sys.error(s"jx: percentile $other")
          }
          if (agg == "percentile_approx")
            expr(s"approx_percentile(${value.toString}, ${p}D, 1000)")
          else expr(s"percentile(${value.toString}, $p)")
        case other => sys.error(s"jx: aggregate '$other'")
      }).as(out)
    case other => sys.error(s"jx: aggregate select $other")
  }

  private def selColumn(s: JValue): Column = s match {
    case JString(v) => col(v)
    case o: JObject =>
      val c = (o \ "value") match {
        case JString(v) => col(v)
        case e => compile(e)
      }
      (o \ "name") match { case JString(n) => c.as(n); case _ => c }
    case other => sys.error(s"jx: select $other")
  }

  /** JX expression object → Column. Variables are strings on the
    * operand side; bare literals are literals. */
  def compile(e: JValue): Column = e match {
    // {"when": cond, "then": a, "else": b} — multi-key conditional
    // (reference jx `when` expression; SURVEY §1.4 null logic).
    case o: JObject if (o \ "when") != JNothing =>
      val cond = compile(o \ "when")
      val thn = (o \ "then") match {
        case JNothing => lit(null); case t => operand(t) }
      (o \ "else") match {
        case JNothing | JNull => when(cond, thn)
        case el => when(cond, thn).otherwise(operand(el))
      }
    case JObject(List((op, args))) => op match {
      case "eq"  => bin(args)(_ === _)
      case "ne"  => bin(args)(_ =!= _)
      case "gt"  => bin(args)(_ > _)
      case "gte" => bin(args)(_ >= _)
      case "lt"  => bin(args)(_ < _)
      case "lte" => bin(args)(_ <= _)
      case "and" => varargs(args).reduce(_ && _)
      case "or"  => varargs(args).reduce(_ || _)
      case "not" => !compile(args)
      case "missing" => operand(args).isNull
      case "exists"  => operand(args).isNotNull
      case "in" => args match {
        case JArray(JString(v) :: JArray(vals) :: Nil) =>
          col(v).isin(vals.map(litOf): _*)
        case other => sys.error(s"jx: in $other")
      }
      case "prefix" => bin(args)((c, p) => c.startsWith(p))
      case "suffix" => bin(args)((c, p) => c.endsWith(p))
      case "coalesce" => coalesce(varargs(args): _*)
      case "add"  => varargs(args).reduce(_ + _)
      case "sub"  => bin(args)(_ - _)
      case "mult" => varargs(args).reduce(_ * _)
      case "div"  => bin(args)(_ / _)
      case "mod"  => bin(args)(_ % _)
      case "abs"  => abs(operand(args))
      case "exp"  => exp(operand(args))
      case "log"  => log(operand(args))
      case "floor" => args match {
        // {"floor": ["x", interval]} → interval-aligned bucket (JX
        // floors to a multiple, not just to an integer).
        case JArray(a :: b :: Nil) =>
          floor(operand(a) / operand(b)) * operand(b)
        case a => floor(operand(a))
      }
      case "length" => length(operand(args))
      case "lowercase" => lower(operand(args))
      case "uppercase" => upper(operand(args))
      case "trim" => trim(operand(args))
      case "left" => args match {
        case JArray(a :: JInt(n) :: Nil) =>
          substring(operand(a), 1, n.toInt)
        case other => sys.error(s"jx: left $other")
      }
      case "right" => args match {
        case JArray(a :: JInt(n) :: Nil) =>
          operand(a).substr(length(operand(a)) - (n.toInt - 1), lit(n.toInt))
        case other => sys.error(s"jx: right $other")
      }
      case "find" =>
        // 1-based index of the needle, 0 when absent (declared pinning
        // of JX find; SURVEY §1.4 lets the declared query fix the
        // missing-value convention).
        bin(args)((c, p) => call_function("instr", c, p))
      case "concat" => concat(varargs(args): _*)
      case "number" => tryCastDouble(operand(args))
      case "string" => operand(args).cast("string")
      // Content fingerprint (lowercase, strip non-alnum, squeeze
      // spaces, md5) — the exact-dedup kernel the curation pipeline
      // keys on (TextOps.fingerprint's fused TextNorm form), exposed
      // as a front-door expression so a JSON caller can dedup/group
      // on content identity.
      case "fingerprint" => graft.operators.TextOps.fingerprint(operand(args))
      case "literal" => lit(litOf(args))
      case other => sys.error(s"jx: op '$other'")
    }
    case JString(v) => col(v)
    case other => lit(litOf(other))
  }

  /** JX `number`: tolerant string→number, Null (not an ANSI error) on
    * unparseable input — a TRY-mode Cast, the engine-level form of
    * SQL try_cast (which has expression syntax but no function). */
  private def tryCastDouble(c: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}
    import org.apache.spark.sql.graftshim.ColumnShim
    import org.apache.spark.sql.types.DoubleType
    ColumnShim.column(
      Cast(ColumnShim.expression(c), DoubleType, None, EvalMode.TRY))
  }

  private def bin(args: JValue)(f: (Column, Column) => Column): Column =
    args match {
      case JArray(a :: b :: Nil) => f(operand(a), operand(b))
      case other => sys.error(s"jx: binary args $other")
    }

  private def varargs(args: JValue): Seq[Column] = args match {
    case JArray(xs) => xs.map(operand)
    case x => Seq(operand(x))
  }

  /** Operand position: strings are column refs (JX convention);
    * {"literal": x} forces a literal. */
  private def operand(v: JValue): Column = v match {
    case JString(s) => col(s)
    case JObject(List(("literal", l))) => lit(litOf(l))
    case o: JObject => compile(o)
    case other => lit(litOf(other))
  }

  private def litOf(v: JValue): Any = v match {
    case JString(s) => s
    case JInt(i) => i.toLong
    case JLong(l) => l
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case JBool(b) => b
    case JNull => null
    case other => sys.error(s"jx: literal $other")
  }
}
