package graft.queries

import org.apache.spark.sql.functions._
import graft.{JxJson, QueryDef, QueryModule}
import graft.functions.GeoMean
import graft.operators.Leaves
import graft.sources.Catalog

/** SURVEY.md §2.10 (UDF/UDAF/UDTF surface) + §3.2 (JX JSON front door).
  */
object Extensions extends QueryModule {

  /** Oracle shared by the dense edges table: `jx_json_edges` and the cube
    * round-trip `jx_json_cube`. */
  private val edgesOracle: String =
    """WITH bucketed AS (SELECT CASE WHEN c_mktsegment IN
            ('AUTOMOBILE', 'BUILDING', 'FURNITURE', 'AEROSPACE')
            THEN c_mktsegment END AS seg, c_acctbal FROM customer),
        agg AS (SELECT seg, count(*) AS n, max(c_acctbal) AS max_bal
          FROM bucketed GROUP BY seg),
        domain(seg) AS (VALUES ('AUTOMOBILE'), ('BUILDING'), ('FURNITURE'), ('AEROSPACE'))
        SELECT d.seg, coalesce(a.n, 0) AS n, a.max_bal
          FROM domain d LEFT JOIN agg a ON d.seg = a.seg
        UNION ALL
        SELECT NULL AS seg, n, max_bal FROM agg WHERE seg IS NULL
        ORDER BY seg NULLS FIRST"""

  def defs: Seq[QueryDef] = Seq(

    // Schema introspection — JX/ActiveData expose table metadata as a
    // queryable surface ("meta" queries, SURVEY §1/§3). The column
    // inventory derives from the catalog (driver-side, bounded by
    // schema width, never a data scan); the oracle maps DuckDB's
    // DESCRIBE type names onto Spark catalogString spellings.
    QueryDef(
      "meta_columns",
      (s, dir) => {
        import s.implicits._
        Catalog.table(s, dir, "lineitem").schema.fields.toSeq
          .map(f => (f.name, f.dataType.catalogString))
          .toDF("col", "dtype")
          .orderBy("col")
      },
      Some("""SELECT column_name AS col,
          CASE lower(column_type) WHEN 'integer' THEN 'int'
            WHEN 'varchar' THEN 'string'
            WHEN 'timestamp' THEN 'timestamp_ntz'
            ELSE lower(column_type) END AS dtype
        FROM (DESCRIBE SELECT * FROM lineitem) ORDER BY col""")),

    // One-pass table profiling: per-column null count, exact distinct
    // count, and numeric min/max — the data-quality sweep run before
    // committing a 100 TB corpus to training. ONE aggregate over the
    // table computes every column's metrics (Catalyst plans the
    // multi-distinct via Expand: one scan, data replicated per
    // distinct-agg — the standard exact plan; at real scale swap
    // count_distinct for approx_count_distinct and the Expand
    // disappears), then the single result row is reshaped row-local
    // into one row per column. Numeric lo/hi are DOUBLE (NULL for
    // string columns) so the output schema is uniform; exactness keeps
    // the oracle a hard equality.
    QueryDef(
      "meta_profile",
      (s, dir) => {
        val t = Catalog.table(s, dir, "customer")
        val numeric = Set("c_custkey", "c_nationkey", "c_acctbal")
        val cols = t.columns.toSeq
        val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
          Seq(
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
            countDistinct(col(c)).as(s"${c}__distinct"),
            (if (numeric(c)) round(min(col(c)).cast("double"), 4)
             else lit(null).cast("double")).as(s"${c}__lo"),
            (if (numeric(c)) round(max(col(c)).cast("double"), 4)
             else lit(null).cast("double")).as(s"${c}__hi"))
        }
        t.agg(aggs.head, aggs.tail: _*)
          .select(explode(array(cols.map(c => struct(
            lit(c).as("col_name"),
            col("n_rows"),
            col(s"${c}__nulls").as("n_nulls"),
            col(s"${c}__distinct").as("n_distinct"),
            col(s"${c}__lo").as("lo"),
            col(s"${c}__hi").as("hi"))): _*)).as("m"))
          .select("m.*")
          .orderBy("col_name")
      },
      Some(Seq(
        ("c_custkey", true), ("c_name", false), ("c_nationkey", true),
        ("c_acctbal", true), ("c_mktsegment", false)).map { case (c, num) =>
        val lo = if (num) s"round(min($c)::DOUBLE, 4)" else "NULL::DOUBLE"
        val hi = if (num) s"round(max($c)::DOUBLE, 4)" else "NULL::DOUBLE"
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
          sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
          count(DISTINCT $c) AS n_distinct, $lo AS lo, $hi AS hi
        FROM customer"""
      }.mkString("", " UNION ALL ", " ORDER BY col_name"))),

    // Distribution-drift monitoring: Population Stability Index of the
    // value distribution per event_type, older half of the stream
    // (reference window) vs newer half (current window). 10 fixed-width
    // buckets over the GLOBAL [min,max] (1-row broadcast, so both
    // windows share one axis), add-one smoothing so empty buckets never
    // divide by zero, psi = sum (p-q)*ln(p/q). The production
    // before/after-deploy data-quality gate: two fine-key aggregates +
    // one tiny join — at 100 TB the cost is the two scans, the psi
    // itself is per-(type,bucket) arithmetic on counts.
    QueryDef(
      "meta_drift_psi",
      (s, dir) => {
        val ev = Catalog.table(s, dir, "events")
          .select(col("event_type"), unix_millis(col("ts")).as("tm"),
            col("value"))
        val st = ev.agg(min("value").as("vmin"), max("value").as("vmax"),
          expr("(min(tm) + max(tm)) div 2").as("mid"))
        val b = ev.crossJoin(broadcast(st))
          .select(col("event_type"),
            when(col("tm") <= col("mid"), "ref").otherwise("cur").as("side"),
            // Zero-width guard: all-equal values make vmax = vmin and
            // 0/0 would NaN the bucketing; nullif turns the width into
            // NULL and the coalesce pins the degenerate axis to bucket
            // 0 — identically in the DuckDB oracle below.
            coalesce(least(floor((col("value") - col("vmin")) /
              nullif(col("vmax") - col("vmin"), lit(0)) * 10).cast("int"),
              lit(9)), lit(0)).as("bkt"))
        val c = b.groupBy("event_type", "side", "bkt")
          .agg(count(lit(1)).as("c"))
        val t = c.groupBy("event_type")
          .agg(sum(when(col("side") === "ref", col("c")).otherwise(0L))
            .as("n_ref"),
            sum(when(col("side") === "cur", col("c")).otherwise(0L))
              .as("n_cur"))
        val ax = ev.select("event_type").distinct()
          .select(col("event_type"),
            explode(sequence(lit(0), lit(9))).as("bkt"))
        val cr = c.filter(col("side") === "ref")
          .select(col("event_type"), col("bkt"), col("c").as("cref"))
        val cc = c.filter(col("side") === "cur")
          .select(col("event_type"), col("bkt"), col("c").as("ccur"))
        val p = (cnt: org.apache.spark.sql.Column,
            n: org.apache.spark.sql.Column) =>
          (cnt + lit(1.0)) / (n + lit(10))
        ax.join(cr, Seq("event_type", "bkt"), "left")
          .join(cc, Seq("event_type", "bkt"), "left")
          .join(t, Seq("event_type"))
          .select(col("event_type"), col("n_ref"), col("n_cur"),
            (p(coalesce(col("cref"), lit(0L)), col("n_ref")) -
              p(coalesce(col("ccur"), lit(0L)), col("n_cur"))).as("d"),
            log(p(coalesce(col("cref"), lit(0L)), col("n_ref")) /
              p(coalesce(col("ccur"), lit(0L)), col("n_cur"))).as("l"))
          .groupBy("event_type", "n_ref", "n_cur")
          .agg(round(sum(col("d") * col("l")), 6).as("psi"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (SELECT event_type, epoch_ms(ts) AS tm, value
          FROM events),
        st AS (SELECT min(value) AS vmin, max(value) AS vmax,
            (min(tm) + max(tm)) // 2 AS mid FROM ev),
        b AS (SELECT event_type,
            CASE WHEN tm <= mid THEN 'ref' ELSE 'cur' END AS side,
            coalesce(least(CAST(floor((value - vmin)
                / nullif(vmax - vmin, 0) * 10) AS INT), 9), 0)
              AS bkt
          FROM ev CROSS JOIN st),
        c AS (SELECT event_type, side, bkt, count(*) AS c
          FROM b GROUP BY 1, 2, 3),
        t AS (SELECT event_type,
            CAST(sum(CASE WHEN side = 'ref' THEN c ELSE 0 END) AS BIGINT)
              AS n_ref,
            CAST(sum(CASE WHEN side = 'cur' THEN c ELSE 0 END) AS BIGINT)
              AS n_cur
          FROM c GROUP BY 1),
        ax AS (SELECT event_type, unnest(generate_series(0, 9)) AS bkt
          FROM (SELECT DISTINCT event_type FROM ev)),
        j AS (SELECT ax.event_type, ax.bkt,
            coalesce(cr.c, 0) AS cref, coalesce(cc.c, 0) AS ccur
          FROM ax
          LEFT JOIN c cr ON cr.event_type = ax.event_type
            AND cr.bkt = ax.bkt AND cr.side = 'ref'
          LEFT JOIN c cc ON cc.event_type = ax.event_type
            AND cc.bkt = ax.bkt AND cc.side = 'cur')
        SELECT j.event_type, t.n_ref, t.n_cur,
          round(sum(
            ((cref + 1.0) / (t.n_ref + 10) - (ccur + 1.0) / (t.n_cur + 10))
            * ln(((cref + 1.0) / (t.n_ref + 10))
                 / ((ccur + 1.0) / (t.n_cur + 10)))), 6) AS psi
        FROM j JOIN t ON j.event_type = t.event_type
        GROUP BY j.event_type, t.n_ref, t.n_cur
        ORDER BY j.event_type""")),

    // Scalar UDF surface. Native Column exprs are always preferred
    // (SURVEY §2.10) — this declares the escape hatch works; the oracle
    // proves the UDF against its pure-SQL equivalent.
    QueryDef(
      "udf_scalar",
      (s, dir) => {
        val slug = udf((name: String) =>
          if (name == null) null
          else name.toLowerCase(java.util.Locale.ROOT).replaceAll("[^a-z0-9]+", "-"))
        Catalog.table(s, dir, "customer")
          .select(col("c_custkey"), slug(col("c_name")).as("slug"))
          .orderBy("c_custkey")
          .limit(500)
      },
      Some("""SELECT c_custkey,
        regexp_replace(lower(c_name), '[^a-z0-9]+', '-', 'g') AS slug
        FROM customer ORDER BY c_custkey LIMIT 500""")),

    // Typed Aggregator (exact geometric mean) — oracle is the algebraic
    // identity exp(avg(ln x)).
    QueryDef(
      "udaf_typed",
      (s, dir) =>
        Catalog.table(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(round(udaf(GeoMean).apply(col("l_quantity")), 6).as("geo_qty"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, round(exp(avg(ln(l_quantity))), 6) AS geo_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // mo_dots leaves as a generator: 1 doc → N (path, value) rows.
    // The fixture props are flat; nested/array docs are covered in
    // LeavesSpec.
    QueryDef(
      "json_leaves",
      (s, dir) =>
        Leaves.explodeLeaves(
          Catalog.table(s, dir, "events").filter(col("event_id") < 2000),
          "event_id", "props")
          .orderBy("event_id", "path"),
      Some("""SELECT event_id, 'k' AS path, json_extract_string(props, '$.k') AS value
        FROM events WHERE event_id < 2000 ORDER BY event_id, path""")),

    // Generator over a genuinely NESTED document (udtf surface proper):
    // build a nested JSON from events, flatten to (path, value) rows.
    QueryDef(
      "udtf_leaves",
      (s, dir) => {
        val nested = Catalog.table(s, dir, "events")
          .filter(col("event_id") < 500)
          .select(col("event_id"),
            to_json(struct(
              get_json_object(col("props"), "$.k").cast("long").as("k"),
              struct(
                col("event_type").as("type"),
                date_trunc("day", col("ts")).cast("date").cast("string").as("day"))
                .as("meta"))).as("doc"))
        Leaves.explodeLeaves(nested, "event_id", "doc")
          .orderBy("event_id", "path")
      },
      Some("""SELECT event_id, path, value FROM (
          SELECT event_id, 'k' AS path,
            json_extract_string(props, '$.k') AS value FROM events
          UNION ALL
          SELECT event_id, 'meta.day' AS path,
            CAST(date_trunc('day', ts) AS VARCHAR) AS value FROM events
          UNION ALL
          SELECT event_id, 'meta.type' AS path, event_type AS value FROM events)
        WHERE event_id < 500 ORDER BY event_id, path""")),

    // Typed-JSON multi-type payload (SURVEY §1.1 typed encoder): one
    // logical field that holds number-or-string across rows — the
    // reference's ~n~/~s~ type-marker situation. The mixed column is
    // built deterministically from fixture data (every 3rd event's
    // value becomes the string "cat-<k>"), then accessed through the
    // typed-union pattern: try_cast extracts the number facet, the
    // string facet is what fails the cast; both engines apply the same
    // construction and the same facet algebra.
    QueryDef(
      "json_typed_union",
      (s, dir) => {
        val payload = when(col("event_id") % 3 === 0,
            concat(lit("cat-"), get_json_object(col("props"), "$.k")))
          .otherwise(get_json_object(col("props"), "$.k"))
        val vnum = expr("try_cast(payload AS DOUBLE)")
        Catalog.table(s, dir, "events")
          .filter(col("event_id") < 3000)
          .withColumn("payload", payload)
          .groupBy("event_type")
          .agg(
            count(vnum).as("n_num"),
            count(when(vnum.isNull && col("payload").isNotNull, 1)).as("n_str"),
            round(sum(vnum), 4).as("sum_num"),
            max(when(vnum.isNull, col("payload"))).as("max_str"))
          .orderBy("event_type")
      },
      Some("""WITH p AS (SELECT event_type,
          CASE WHEN event_id % 3 = 0
               THEN 'cat-' || json_extract_string(props, '$.k')
               ELSE json_extract_string(props, '$.k') END AS payload
        FROM events WHERE event_id < 3000)
        SELECT event_type,
          count(try_cast(payload AS DOUBLE)) AS n_num,
          count(CASE WHEN try_cast(payload AS DOUBLE) IS NULL
                      AND payload IS NOT NULL THEN 1 END) AS n_str,
          round(sum(try_cast(payload AS DOUBLE)), 4) AS sum_num,
          max(CASE WHEN try_cast(payload AS DOUBLE) IS NULL THEN payload END) AS max_str
        FROM p GROUP BY event_type ORDER BY event_type""")),

    // Typed-JSON ENCODER (SURVEY §1.1 typed encoding, write side —
    // mo_json typed_encoder [P]): plain rows → marker-key JSON, every
    // value wrapped under its type marker (~n~ number, ~s~ string) and
    // the object level stamped with its exists-count ~e~. The whole
    // encode is one codegen'd to_json(struct(...)) per row — no UDF, no
    // shuffle — and the oracle rebuilds the byte-identical string with
    // DuckDB's to_json/struct_pack, so marker layout, key order, and
    // value rendering are all pinned cross-engine.
    // Non-null domain is PART OF the contract: Spark's to_json omits
    // null struct fields while DuckDB's to_json renders `"~s~": null`,
    // so a null lang/n_chars would silently break byte-identity. The
    // assert_true in the filter makes a fixture drift fail loudly at
    // run time instead of as an opaque oracle hash mismatch. (A real
    // encoder would wrap null as the typed-JSON missing marker.)
    QueryDef(
      "json_typed_encode",
      (s, dir) =>
        Catalog.table(s, dir, "documents")
          .filter(col("doc_id") < 500 && isnull(assert_true(
            col("lang").isNotNull && col("n_chars").isNotNull,
            lit("json_typed_encode: null lang/n_chars breaks the " +
              "byte-identical typed-JSON contract"))))
          .select(col("doc_id"), to_json(struct(
            struct(col("doc_id").as("~n~")).as("doc_id"),
            struct(col("lang").as("~s~")).as("lang"),
            struct(col("n_chars").as("~n~")).as("n_chars"),
            lit(1).as("~e~"))).as("typed"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, to_json(struct_pack(
            doc_id := struct_pack("~n~" := doc_id),
            lang := struct_pack("~s~" := lang),
            n_chars := struct_pack("~n~" := n_chars),
            "~e~" := 1))::VARCHAR AS typed
        FROM documents WHERE doc_id < 500 ORDER BY doc_id""")),

    // JX JSON query string in, DataFrame out — compiled onto the same
    // builder; result proven against plain SQL.
    QueryDef(
      "jx_json_query",
      (s, dir) => JxJson.run(s, dir,
        """{
          "from": "orders",
          "where": {"and": [
            {"gte": ["o_totalprice", {"literal": 100000}]},
            {"ne": ["o_orderstatus", {"literal": "P"}]}
          ]},
          "groupby": ["o_orderpriority"],
          "select": [
            {"name": "n", "aggregate": "count"},
            {"name": "max_price", "value": "o_totalprice", "aggregate": "max"}
          ],
          "sort": "o_orderpriority"
        }"""),
      Some("""SELECT o_orderpriority, count(*) AS n, max(o_totalprice) AS max_price
        FROM orders WHERE o_totalprice >= 100000 AND o_orderstatus != 'P'
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // JX scalar expression surface through the JSON front door:
    // string/math/conditional ops compile onto native Column functions
    // and are proven against plain SQL.
    QueryDef(
      "jx_json_scalars",
      (s, dir) => JxJson.run(s, dir,
        """{
          "from": "customer",
          "where": {"exists": "c_name"},
          "select": [
            "c_custkey",
            {"name": "slug", "value": {"lowercase": {"left": ["c_name", 8]}}},
            {"name": "tail2", "value": {"right": ["c_name", 2]}},
            {"name": "sharp", "value": {"find": ["c_name", {"literal": "#"}]}},
            {"name": "label", "value": {"concat": ["c_mktsegment", {"literal": ":"}, "c_name"]}},
            {"name": "bal_bucket", "value": {"floor": ["c_acctbal", {"literal": 500}]}},
            {"name": "bal_mag", "value": {"when": {"gte": ["c_acctbal", {"literal": 0}]},
                                          "then": {"literal": "pos"}, "else": {"literal": "neg"}}},
            {"name": "key_mod", "value": {"mod": ["c_custkey", {"literal": 7}]}}
          ],
          "sort": "c_custkey",
          "limit": 500
        }"""),
      Some("""SELECT c_custkey,
          lower(left(c_name, 8)) AS slug,
          right(c_name, 2) AS tail2,
          CAST(instr(c_name, '#') AS INT) AS sharp,
          c_mktsegment || ':' || c_name AS label,
          CAST(floor(c_acctbal / 500) AS BIGINT) * 500 AS bal_bucket,
          CASE WHEN c_acctbal >= 0 THEN 'pos' ELSE 'neg' END AS bal_mag,
          c_custkey % 7 AS key_mod
        FROM customer WHERE c_name IS NOT NULL
        ORDER BY c_custkey LIMIT 500""")),

    // JX `edges` through the JSON front door: explicit set domain with a
    // zero part (AEROSPACE) and a NULL overflow part — the signature JX
    // construct (SURVEY §2.5), compiled onto the broadcast dense-domain
    // join. count zero-fills on empty parts; value aggs stay NULL.
    QueryDef(
      "jx_json_edges",
      (s, dir) => JxJson.run(s, dir,
        """{
          "from": "customer",
          "edges": [{"name": "seg", "value": "c_mktsegment",
            "domain": {"type": "set",
              "partitions": ["AUTOMOBILE", "BUILDING", "FURNITURE", "AEROSPACE"]}}],
          "select": [
            {"name": "n", "aggregate": "count"},
            {"name": "max_bal", "value": "c_acctbal", "aggregate": "max"}
          ],
          "sort": "seg"
        }"""),
      Some(edgesOracle)),

    // JX snowflake descent through the JSON front door (jx_sqlite
    // nested child tables, SURVEY §1.1): `from: "orders_nested.lines"`
    // explodes the nested lines array and queries parent + child
    // columns together. The oracle rebuilds the nest in DuckDB (list()
    // per order, then UNNEST) so the descent itself — not just the
    // equivalent flat join — is what's being checked.
    QueryDef(
      "jx_json_nested",
      (s, dir) => JxJson.run(s, dir,
        """{
          "from": "orders_nested.lines",
          "where": {"gte": ["o_totalprice", {"literal": 50000}]},
          "groupby": ["o_orderpriority"],
          "select": [
            {"name": "n_lines", "aggregate": "count"},
            {"name": "qty", "value": "l_quantity", "aggregate": "sum"},
            {"name": "max_price", "value": "l_extendedprice", "aggregate": "max"}
          ],
          "sort": "o_orderpriority"
        }"""),
      Some("""WITH nested AS (SELECT o.*, (SELECT list(struct_pack(
              l_partkey := l.l_partkey, l_quantity := l.l_quantity,
              l_extendedprice := l.l_extendedprice))
            FROM lineitem l WHERE l.l_orderkey = o.o_orderkey) AS lines
          FROM orders o),
        descended AS (SELECT o_orderpriority, o_totalprice,
            unnest(lines) AS line FROM nested),
        flat AS (SELECT o_orderpriority, o_totalprice,
            line.l_quantity AS l_quantity,
            line.l_extendedprice AS l_extendedprice FROM descended)
        SELECT o_orderpriority, count(*) AS n_lines,
          sum(l_quantity) AS qty, max(l_extendedprice) AS max_price
        FROM flat WHERE o_totalprice >= 50000
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // JX BATCH JOIN clause (VERDICT r12 #6): orders ⋈ customer through
    // the JSON front door, one fused plan — the parent `where` carries
    // a conjunct for EACH side, and Catalyst pushes both down to their
    // scans (PlanQualitySpec asserts PushedFilters on both). The jx
    // language itself has no join [P]; this is the front-door nicety
    // over the DSL door's join family.
    QueryDef(
      "jx_json_join",
      (s, dir) => JxJson.run(s, dir,
        """{
          "from": "orders",
          "join": {"with": "customer",
                   "on": {"left": "o_custkey", "right": "c_custkey"}},
          "where": {"and": [
            {"gte": ["o_totalprice", {"literal": 50000}]},
            {"eq": ["c_mktsegment", {"literal": "BUILDING"}]}]},
          "groupby": ["o_orderpriority"],
          "select": [
            {"name": "n", "aggregate": "count"},
            {"name": "max_price", "value": "o_totalprice", "aggregate": "max"},
            {"name": "sum_nation", "value": "c_nationkey", "aggregate": "sum"},
            {"name": "max_bal", "value": "c_acctbal", "aggregate": "max"}
          ],
          "sort": "o_orderpriority"
        }"""),
      // max/count/integer-sum only: all order-independent, so the hash
      // oracle is exact (a double-money sum through the front door
      // would be partition-order FP noise — the determinism contract).
      Some("""SELECT o_orderpriority, count(*) AS n,
          max(o_totalprice) AS max_price,
          CAST(sum(c_nationkey) AS BIGINT) AS sum_nation,
          max(c_acctbal) AS max_bal
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_totalprice >= 50000 AND c_mktsegment = 'BUILDING'
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // JX query COMPOSITION: `from` is itself a query object — the
    // inner per-customer aggregate feeds the outer filter+aggregate as
    // one fused Catalyst plan (a SQL derived table, not a
    // materialization barrier). Spend per customer, then the
    // distribution of high-frequency customers per order count.
    QueryDef(
      "jx_json_subquery",
      (s, dir) => JxJson.run(s, dir,
        """{
          "from": {
            "from": "orders",
            "groupby": ["o_custkey"],
            "select": [
              {"name": "n_orders", "aggregate": "count"},
              {"name": "top_order", "value": "o_totalprice", "aggregate": "max"}
            ]
          },
          "where": {"gte": ["n_orders", {"literal": 8}]},
          "groupby": ["n_orders"],
          "select": [
            {"name": "n_cust", "aggregate": "count"},
            {"name": "max_order", "value": "top_order", "aggregate": "max"}
          ],
          "sort": "n_orders"
        }"""),
      Some("""SELECT n_orders, count(*) AS n_cust, max(top_order) AS max_order
        FROM (SELECT o_custkey, count(*) AS n_orders,
            max(o_totalprice) AS top_order FROM orders GROUP BY o_custkey)
        WHERE n_orders >= 8
        GROUP BY n_orders ORDER BY n_orders""")),

    // JX `dedup` through the JSON front door (round 10): the
    // llm_exact_dedup curation op — keep the lowest-id row per content
    // fingerprint — declared ENTIRELY as a JSON query, proving the
    // front door composes with the pipeline kernels ("fingerprint"
    // compiles onto TextOps.fingerprint's fused TextNorm form; the
    // clause compiles onto the same partitioned row_number shape).
    QueryDef(
      "jx_json_dedup",
      (s, dir) => JxJson.run(s, dir,
        """{
          "from": "documents",
          "dedup": {"on": [{"fingerprint": "text"}], "sort": "doc_id"},
          "select": ["doc_id",
            {"name": "fp", "value": {"fingerprint": "text"}}],
          "sort": "doc_id"
        }"""),
      Some(Llm.exactDedupOracle)),

    // JX `sample` through the JSON front door (round 10): the
    // deterministic content-addressed sampling primitive
    // (llm_holdout_split's md5-cut construction) as a query clause —
    // composed here with a groupby so the sampled subset feeds an
    // aggregation in the same fused plan.
    QueryDef(
      "jx_json_sample",
      (s, dir) => JxJson.run(s, dir,
        """{
          "from": "orders",
          "sample": {"rate": 0.25, "on": "o_orderkey"},
          "groupby": ["o_orderstatus"],
          "select": [
            {"name": "n", "aggregate": "count"},
            {"name": "max_price", "value": "o_totalprice", "aggregate": "max"}
          ],
          "sort": "o_orderstatus"
        }"""),
      Some("""SELECT o_orderstatus, count(*) AS n,
          max(o_totalprice) AS max_price
        FROM orders
        WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) < '4000'
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // JX front door over a STREAM (r10 verdict #8): the same JSON body
    // shape as the batch queries, with "from": "events:stream"
    // compiling onto the watermarked tumbling-window operator — the
    // twin of stream_tumbling with the identical emit-horizon hard
    // oracle (Append mode withholds windows newer than
    // max(ts) − watermark). The front door REQUIRES the watermark
    // clause: an unbounded-state streaming aggregate is refused at
    // compile time, not discovered at 100 TB.
    QueryDef(
      "jx_json_stream",
      (s, dir) => JxJson.run(s, dir,
        """{
          "from": "events:stream",
          "watermark": {"on": "ts", "delay": "2 hours"},
          "groupby": [{"name": "ws", "value": "ts", "window": "1 hour"}],
          "select": [{"name": "n", "aggregate": "count"}],
          "sort": "ws"
        }"""),
      Some(StreamingBatch.tumblingOracle)),

    // The sliding form of the streaming front door: a "slide" key in
    // the window groupby entry compiles onto window(ts, dur, slide) —
    // the stream_sliding twin (each event lands in 4 overlapping
    // windows; emitted = windows closed at the final watermark).
    QueryDef(
      "jx_json_stream_sliding",
      (s, dir) => JxJson.run(s, dir,
        """{
          "from": "events:stream",
          "watermark": {"on": "ts", "delay": "2 hours"},
          "groupby": [{"name": "ws", "value": "ts",
                       "window": "1 hour", "slide": "15 minutes"}],
          "select": [{"name": "n", "aggregate": "count"}],
          "sort": "ws"
        }"""),
      Some(StreamingBatch.slidingOracle)),

    // The session form: "session_gap" in the window entry compiles
    // onto session_window — gap-merged per-user ranges, the
    // stream_session_true twin with the same closed-at-final-watermark
    // hard oracle (a session emits only when its end + gap clears the
    // horizon).
    QueryDef(
      "jx_json_stream_session",
      (s, dir) => JxJson.run(s, dir,
        """{
          "from": "events:stream",
          "watermark": {"on": "ts", "delay": "2 hours"},
          "groupby": ["user_id",
                      {"name": "session_start", "value": "ts",
                       "session_gap": "30 minutes"}],
          "select": [{"name": "n_events", "aggregate": "count"}],
          "sort": ["user_id", "session_start"]
        }"""),
      Some(StreamingBatch.sessionOracle)),

    // Streaming DEDUP through the front door: watermark-scoped
    // dropDuplicates chained ahead of the windowed aggregate (two
    // stateful operators under one watermark) — keyed on
    // (user_id, hour window), then counted per window: the streaming
    // COUNT-DISTINCT-per-window shape, the scalable alternative to a
    // sketch when exactness matters. Hard-oracle-able because the
    // surviving row's window is pinned by the dedup key even though
    // WHICH duplicate survives is arrival-order-dependent.
    QueryDef(
      "jx_json_stream_dedup",
      (s, dir) => JxJson.run(s, dir,
        """{
          "from": "events:stream",
          "watermark": {"on": "ts", "delay": "2 hours"},
          "dedup": ["user_id", {"name": "wb", "value": "ts",
                                "window": "1 hour"}],
          "groupby": [{"name": "ws", "value": "ts", "window": "1 hour"}],
          "select": [{"name": "n_users", "aggregate": "count"}],
          "sort": "ws"
        }"""),
      Some("""WITH b AS (SELECT max(ts) AS mx FROM events)
        SELECT time_bucket(INTERVAL '1 hour', ts) AS ws,
          count(DISTINCT user_id) AS n_users
        FROM events, b
        WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
          <= mx - INTERVAL '2 hours'
        GROUP BY ws ORDER BY ws""")),

    // The stream-STREAM form (r11 verdict #7): the front door's join
    // clause compiles onto the watermarked interval join — the
    // stream_join twin carrying its emit-horizon hard oracle (inner
    // interval matches emit immediately and completely under
    // AvailableNow, so the batch join SQL applies verbatim). The
    // compiler refuses a join missing EITHER side's watermark or the
    // time interval — unbounded join state is a compile-time error.
    QueryDef(
      "jx_json_stream_join",
      (s, dir) => JxJson.run(s, dir,
        """{
          "from": "events:stream",
          "join": {
            "left": {"where": {"eq": ["event_type", {"literal": "click"}]},
                     "fields": {"user_id": "user_id", "click_ts": "ts",
                                "click_id": "event_id"},
                     "watermark": {"on": "click_ts", "delay": "2 hours"}},
            "right": {"where": {"eq": ["event_type", {"literal": "view"}]},
                      "fields": {"v_user": "user_id", "view_ts": "ts",
                                 "view_id": "event_id"},
                      "watermark": {"on": "view_ts", "delay": "2 hours"}},
            "on": {"left": "user_id", "right": "v_user"},
            "interval": {"left": "click_ts", "right": "view_ts",
                         "within": "2 hours"}
          },
          "select": ["user_id", "click_id", "view_id"],
          "sort": ["user_id", "click_id", "view_id"]
        }"""),
      Some(StreamingBatch.streamJoinOracle)),

    // JX `window` through the JSON front door: per-customer order
    // sequence numbers (high-cardinality partition key — scale-safe,
    // no single-reducer funnel).
    QueryDef(
      "jx_json_window",
      (s, dir) => JxJson.run(s, dir,
        """{
          "from": "orders",
          "window": [{"name": "rn", "aggregate": "rownum",
            "edges": ["o_custkey"],
            "sort": ["o_orderdate", "o_orderkey"]}],
          "select": ["o_custkey", "o_orderkey", "rn"],
          "sort": ["o_custkey", "rn"],
          "limit": 2000
        }"""),
      Some("""SELECT o_custkey, o_orderkey,
          CAST(row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn
        FROM orders ORDER BY o_custkey, rn LIMIT 2000""")),

    // JX `edges` with a TIME domain through the JSON front door:
    // calendar-day buckets spanning the data's own [min, max] bounds,
    // every day present even with zero events (SURVEY §2.5 — the
    // calendar edge is the most common real-world domain).
    QueryDef(
      "jx_json_edges_time",
      (s, dir) => JxJson.run(s, dir,
        """{
          "from": "events",
          "edges": [{"name": "day", "value": "ts",
            "domain": {"type": "time", "interval": "day"}}],
          "select": [
            {"name": "n", "aggregate": "count"},
            {"name": "mx", "value": "value", "aggregate": "max"}
          ],
          "sort": "day"
        }"""),
      Some("""WITH b AS (SELECT date_trunc('day', min(ts)) AS lo,
            date_trunc('day', max(ts)) AS hi FROM events),
        domain AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b),
        agg AS (SELECT date_trunc('day', ts) AS day, count(*) AS n,
            max(value) AS mx FROM events GROUP BY 1)
        SELECT d.day, coalesce(a.n, 0) AS n, a.mx
        FROM domain d LEFT JOIN agg a ON d.day = a.day
        ORDER BY d.day""")),

    // JX `duration` domain: seconds bucketed into dense 10 s parts
    // inside the first minute, everything else in the NULL overflow
    // part — completes the reference domain family (set / range /
    // time / duration / default) through the JSON front door.
    QueryDef(
      "jx_json_edges_duration",
      (s, dir) => JxJson.run(s, dir,
        """{
          "from": "events",
          "edges": [{"name": "gap", "value": "value",
            "domain": {"type": "duration",
              "min": 0, "max": "minute", "interval": 10}}],
          "select": [
            {"name": "n", "aggregate": "count"},
            {"name": "mx", "value": "value", "aggregate": "max"}
          ],
          "sort": "gap"
        }"""),
      Some("""WITH bucketed AS (SELECT CASE WHEN value >= 0 AND value < 60
            THEN CAST(floor(value / 10) AS BIGINT) * 10 END AS gap, value
          FROM events),
        agg AS (SELECT gap, count(*) AS n, max(value) AS mx
          FROM bucketed GROUP BY gap),
        domain AS (SELECT unnest(range(0, 60, 10)) AS gap)
        SELECT d.gap, coalesce(a.n, 0) AS n, a.mx
          FROM domain d LEFT JOIN agg a ON d.gap = a.gap
        UNION ALL
        SELECT NULL AS gap, n, mx FROM agg WHERE gap IS NULL
        ORDER BY gap NULLS FIRST""")),

    // JX statistical aggregates through the JSON front door: median,
    // parameterized percentile, cardinality — same single two-phase
    // (sort-based for percentile) aggregate as the builder-level
    // agg_median/agg_percentile/agg_cardinality, reached from a JSON
    // query.
    QueryDef(
      "jx_json_agg_stats",
      (s, dir) => JxJson.run(s, dir,
        """{
          "from": "lineitem",
          "groupby": "l_returnflag",
          "select": [
            {"name": "med_qty", "value": "l_quantity", "aggregate": "median"},
            {"name": "p90_qty", "value": "l_quantity",
             "aggregate": "percentile", "percentile": 0.9},
            {"name": "n_parts", "value": "l_partkey", "aggregate": "cardinality"}
          ],
          "sort": "l_returnflag"
        }"""),
      Some("""SELECT l_returnflag,
          quantile_cont(l_quantity, 0.5) AS med_qty,
          quantile_cont(l_quantity, 0.9) AS p90_qty,
          count(DISTINCT l_partkey) AS n_parts
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // The SKETCH family through the same JSON front door — at 100 TB a
    // JSON caller must be able to reach the mergeable approximations,
    // not just the exact per-group sort / count-distinct Expand above.
    // Verified with the agg_percentile_approx contract pattern: digest
    // values are merge-order-dependent so no other engine can recompute
    // them, but Greenwald-Khanna accuracy=1000 bounds rank error to
    // N/1000, so the approx p90 must lie between the exact percentiles
    // at 0.898/0.902 — the declared output is those exact brackets
    // (cross-engine value-checked) plus in-bounds booleans DuckDB
    // emits as literal TRUE. The HLL estimate (lgK=12, well inside
    // sparse-exact range at this group cardinality) is checked against
    // exact count-distinct at 5% relative error.
    QueryDef(
      "jx_json_agg_stats_approx",
      (s, dir) => {
        // Two front-door calls, not one: mixing a DISTINCT aggregate
        // (Expand) with percentile counts-maps, a GK digest, and an
        // HLL sketch in a single groupBy stacks five aggregation
        // buffers on Expand-doubled rows — measured 17 s at sf0.1 and
        // its GC poisoned neighboring queries. Sketches and exact
        // brackets each run as a clean single-pass aggregate; the
        // contract join is |groups| rows, auto-broadcast.
        val approx = JxJson.run(s, dir,
          """{
            "from": "lineitem",
            "groupby": "l_returnflag",
            "select": [
              {"name": "p90a", "value": "l_quantity",
               "aggregate": "percentile_approx", "percentile": 0.9},
              {"name": "carda", "value": "l_partkey",
               "aggregate": "cardinality_approx"}
            ]
          }""")
        val exact = JxJson.run(s, dir,
          """{
            "from": "lineitem",
            "groupby": "l_returnflag",
            "select": [
              {"name": "p90_lo", "value": "l_quantity",
               "aggregate": "percentile", "percentile": 0.898},
              {"name": "p90_hi", "value": "l_quantity",
               "aggregate": "percentile", "percentile": 0.902},
              {"name": "n_parts", "value": "l_partkey",
               "aggregate": "cardinality"}
            ]
          }""")
        approx.join(exact, Seq("l_returnflag"))
        .select(col("l_returnflag"),
          round(col("p90_lo"), 4).as("p90_lo"),
          round(col("p90_hi"), 4).as("p90_hi"),
          (col("p90a") >= col("p90_lo") && col("p90a") <= col("p90_hi"))
            .as("p90_ok"),
          col("n_parts"),
          (abs(col("carda") - col("n_parts")) <=
            col("n_parts").cast("double") * 0.05).as("card_ok"))
        .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
          round(quantile_cont(l_quantity, 0.898), 4) AS p90_lo,
          round(quantile_cont(l_quantity, 0.902), 4) AS p90_hi,
          true AS p90_ok,
          count(DISTINCT l_partkey) AS n_parts,
          true AS card_ok
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // JX `format: "cube"` (SURVEY §1.1 Cube): the dense-array output
    // format. runCube reshapes the table-form edges result into one
    // nested array per select (client-side, bounded by Π|domain|); the
    // declared query flattens the cube BACK to rows — edge coordinate +
    // cell per row, overflow last — so the reshape round-trips against
    // the same dense-table oracle as jx_json_edges. A wrong stride,
    // domain order, or overflow cell cannot survive the round-trip.
    QueryDef(
      "jx_json_cube",
      (s, dir) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types._
        val cube = JxJson.runCube(s, dir,
          """{
            "from": "customer",
            "edges": [{"name": "seg", "value": "c_mktsegment",
              "domain": {"type": "set",
                "partitions": ["AUTOMOBILE", "BUILDING", "FURNITURE", "AEROSPACE"]}}],
            "select": [
              {"name": "n", "aggregate": "count"},
              {"name": "max_bal", "value": "c_acctbal", "aggregate": "max"}
            ]
          }""")
        val dom = cube.domains.head
        val rows = dom.indices.map(i =>
          Row(dom(i), cube.data("n")(i), cube.data("max_bal")(i))) ++
          (if (cube.overflow.nonEmpty)
            Seq(Row(null, cube.overflow.getOrElse("n", 0L),
              cube.overflow.getOrElse("max_bal", null)))
          else Nil)
        import scala.jdk.CollectionConverters._
        s.createDataFrame(rows.asJava, StructType(Seq(
            StructField("seg", StringType),
            StructField("n", LongType),
            StructField("max_bal", DoubleType))))
          .orderBy(asc_nulls_first("seg"))
      },
      Some(edgesOracle)),

    // SQL-string entry point (SURVEY §3.2 entry 3): the registered
    // catalog + spark.sql, proven by running the IDENTICAL SQL text in
    // DuckDB — the three lifecycle entry points (DataFrame builder, JX
    // JSON, SQL string) are all driver-verified.
    QueryDef(
      "sql_entry",
      (s, dir) => {
        Catalog.registerAll(s, dir)
        s.sql("""SELECT n_name, count(*) AS n_cust,
            round(sum(c_acctbal), 2) AS bal
          FROM customer JOIN nation ON c_nationkey = n_nationkey
          GROUP BY n_name ORDER BY n_name""")
      },
      Some("""SELECT n_name, count(*) AS n_cust,
            round(sum(c_acctbal), 2) AS bal
          FROM customer JOIN nation ON c_nationkey = n_nationkey
          GROUP BY n_name ORDER BY n_name""")),

    // Subquery forms through the SQL door: a correlated EXISTS
    // (Catalyst rewrites to a left-semi hash join) and a scalar
    // subquery (one-row broadcast) in the same statement — identical
    // text runs on DuckDB, proving front-door subquery parity.
    QueryDef(
      "sql_subqueries",
      (s, dir) => {
        Catalog.registerAll(s, dir)
        s.sql("""SELECT c_custkey, c_mktsegment FROM customer
          WHERE EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_totalprice > (SELECT avg(o_totalprice)
                                              FROM orders) * 1.5)
          ORDER BY c_custkey""")
      },
      Some("""SELECT c_custkey, c_mktsegment FROM customer
          WHERE EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_totalprice > (SELECT avg(o_totalprice)
                                              FROM orders) * 1.5)
          ORDER BY c_custkey""")),

    // Shipping-priority analytics (the classic three-table OLAP shape:
    // selective dim filter × fact × fact-detail, aggregate, top-N)
    // through the SQL door — identical text on both engines. The scale
    // story is Catalyst's, by construction: the mktsegment filter
    // prunes customer BEFORE the join (pushed to the scan), AQE sizes
    // the customer side for broadcast at this SF (sort-merge at 100 TB
    // — same plan text, a size decision not a code decision), the
    // rounded-revenue sort carries an orderkey tiebreak so the LIMIT
    // boundary is a total order, and TakeOrderedAndProject means the
    // top-10 never materializes the full aggregate on the driver.
    QueryDef(
      "sql_multi_join",
      (s, dir) => {
        Catalog.registerAll(s, dir)
        s.sql("""SELECT o_orderkey,
            round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
            o_orderdate, o_orderpriority
          FROM customer
          JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
          WHERE c_mktsegment = 'BUILDING'
            AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
            AND l_shipdate > TIMESTAMP '1996-07-01 00:00:00'
          GROUP BY o_orderkey, o_orderdate, o_orderpriority
          ORDER BY revenue DESC, o_orderkey LIMIT 10""")
      },
      Some("""SELECT o_orderkey,
            round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
            o_orderdate, o_orderpriority
          FROM customer
          JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
          WHERE c_mktsegment = 'BUILDING'
            AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
            AND l_shipdate > TIMESTAMP '1996-07-01 00:00:00'
          GROUP BY o_orderkey, o_orderdate, o_orderpriority
          ORDER BY revenue DESC, o_orderkey LIMIT 10""")),

    // Native vector kernels reached from PLAIN SQL: GraftExtensions
    // (SparkSessionExtensions) injects vec_dot/vec_norm/srp_sign into
    // the function registry, so SQL users get the codegen'd loops
    // without the Scala DSL. The oracle recomputes with DuckDB's
    // list_dot_product/sqrt — both sides fold sequentially, so the
    // rounded values match exactly.
    QueryDef(
      "sql_vec_funcs",
      (s, dir) => {
        Catalog.registerAll(s, dir)
        s.sql("""SELECT vec_id,
            round(vec_dot(CAST(embedding AS ARRAY<DOUBLE>),
                          CAST(embedding AS ARRAY<DOUBLE>)), 6) AS sq,
            round(vec_norm(CAST(embedding AS ARRAY<DOUBLE>)), 6) AS nrm
          FROM embeddings WHERE vec_id < 200 ORDER BY vec_id""")
      },
      Some("""SELECT vec_id,
          round(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]), 6) AS sq,
          round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS nrm
        FROM embeddings WHERE vec_id < 200 ORDER BY vec_id""")))
}
