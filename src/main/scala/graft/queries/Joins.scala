package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, QueryModule}
import graft.sources.Catalog

/** SURVEY.md §2.3 — joins.
  *
  * The reference has no general join operator (JX queries one snowflaked
  * table); its join-like capabilities are nested-child navigation and
  * mo_collections Index hash-lookup enrichment (SURVEY §2.3 [P]). We
  * cover those with Spark's native joins and let AQE pick broadcast vs
  * sort-merge at runtime. 100 TB posture: dims (region/nation/part/
  * supplier/customer) broadcast; fact-fact joins (orders⋈lineitem)
  * shuffle on the join key — co-partitioning or bucketing would remove
  * even that on a real cluster; the as-of join is a single window pass
  * (one shuffle by user), never a range-explosion join.
  */
object Joins extends QueryModule {

  /** Oracle shared by the inner join: plain and skew-salted. */
  private val innerJoinOracle: String =
    """SELECT c_mktsegment, count(*) AS n, round(sum(o_totalprice), 2) AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  def defs: Seq[QueryDef] = Seq(

    QueryDef(
      "join_inner",
      (s, dir) =>
        Catalog.table(s, dir, "orders")
          .join(Catalog.table(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"), "inner")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("rev"))
          .orderBy("c_mktsegment"),
      Some(innerJoinOracle)),

    // Index lookup-miss → Null (SURVEY §2.3): left join keeps every
    // customer; count(o_orderkey) ignores the null-extended rows.
    QueryDef(
      "join_left",
      (s, dir) =>
        Catalog.table(s, dir, "customer")
          .join(
            Catalog.table(s, dir, "orders")
              .filter(col("o_orderpriority") === "1-URGENT"),
            col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("n_urgent"))
          .orderBy("c_custkey")
          .limit(2000),
      Some("""SELECT c_custkey, count(o_orderkey) AS n_urgent
        FROM customer LEFT JOIN (
          SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
          ON c_custkey = o_custkey
        GROUP BY c_custkey ORDER BY c_custkey LIMIT 2000""")),

    QueryDef(
      "join_semi",
      (s, dir) =>
        Catalog.table(s, dir, "customer")
          .join(
            Catalog.table(s, dir, "orders")
              .filter(col("o_orderpriority") === "1-URGENT"),
            col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_mktsegment")
          .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_mktsegment FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        ORDER BY c_custkey""")),

    QueryDef(
      "join_anti",
      (s, dir) =>
        Catalog.table(s, dir, "customer")
          .join(
            Catalog.table(s, dir, "orders")
              .filter(col("o_orderpriority") === "1-URGENT"),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_mktsegment")
          .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_mktsegment FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        ORDER BY c_custkey""")),

    // Explicit broadcast of the bounded dim — the in-memory Index
    // enrichment pattern (SURVEY §2.3); no shuffle of the fact side.
    QueryDef(
      "join_broadcast",
      (s, dir) =>
        Catalog.table(s, dir, "lineitem")
          .join(broadcast(Catalog.table(s, dir, "part")),
            col("l_partkey") === col("p_partkey"))
          .groupBy("p_type")
          .agg(
            count(lit(1)).as("n"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
              .as("rev"))
          .orderBy("p_type"),
      Some("""SELECT p_type, count(*) AS n,
        round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_type ORDER BY p_type""")),

    // Salted skew join (SURVEY §4.2): row-identical to the plain join —
    // the oracle is the same SQL a plain join would use, which is the
    // correctness proof that salting only redistributes, never alters.
    QueryDef(
      "join_skew_salted",
      (s, dir) =>
        graft.operators.SkewJoin.saltedInnerJoin(
            Catalog.table(s, dir, "orders"),
            Catalog.table(s, dir, "customer"),
            "o_custkey", "c_custkey", nSalts = 8)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("rev"))
          .orderBy("c_mktsegment"),
      Some(innerJoinOracle)),

    // Parent→child snowflake descent (jx_sqlite nested tables,
    // SURVEY §2.3): orders is the parent, lineitem the nested child.
    QueryDef(
      "join_nested",
      (s, dir) =>
        Catalog.table(s, dir, "orders")
          .join(Catalog.table(s, dir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderkey", "o_orderstatus")
          .agg(
            count(lit(1)).as("n_lines"),
            round(sum("l_quantity"), 2).as("qty"))
          .orderBy("o_orderkey")
          .limit(2000),
      Some("""SELECT o_orderkey, o_orderstatus, count(*) AS n_lines,
        round(sum(l_quantity), 2) AS qty
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderkey, o_orderstatus ORDER BY o_orderkey LIMIT 2000""")),

    // Range-domain assignment (edges range domain, SURVEY §2.3): value
    // lands in its [lo, hi) bucket via a broadcast non-equi join.
    QueryDef(
      "join_range",
      (s, dir) => {
        val buckets = s.createDataFrame(Seq(
          ("q00_10", 0.0, 10.0), ("q10_20", 10.0, 20.0),
          ("q20_30", 20.0, 30.0), ("q30_40", 30.0, 40.0),
          ("q40_up", 40.0, 1e9)))
          .toDF("bucket", "lo", "hi")
        Catalog.table(s, dir, "lineitem")
          .join(broadcast(buckets),
            col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"))
          .orderBy("bucket")
      },
      Some("""SELECT bucket, count(*) AS n
        FROM lineitem JOIN (VALUES
          ('q00_10', 0.0, 10.0), ('q10_20', 10.0, 20.0),
          ('q20_30', 20.0, 30.0), ('q30_40', 30.0, 40.0),
          ('q40_up', 40.0, 1e9)) b(bucket, lo, hi)
          ON l_quantity >= lo AND l_quantity < hi
        GROUP BY bucket ORDER BY bucket""")),

    // As-of: for each click, the latest view by the same user at ts <=
    // click ts. Implemented as ONE window pass over the union (shuffle
    // by user_id only) — no range join, no per-row scan explosion; this
    // is the 100 TB-safe plan. Views sort before clicks at equal ts so
    // `<=` matches ASOF semantics.
    QueryDef(
      "join_asof",
      (s, dir) => {
        val ev = Catalog.table(s, dir, "events")
          .filter(col("event_type").isin("click", "view"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"),
            when(col("event_type") === "view", 0).otherwise(1),
            col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev.withColumn("view_ts",
            last(when(col("event_type") === "view", col("ts")), ignoreNulls = true)
              .over(w))
          .filter(col("event_type") === "click")
          .select(
            col("event_id").as("click_id"), col("user_id"),
            col("ts").as("click_ts"), col("view_ts"))
          .orderBy("click_id")
      },
      Some("""SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
          v.ts AS view_ts
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
          ON c.user_id = v.user_id AND v.ts <= c.ts
        ORDER BY click_id""")),

    // As-of with a STALENESS TOLERANCE — the production variant: a
    // preceding view older than 1 hour is no match at all (market-data
    // "stale quote" semantics; ASOF alone happily joins a week-old
    // row). Same single window pass as join_asof — the tolerance is a
    // row-local predicate after the lookup, so the 100 TB plan is
    // unchanged: one user_id shuffle, no range join.
    QueryDef(
      "join_asof_tolerance",
      (s, dir) => {
        val ev = Catalog.table(s, dir, "events")
          .filter(col("event_type").isin("click", "view"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"),
            when(col("event_type") === "view", 0).otherwise(1),
            col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // Sub-second-exact staleness: whole-second casts would floor a
        // 3600.4 s gap to 3600 (fresh) while the oracle's fractional
        // epoch sees stale — compare in microseconds on BOTH engines.
        val fresh = col("view_ts_raw").isNotNull &&
          unix_micros(col("ts")) - unix_micros(col("view_ts_raw")) <= 3600000000L
        ev.withColumn("view_ts_raw",
            last(when(col("event_type") === "view", col("ts")),
              ignoreNulls = true).over(w))
          .filter(col("event_type") === "click")
          .select(
            col("event_id").as("click_id"), col("user_id"),
            col("ts").as("click_ts"),
            when(fresh, col("view_ts_raw")).as("view_ts"),
            fresh.as("is_fresh"))
          .orderBy("click_id")
      },
      Some("""SELECT click_id, user_id, click_ts,
          CASE WHEN fresh THEN view_ts_raw END AS view_ts,
          fresh AS is_fresh
        FROM (
          SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
            v.ts AS view_ts_raw,
            coalesce(epoch_us(c.ts) - epoch_us(v.ts) <= 3600000000, FALSE) AS fresh
          FROM (SELECT * FROM events WHERE event_type = 'click') c
          ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
            ON c.user_id = v.user_id AND v.ts <= c.ts)
        ORDER BY click_id""")),

    // Interval OVERLAP join — both sides are intervals (clicks span
    // 2 h, views 1 h), matched when they overlap. The scale shape:
    // explode each interval onto the hour buckets it covers, equi-join
    // on (user, bucket) — fan-out bounded by interval/bucket ratio,
    // never a range crossJoin — then exact-verify the overlap
    // predicate and distinct the (pair) key (one pair can share
    // several buckets). The oracle is the brute-force overlap join on
    // the bounded slice.
    QueryDef(
      "join_interval_overlap",
      (s, dir) => {
        val ev = Catalog.table(s, dir, "events")
          .filter(col("user_id") < 20)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").cast("long").as("cs"))
          .withColumn("ce", col("cs") + 7200)
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
            col("ts").cast("long").as("vs"))
          .withColumn("ve", col("vs") + 3600)
        val cb = clicks.withColumn("bucket",
          explode(expr("sequence(cs DIV 3600, ce DIV 3600)")))
        val vb = views.withColumn("vbucket",
          explode(expr("sequence(vs DIV 3600, ve DIV 3600)")))
        cb.join(vb,
            col("user_id") === col("v_user") &&
              col("bucket") === col("vbucket"))
          .filter(col("cs") <= col("ve") && col("vs") <= col("ce"))
          .select("user_id", "click_id", "view_id").distinct()
          .orderBy("user_id", "click_id", "view_id")
      },
      Some("""SELECT DISTINCT c.user_id AS user_id, c.event_id AS click_id,
          v.event_id AS view_id
        FROM (SELECT * FROM events WHERE user_id < 20
              AND event_type = 'click') c
        JOIN (SELECT * FROM events WHERE user_id < 20
              AND event_type = 'view') v
          ON c.user_id = v.user_id
          AND epoch_us(c.ts) // 1000000 <= epoch_us(v.ts) // 1000000 + 3600
          AND epoch_us(v.ts) // 1000000 <= epoch_us(c.ts) // 1000000 + 7200
        ORDER BY user_id, click_id, view_id""")),

    // FORWARD as-of: each click joined to the NEXT view at-or-after
    // it — the mirror of join_asof's backward lookup, same single
    // interleaved window pass (first following view instead of last
    // preceding), so still no range explosion and one shuffle on the
    // high-cardinality user key. Same-ts views sort AFTER clicks so
    // the >= bound is inclusive on both engines.
    QueryDef(
      "join_asof_fwd",
      (s, dir) => {
        val ev = Catalog.table(s, dir, "events")
          .filter(col("event_type").isin("click", "view"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"),
            when(col("event_type") === "view", 1).otherwise(0),
            col("event_id"))
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        ev.withColumn("view_ts",
            first(when(col("event_type") === "view", col("ts")),
              ignoreNulls = true).over(w))
          .filter(col("event_type") === "click")
          .select(
            col("event_id").as("click_id"), col("user_id"),
            col("ts").as("click_ts"), col("view_ts"))
          .orderBy("click_id")
      },
      Some("""SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
          v.ts AS view_ts
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
          ON c.user_id = v.user_id AND v.ts >= c.ts
        ORDER BY click_id""")),

    // As-of NEAREST (pandas merge_asof direction='nearest'): the view
    // closest in time to each click, either side, ties to the earlier
    // view. ONE partition-sort serves both directions — range frames
    // over unix-micros pick max(view ts ≤ t) and min(view ts ≥ t) from
    // the same sorted run (max/min, not first/last, so same-ts tie
    // groups are order-independent), then a row-local CASE picks the
    // smaller gap. Two sorted-window passes, zero joins — at 100 TB
    // this is one shuffle on user_id versus the two as-of joins a
    // naive nearest would run.
    QueryDef(
      "join_asof_nearest",
      (s, dir) => {
        val ev = Catalog.table(s, dir, "events")
          .filter(col("event_type").isin("click", "view"))
          .withColumn("tsu", unix_micros(col("ts")))
        val viewTs = when(col("event_type") === "view", col("ts"))
        val wB = Window.partitionBy("user_id").orderBy("tsu")
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        val wF = Window.partitionBy("user_id").orderBy("tsu")
          .rangeBetween(Window.currentRow, Window.unboundedFollowing)
        ev.withColumn("bwd_ts", max(viewTs).over(wB))
          .withColumn("fwd_ts", min(viewTs).over(wF))
          .filter(col("event_type") === "click")
          .withColumn("view_ts",
            when(col("bwd_ts").isNull, col("fwd_ts"))
              .when(col("fwd_ts").isNull, col("bwd_ts"))
              .when(col("tsu") - unix_micros(col("bwd_ts"))
                  <= unix_micros(col("fwd_ts")) - col("tsu"),
                col("bwd_ts"))
              .otherwise(col("fwd_ts")))
          .select(
            col("event_id").as("click_id"), col("user_id"),
            col("ts").as("click_ts"), col("view_ts"),
            abs(unix_micros(col("view_ts")) - col("tsu")).as("gap_us"))
          .orderBy("click_id")
      },
      Some("""WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
          v AS (SELECT * FROM events WHERE event_type = 'view'),
          b AS (SELECT c.event_id, v.ts AS bts FROM c
            ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts <= c.ts),
          f AS (SELECT c.event_id, v.ts AS fts FROM c
            ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts >= c.ts)
        SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
          CASE WHEN bts IS NULL THEN fts WHEN fts IS NULL THEN bts
            WHEN epoch_us(c.ts) - epoch_us(bts)
                <= epoch_us(fts) - epoch_us(c.ts) THEN bts
            ELSE fts END AS view_ts,
          abs(epoch_us(CASE WHEN bts IS NULL THEN fts
              WHEN fts IS NULL THEN bts
              WHEN epoch_us(c.ts) - epoch_us(bts)
                  <= epoch_us(fts) - epoch_us(c.ts) THEN bts
              ELSE fts END) - epoch_us(c.ts)) AS gap_us
        FROM c JOIN b ON c.event_id = b.event_id
          JOIN f ON c.event_id = f.event_id
        ORDER BY click_id""")),

    // Runtime bloom-filter semi-join reduction — the pattern Spark's
    // own InjectRuntimeFilter applies between shuffle stages, made
    // explicit: a compact Bloom sketch of the (filtered) dim keys rides
    // the task closure and prunes non-matching fact rows BEFORE the
    // shuffle; the exact semi join then removes the sketch's false
    // positives. At 100 TB the win is shuffle volume — the fact side
    // shrinks by the dim's selectivity at scan time — while the result
    // is provably identical to the plain semi join (the oracle).
    QueryDef(
      "join_bloom_prefilter",
      (s, dir) => {
        val dim = Catalog.table(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
        // Sized for the fixture dim (~thousands of keys); on a cluster
        // this is dim-count-estimate driven, like a broadcast threshold.
        val bloom = dim.stat.bloomFilter("c_custkey", 100000L, 0.03)
        val bytes = { val bos = new java.io.ByteArrayOutputStream()
          bloom.writeTo(bos); bos.toByteArray }
        // Native BloomFilterMightContain (registered by GraftExtensions):
        // the probe stays inside whole-stage codegen, where a scalar UDF
        // would force a serialize-per-row boundary on the fact scan.
        Catalog.table(s, dir, "orders")
          .filter(call_function("might_contain",
            lit(bytes), col("o_custkey").cast("long")))
          .join(dim, col("o_custkey") === col("c_custkey"), "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("rev"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
          round(sum(o_totalprice), 2) AS rev
        FROM orders
        WHERE EXISTS (SELECT 1 FROM customer
          WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Full-outer: null-extended on BOTH sides — urgent orders that
    // match no AUTOMOBILE customer and AUTOMOBILE customers with no
    // urgent order each survive. Total order: o_orderkey is unique on
    // matched+left rows; unmatched customers (null o_orderkey) order by
    // c_custkey.
    QueryDef(
      "join_full",
      (s, dir) =>
        Catalog.table(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .join(
            Catalog.table(s, dir, "customer")
              .filter(col("c_mktsegment") === "AUTOMOBILE"),
            col("o_custkey") === col("c_custkey"), "full_outer")
          .select("o_orderkey", "o_totalprice", "c_custkey", "c_name")
          .orderBy(asc_nulls_first("o_orderkey"), asc("c_custkey")),
      Some("""SELECT o_orderkey, o_totalprice, c_custkey, c_name
        FROM (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
        FULL JOIN (SELECT * FROM customer WHERE c_mktsegment = 'AUTOMOBILE') c
          ON o_custkey = c_custkey
        ORDER BY o_orderkey NULLS FIRST, c_custkey""")))
}
