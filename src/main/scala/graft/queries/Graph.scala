package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{QueryDef, QueryModule}
import graft.sources.Catalog

/** Graph analytics over relational edges (SURVEY.md §2.11 extension).
  *
  * The corpus-curation stack already does connected components
  * (graft.operators.Components, pointer-jumping); this module adds the
  * other staple of entity-graph work, PageRank, in the standard
  * dataframes-as-Pregel shape: each iteration is ONE equi-join of the
  * edge list with the current rank vector plus ONE aggregate on the
  * destination key — shuffle volume linear in |E| per iteration,
  * O(iterations) rounds, no driver-side state. That is exactly the
  * shape GraphX/GraphFrames lower to, and it scales horizontally: at
  * 100 TB the edge list partitions by src and the rank vector
  * co-partitions with it.
  *
  * The graph: the customer–supplier bipartite projection of
  * lineitem⋈orders (who bought from whom), symmetrized so every node
  * has out-degree ≥ 1 (no dangling-mass correction needed — the same
  * trick production rank jobs use on bipartite commerce graphs). Node
  * ids stay LONG (custkey·2 / suppkey·2+1): string keys never ride the
  * rank shuffles.
  */
object Graph extends QueryModule {

  private def csEdges(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val li = Catalog.table(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val ord = Catalog.table(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val cs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    cs.select(col("c").as("src"), col("s").as("dst"))
      .union(cs.select(col("s").as("src"), col("c").as("dst")))
  }

  /** PageRank on a symmetric (src, dst) long-keyed edge list: uniform
    * init, `iters` rounds of one |E|-linear equi-join + one aggregate
    * on dst. Assumes no dangling nodes (symmetrize first). Returns
    * (node, rank) unrounded — callers own the determinism contract. */
  /** `symmetric = true` is the caller's promise that the edge list is
    * symmetrized (u→v implies v→u), so every node's in-neighbour set is
    * nonempty and the per-iteration left-join re-extension against the
    * node table is a row-wise no-op — each iteration then reads its
    * rank vector straight off the contribution aggregate (coalesce
    * never fires on a symmetric graph, so the emitted doubles are
    * bit-identical). Both declared callers symmetrize by construction.
    * FAILURE MODE if the promise is broken: a node with in-edges but
    * no out-edges never appears in `contrib`, so with symmetric=true
    * it silently VANISHES from the rank vector (and its mass leaks)
    * instead of surviving at the (1−d)/n floor — pass symmetric=false
    * for any edge list not provably symmetrized. */
  def pagerank(edges: DataFrame, iters: Int, damping: Double = 0.85,
      symmetric: Boolean = false): DataFrame = {
    // deg and nodes are consumed by EVERY iteration (deg by the share
    // division, nodes by the left-join re-extension) — without
    // materialization Catalyst re-executes each subtree per consumer
    // (measured: 18 jobs / 3.2 s warm for 3 iterations at sf0.1).
    val deg = edges.groupBy("src").agg(count(lit(1)).cast("double").as("deg"))
      .localCheckpoint()
    val nodes = edges.select(col("src").as("node")).distinct()
      .localCheckpoint()
    // |V| as a plan literal: one bounded 1-row driver value replacing
    // iters+1 broadcast-exchange re-executions of the count subtree.
    // lit(n) feeds the identical IEEE divisions the broadcast column
    // did, so every emitted double is unchanged.
    val n = nodes.count().toDouble
    var ranks = nodes.select(col("node"), (lit(1.0) / lit(n)).as("rank"))
    for (_ <- 1 to iters) {
      val shares = ranks
        .join(deg, ranks("node") === deg("src"))
        .select(col("node").as("u"), (col("rank") / col("deg")).as("share"))
      val contrib = edges.join(shares, edges("src") === shares("u"))
        .groupBy(col("dst")).agg(sum("share").as("sum_in"))
      ranks =
        if (symmetric)
          contrib.select(col("dst").as("node"),
            (lit(1.0 - damping) / lit(n)
              + lit(damping) * col("sum_in")).as("rank"))
        else nodes
          .join(contrib, nodes("node") === contrib("dst"), "left")
          .select(col("node"),
            (lit(1.0 - damping) / lit(n)
              + lit(damping) * coalesce(col("sum_in"), lit(0.0))).as("rank"))
    }
    ranks
  }

  /** Shared oracle prefix: symmetric edge list, degrees, node count. */
  private val oracleGraphCte: String = """e0 AS (
          SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        edges AS (SELECT c AS src, s AS dst FROM e0
          UNION ALL SELECT s AS src, c AS dst FROM e0),
        deg AS (SELECT src, count(*)::DOUBLE AS deg FROM edges GROUP BY src),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        nn AS (SELECT count(*)::DOUBLE AS n FROM nodes)"""

  def defs: Seq[QueryDef] = Seq(

    // Degree profile first — the cheap sanity op every graph job runs
    // before the iterative one: per-side degree histogram (how many
    // customers have k suppliers and vice versa). One groupBy chain.
    QueryDef(
      "graph_degree",
      (s, dir) => {
        val edges = csEdges(s, dir)
        // aggregate on the NUMERIC side id; the string label is applied
        // after the shuffle (2 rows per degree, not |V| label bytes)
        edges.groupBy("src").agg(count(lit(1)).as("deg"))
          .groupBy((col("src") % 2).as("side_id"), col("deg"))
          .agg(count(lit(1)).as("n_nodes"))
          .select(
            when(col("side_id") === 0, lit("customer"))
              .otherwise(lit("supplier")).as("side"),
            col("deg"), col("n_nodes"))
          .orderBy("side", "deg")
      },
      Some(s"""WITH $oracleGraphCte
        SELECT CASE WHEN src % 2 = 0 THEN 'customer' ELSE 'supplier' END
            AS side, deg::BIGINT AS deg, count(*) AS n_nodes
        FROM (SELECT src, count(*) AS deg FROM edges GROUP BY src)
        GROUP BY 1, 2 ORDER BY side, deg""")),

    // PageRank, 3 iterations, damping 0.85, uniform init. After
    // symmetrization no node dangles, so total mass is conserved and
    // the oracle's chained CTEs recompute the exact same doubles.
    // Ranks are emitted ×1000 rounded to 6 digits and the sort key is
    // the ROUNDED value, so cross-engine float summation order cannot
    // perturb the comparison.
    QueryDef(
      "graph_pagerank",
      // The edge list is consumed by every iteration (plus deg/nodes):
      // localCheckpoint materializes the join+distinct ONCE instead of
      // re-deriving it per consumer.
      // repartition+sort by src BEFORE the checkpoint: the materialized
      // RDD then already satisfies every iteration's join distribution
      // and sort order on src (LogicalRDD preserves both), so the
      // |E|-sized exchange+sort under each SortMergeJoin disappears —
      // only the |V|-sized shares side moves per iteration (guide §2.4:
      // operations keyed the same way share one exchange).
      (s, dir) => pagerank(
        csEdges(s, dir).repartition(col("src"))
          .sortWithinPartitions("src").localCheckpoint(), 3,
        symmetric = true)
        .select(col("node"), round(col("rank") * 1000, 6).as("rank_k"))
        .orderBy(desc("rank_k"), asc("node")),
      Some(s"""WITH $oracleGraphCte,
        r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
        c1 AS (SELECT e.dst AS node, sum(r.rank / d.deg) AS sum_in
          FROM edges e JOIN r0 r ON e.src = r.node
            JOIN deg d ON e.src = d.src GROUP BY e.dst),
        r1 AS (SELECT nodes.node,
            0.15 / nn.n + 0.85 * coalesce(c1.sum_in, 0) AS rank
          FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.node = c1.node),
        c2 AS (SELECT e.dst AS node, sum(r.rank / d.deg) AS sum_in
          FROM edges e JOIN r1 r ON e.src = r.node
            JOIN deg d ON e.src = d.src GROUP BY e.dst),
        r2 AS (SELECT nodes.node,
            0.15 / nn.n + 0.85 * coalesce(c2.sum_in, 0) AS rank
          FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.node = c2.node),
        c3 AS (SELECT e.dst AS node, sum(r.rank / d.deg) AS sum_in
          FROM edges e JOIN r2 r ON e.src = r.node
            JOIN deg d ON e.src = d.src GROUP BY e.dst),
        r3 AS (SELECT nodes.node,
            0.15 / nn.n + 0.85 * coalesce(c3.sum_in, 0) AS rank
          FROM nodes CROSS JOIN nn LEFT JOIN c3 ON nodes.node = c3.node)
        SELECT node, round(rank * 1000, 6) AS rank_k FROM r3
        ORDER BY rank_k DESC, node""")))
}
