package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.execution.{ColumnarToRowExec, ExpandExec, FileSourceScanExec, FilterExec, InputAdapter, ProjectExec, SparkPlan, UnionExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.{BinaryType, StringType}

/** Preflight audit of a DataFrame's physical plan for shapes that are
  * survivable on a laptop fixture and fatal at 100 TB. The same checks
  * the project applies to its own operators in PlanQualitySpec,
  * exposed as a library API so a user can gate THEIR queries before
  * submitting them to a 1000-executor cluster:
  *
  *   PlanAudit.audit(df).foreach(f => log.warn(f.render))
  *
  * Heuristics, not proofs: a flagged plan is worth a look, not
  * necessarily wrong — each finding says why it fires and when it is a
  * false alarm. Severity `error` = almost certainly a scale-killer
  * (cartesian product over non-tiny inputs); `warn` = costs that grow
  * super-linearly or serialize onto one task (single-partition window,
  * unpartitioned global sort feeding more computation); `info` =
  * known-expensive-but-linear shapes with cheaper documented twins
  * (count-distinct Expand vs sketches, wide string shuffle keys vs
  * xxhash64 longs).
  */
object PlanAudit {

  final case class Finding(severity: String, rule: String, detail: String) {
    def render: String = s"[$severity] $rule: $detail"
  }

  /** Walk the executed plan (through AQE wrappers) and return findings,
    * most severe first. */
  def audit(df: DataFrame): Seq[Finding] = {
    val plan = df.queryExecution.executedPlan
    val nodes = flatten(plan)
    val fs = Seq.newBuilder[Finding]

    nodes.foreach {
      case c: CartesianProductExec =>
        fs += Finding("error", "cartesian-product",
          "CartesianProductExec multiplies its inputs; at cluster scale " +
            "this is O(|L|x|R|). Bound one side and broadcast it, or add " +
            "an equi-join key (even a coarse bucket) so a hash join plans.")
      case j: BroadcastNestedLoopJoinExec =>
        // A grouping-less aggregate emits EXACTLY one row, so a
        // crossJoin against its broadcast is the scalar-multiply
        // pattern (corpus totals, pagerank's N) — provably linear,
        // report info. Broadcasts the audit cannot statically bound
        // (a filtered scan, a grouped aggregate) stay warns.
        val bcast = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        }
        if (provablyOneRow(bcast))
          fs += Finding("info", "nested-loop-join",
            s"BroadcastNestedLoopJoin (${j.joinType}) whose broadcast side " +
              "is a grouping-less aggregate — exactly one row, the " +
              "scalar-multiply pattern (corpus totals). Linear by " +
              "construction.")
        else provablyAtMostN(bcast) match {
          case Some(n) if n <= MaxProvenBroadcastRows =>
            fs += Finding("info", "nested-loop-join",
              s"BroadcastNestedLoopJoin (${j.joinType}) whose broadcast side " +
                s"is provably ≤ $n rows (limit/aggregate-derived bound in " +
                "the plan itself) — the bounded-dim / query-set / centroid " +
                "pattern, linear in the streamed side by construction.")
          case _ =>
            fs += Finding("warn", "nested-loop-join",
              s"BroadcastNestedLoopJoin (${j.joinType}) scans the streamed side " +
                "once per broadcast row batch — fine for a truly tiny " +
                "broadcast (domain tables, 1-row totals), quadratic otherwise. " +
                "The audit found no structural row bound (limit / " +
                "grouping-less aggregate) on the broadcast side; if the bound " +
                "is contractual, add a .limit(contractN) above it so the " +
                "plan carries the proof.")
        }
      case w: WindowExec if w.partitionSpec.isEmpty =>
        // A LIMIT below the window bounds its input by construction —
        // the 16-row vocab tables, top-k candidate sets — so the
        // one-task sort is over ≤ limit rows, not the corpus: report
        // as info (known-bounded), not a scale warn. An AGGREGATE
        // below the window bounds its input by its grouping-key
        // cardinality — windows over per-source / per-language
        // summaries (domain-mix, temperature-mix) see |keys| rows,
        // not the corpus: also info, with the caveat spelled out,
        // because the audit cannot prove the key cardinality
        // statically (a group-by-user_id aggregate is NOT bounded).
        // A window directly over data stays a warn.
        if (boundedByLimit(w.child, 100000))
          fs += Finding("info", "single-partition-window",
            "Window with no PARTITION BY — but its input is bounded by " +
              "a LIMIT below it, so the single task sees at most that " +
              "many rows. Fine; verify the limit is the one you expect.")
        else if (aggregateBelow(w.child))
          fs += Finding("info", "single-partition-window",
            "Window with no PARTITION BY over an AGGREGATE — the single " +
              "task sees one row per grouping key, not the corpus. Fine " +
              "for enum-like keys (sources, languages, domains); if the " +
              "grouping key is high-cardinality (user ids, URLs) this is " +
              "still a one-task sort — use a bucketed two-phase rank.")
        else
          fs += Finding("warn", "single-partition-window",
            "Window with no PARTITION BY moves every row to one task. For " +
              "global ranks over large data, aggregate per-partition then " +
              "merge, or add a partition key and offset ranks.")
      case e: ExpandExec =>
        fs += Finding("info", "distinct-expand",
          s"Expand (x${e.projections.size} row multiplication) — usually " +
            "multiple COUNT(DISTINCT)s in one aggregate. Linear but " +
            "multiplies shuffle volume; at 100 TB prefer one distinct per " +
            "pass or the sketch twins (approx_count_distinct / " +
            "hll_sketch_agg).")
      case s: ShuffleExchangeExec =>
        val wide = s.outputPartitioning.asInstanceOf[Any] match {
          case hp: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
            hp.expressions.filter(e =>
              e.dataType == StringType || e.dataType == BinaryType)
          case _ => Seq.empty[Expression]
        }
        if (wide.nonEmpty)
          fs += Finding("info", "string-shuffle-key",
            s"Shuffle hashes on string/binary key(s) ${wide.map(_.sql).mkString(", ")} — " +
              "correct, but every row ships the full key bytes. For " +
              "high-cardinality derived keys (shingles, spans, URLs) " +
              "shuffle on xxhash64(key) longs and keep strings at the scan.")
      // Exact percentile/collect aggregates buffer EVERY group value on
      // the reducer — fine for bounded groups, a scale killer on large
      // ones. The mergeable sketch twins (percentile_approx, t-digest)
      // are the 100 TB path, as agg_percentile's operator doc records.
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        val buffering = a.aggregateExpressions
          .map(_.aggregateFunction.getClass.getSimpleName)
          .filter(Set("Percentile", "PercentileDisc", "Median",
            "CollectList", "CollectSet", "CollectTopK"))
        if (buffering.nonEmpty)
          fs += Finding("info", "full-value-buffer-agg",
            s"Aggregate holds every group value in memory " +
              s"(${buffering.distinct.mkString(", ")}) — exact " +
              "percentile/collect semantics need the whole group on one " +
              "reducer. Fine for bounded groups; for large ones use the " +
              "mergeable sketch twin (percentile_approx / t-digest).")
      // Filter whose DIRECT scan child (through narrow per-row wrappers
      // only — codegen, columnar bridge, project) pushed nothing into
      // the reader: the predicate is evaluated after reading. Pairing
      // the Filter with its own scan, not any scan in the plan, avoids
      // the false positive of one fully-pushed scan plus an unrelated
      // filter-free scan elsewhere in the tree.
      case f: FilterExec =>
        scanBelow(f.child).foreach { scan =>
          if (scan.metadata.get("PushedFilters").contains("[]"))
            fs += Finding("info", "unpushed-filter",
              "A Filter runs directly above a scan with PushedFilters: [] — " +
                "the predicate is evaluated after reading. Expected for " +
                "derived expressions (hashes, UDF-like exprs); if the " +
                "predicate is on a plain column, restructure so it pushes " +
                "down.")
        }
      case _ => ()
    }

    val order = Map("error" -> 0, "warn" -> 1, "info" -> 2)
    fs.result().distinct.sortBy(f => order(f.severity))
  }

  /** The parquet scan reachable from `p` through narrow single-child
    * wrappers only (no joins/aggregates/exchanges in between) — i.e.
    * the scan a Filter at `p`'s parent is evaluated directly above.
    * DSv1 scans only: FileSourceScanExec carries the PushedFilters
    * metadata this check reads; DSv2 BatchScanExec plans (not used by
    * this library's parquet path) fall through to None. */
  private def scanBelow(p: SparkPlan): Option[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Some(s)
    case w: WholeStageCodegenExec => scanBelow(w.child)
    case i: InputAdapter => scanBelow(i.child)
    case c: ColumnarToRowExec => scanBelow(c.child)
    case pr: ProjectExec => scanBelow(pr.child)
    case f: FilterExec => scanBelow(f.child)
    case a: AdaptiveSparkPlanExec => scanBelow(a.executedPlan)
    case q: QueryStageExec => scanBelow(q.plan)
    case _ => None
  }

  /** True when every row reaching `p` passed a GLOBAL limit ≤ `cap`
    * somewhere below. Conservative on two axes the r10 advice named:
    * (1) LocalLimitExec does NOT qualify — it caps rows per PARTITION,
    * so a 1000-partition plan under a LocalLimit(100k) can still carry
    * 100M rows; only GlobalLimitExec / TakeOrderedAndProjectExec prove
    * a global bound. (2) Row-multiplying nodes (joins, unions, Expand,
    * Generate) return false outright — two ≤cap inputs joined can
    * produce up to cap² rows, a union sums its limits, and an explode
    * multiplies per-row — so boundedness below them proves nothing
    * above them. */
  private def boundedByLimit(p: SparkPlan, cap: Long): Boolean = {
    import org.apache.spark.sql.execution.{GenerateExec, GlobalLimitExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    p match {
      case g: GlobalLimitExec if g.limit <= cap => true
      case t: TakeOrderedAndProjectExec if t.limit <= cap => true
      case a: AdaptiveSparkPlanExec => boundedByLimit(a.executedPlan, cap)
      case q: QueryStageExec => boundedByLimit(q.plan, cap)
      case _: BaseJoinExec | _: CartesianProductExec | _: UnionExec |
          _: ExpandExec | _: GenerateExec => false
      case _ if p.children.isEmpty => false
      case _ => p.children.forall(boundedByLimit(_, cap))
    }
  }

  /** Broadcast row bounds above this stop earning the nested-loop
    * `info` adjudication: a proven-but-huge broadcast (say 1M rows)
    * still multiplies the streamed side per row batch — "bounded" only
    * helps when the bound is dim-table-sized. */
  val MaxProvenBroadcastRows: Long = 100000L

  /** Upper bound on `p`'s output rows when one is PROVABLE from the
    * plan alone (provablyOneRow generalized — the r11 verdict #6 rule).
    * Sources of bounds: global limits (GlobalLimit /
    * TakeOrderedAndProject), grouping-less aggregates (1), LocalTableScan
    * (the literal row count), Range (its element count). Composition:
    * narrow row-preserving-or-reducing wrappers pass the child bound
    * through (LocalLimit included — it never ADDS rows, so the child's
    * global bound survives); a GROUPED aggregate emits at most one row
    * per input row, so it also passes the bound through
    * (aggregate-cardinality-derived); unions add, Expand multiplies by
    * its projection count, joins multiply (semi/anti keep the left
    * bound; outer forms add the null-extended rows), all in
    * overflow-checked arithmetic. Generate (explode) and bare scans
    * return None — no structural bound exists. */
  private[graft] def provablyAtMostN(p: SparkPlan): Option[Long] = {
    import org.apache.spark.sql.execution.{CoalesceExec, GenerateExec, GlobalLimitExec, LocalLimitExec, LocalTableScanExec, RangeExec, SortExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.catalyst.plans.{Cross, FullOuter, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
    def mul(a: Long, b: Long): Option[Long] =
      try Some(Math.multiplyExact(a, b)) catch { case _: ArithmeticException => None }
    def add(a: Long, b: Long): Option[Long] =
      try Some(Math.addExact(a, b)) catch { case _: ArithmeticException => None }
    p match {
      case g: GlobalLimitExec =>
        Some(provablyAtMostN(g.child).fold(g.limit.toLong)(_ min g.limit))
      case t: TakeOrderedAndProjectExec => Some(t.limit.toLong)
      case a: BaseAggregateExec =>
        if (a.groupingExpressions.isEmpty) Some(1L)
        else provablyAtMostN(a.child)
      case l: LocalTableScanExec => Some(l.rows.size.toLong)
      case r: RangeExec =>
        if (r.numElements.isValidLong) Some(r.numElements.toLong) else None
      case u: UnionExec =>
        u.children.map(provablyAtMostN).foldLeft(Option(0L)) {
          case (Some(acc), Some(n)) => add(acc, n)
          case _ => None
        }
      case e: ExpandExec =>
        provablyAtMostN(e.child).flatMap(mul(_, e.projections.size.toLong))
      case j: BaseJoinExec =>
        (provablyAtMostN(j.left), provablyAtMostN(j.right)) match {
          case (Some(la), rb) => j.joinType match {
            case LeftSemi | LeftAnti => Some(la)
            case Inner | Cross =>
              rb.flatMap(mul(la, _))
            case LeftOuter =>
              rb.flatMap(r => mul(la, r).flatMap(add(_, la)))
            case RightOuter =>
              rb.flatMap(r => mul(la, r).flatMap(add(_, r)))
            case FullOuter =>
              rb.flatMap(r =>
                mul(la, r).flatMap(add(_, la)).flatMap(add(_, r)))
            case _ => None
          }
          case _ => None
        }
      case _: GenerateExec => None
      case a: AdaptiveSparkPlanExec => provablyAtMostN(a.executedPlan)
      case q: QueryStageExec => provablyAtMostN(q.plan)
      case w: WholeStageCodegenExec => provablyAtMostN(w.child)
      case i: InputAdapter => provablyAtMostN(i.child)
      case c: ColumnarToRowExec => provablyAtMostN(c.child)
      case pr: ProjectExec => provablyAtMostN(pr.child)
      case f: FilterExec => provablyAtMostN(f.child)
      case s: SortExec => provablyAtMostN(s.child)
      case w: WindowExec => provablyAtMostN(w.child)
      case l: LocalLimitExec => provablyAtMostN(l.child)
      case c: CoalesceExec => provablyAtMostN(c.child)
      case b: BroadcastExchangeExec => provablyAtMostN(b.child)
      case e: ShuffleExchangeExec => provablyAtMostN(e.child)
      case _ => None
    }
  }

  /** True when `p` provably emits EXACTLY one row: a grouping-less
    * aggregate, reached through narrow row-preserving-or-reducing
    * wrappers (a Filter on one row stays ≤ 1; projections and
    * exchanges are 1:1). Used to adjudicate broadcast crossJoins. */
  private def provablyOneRow(p: SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    p match {
      case a: BaseAggregateExec => a.groupingExpressions.isEmpty
      case a: AdaptiveSparkPlanExec => provablyOneRow(a.executedPlan)
      case q: QueryStageExec => provablyOneRow(q.plan)
      case w: WholeStageCodegenExec => provablyOneRow(w.child)
      case i: InputAdapter => provablyOneRow(i.child)
      case c: ColumnarToRowExec => provablyOneRow(c.child)
      case pr: ProjectExec => provablyOneRow(pr.child)
      case f: FilterExec => provablyOneRow(f.child)
      case b: BroadcastExchangeExec => provablyOneRow(b.child)
      case e: ShuffleExchangeExec => provablyOneRow(e.child)
      case _ => false
    }
  }

  /** True when `p`'s rows come from an aggregate through narrow
    * single-child operators only (sort, exchange, project, filter,
    * codegen wrappers) — i.e. a window directly above `p` sees one row
    * per grouping key. Stops at row-multiplying or multi-child nodes:
    * an aggregate below a join does NOT bound the join's output. */
  private def aggregateBelow(p: SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    p match {
      case _: BaseAggregateExec => true
      case a: AdaptiveSparkPlanExec => aggregateBelow(a.executedPlan)
      case q: QueryStageExec => aggregateBelow(q.plan)
      case w: WholeStageCodegenExec => aggregateBelow(w.child)
      case i: InputAdapter => aggregateBelow(i.child)
      case c: ColumnarToRowExec => aggregateBelow(c.child)
      case pr: ProjectExec => aggregateBelow(pr.child)
      case f: FilterExec => aggregateBelow(f.child)
      case s: SortExec => aggregateBelow(s.child)
      case e: ShuffleExchangeExec => aggregateBelow(e.child)
      // a Window is row-preserving (adds columns, never rows), so a
      // stacked window above the aggregate is still aggregate-bounded
      case w: WindowExec => aggregateBelow(w.child)
      case _ => false
    }
  }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _ => Seq(p)
    }
    self ++ p.children.flatMap(flatten) ++ p.subqueries.flatMap(flatten)
  }
}
