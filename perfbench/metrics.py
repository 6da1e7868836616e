"""Metric math over raw samples. Pure functions, tested in test_metrics.py."""
import math
import statistics

PHASES = ("construct", "analysis", "optimization", "planning", "execution")
TRACKER_TOLERANCE = 0.4


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


P90_BEYOND = 10  # samples that must lie beyond query_p90_s


def passes_for_p90(n_queries, beyond=P90_BEYOND):
    """Warm passes of n_queries each that leave `beyond` samples above
    their passes' nearest-rank 90th percentiles."""
    per_pass = n_queries - math.ceil(0.9 * n_queries)
    if per_pass < 1:
        raise ValueError(f"{n_queries} queries a pass leave no sample beyond p90")
    return math.ceil(beyond / per_pass)


def p90_of_passes(passes, beyond=P90_BEYOND):
    """The median over passes of each pass's nearest-rank 90th percentile.
    `passes` holds one list of query latencies per warm pass. Returns
    (value, n, n_beyond), n_beyond counting the samples above their own
    pass's percentile; raises if fewer than `beyond` are."""
    per_pass, n, over = [], 0, 0
    for xs in passes:
        rank = math.ceil(0.9 * len(xs))
        per_pass.append(sorted(xs)[rank - 1])
        n += len(xs)
        over += len(xs) - rank
    if over < beyond:
        raise ValueError(f"p90 of {len(passes)} passes, {n} samples has {over} "
                         f"beyond it, needs {beyond}")
    return median(per_pass), n, over


def outcome(sample, expected, exempt):
    """None if the run succeeded, else why it failed."""
    if sample.get("error"):
        return "error: " + sample["error"]
    q = sample["q"]
    if q in exempt:
        return None
    if q not in expected:
        return "no expected value recorded"
    if sample["value"] != expected[q]:
        return f"value {sample['value']} != expected {expected[q]}"
    return None


def error_rate(failed, attempted):
    if attempted < 1:
        raise ValueError("no attempts")
    return failed / attempted


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def end_to_end(raw):
    """The end-to-end figures of one untraced run, error_rate apart.
    Warm samples are those of passes after the first. query_p90_s is taken
    per pass and then the median over passes, as wall_s is: the top tenth
    of samples pooled over passes comes mostly from the slowest passes
    (the first, still warming, or one hit by contention), so a pooled p90
    moves with how many such passes a run has."""
    passes = [p for p in raw["passes"] if not p["traced"]]
    warm_walls = [p["wall"] for p in passes if p["pass"] > 0]
    warm = [s for s in raw["samples"] if s["pass"] > 0 and not s["traced"]]
    by_pass = {}
    for s in warm:
        by_pass.setdefault(s["pass"], []).append(s["wall"])
    p90, n, beyond = p90_of_passes(list(by_pass.values()))
    return {
        "setup_s": raw["setup_s"],
        "first_pass_s": next(p["wall"] for p in passes if p["pass"] == 0),
        "wall_s": median(warm_walls),
        "query_p50_s": median([s["wall"] for s in warm]),
        "query_p90_s": p90,
        "heap_retained_mb": raw["heap_retained_mb"],
    }, {"query_samples": n, "p90_beyond": beyond, "warm_passes": len(warm_walls)}


def busy_s(spans):
    """Seconds covered by the union of (start_ms, end_ms) spans."""
    total, cur = 0, None
    for a, b in sorted(spans):
        if cur is None or a > cur[1]:
            total += cur[1] - cur[0] if cur else 0
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return (total + (cur[1] - cur[0] if cur else 0)) / 1e3


def query_layers(sample, jobs, batches):
    """One traced query run. Each phase is timed around its own call, so
    the gap is the query's wall time outside every phase. Execution wall
    outside the listener's job spans is driver-side work (adaptive
    re-planning, code generation, result handling)."""
    ph = {p: 0.0 for p in PHASES}
    ph.update(sample["phases"])
    gap = sample["wall"] - sum(ph.values())
    trig = sum(b["trigger_ms"] for b in batches) / 1e3
    in_jobs = busy_s([(j["start_ms"], j["end_ms"]) for j in jobs
                      if j["phase"] == "execution"])
    return {"phases": ph, "gap_s": gap, "trigger_s": trig,
            "exec_driver_s": ph["execution"] - in_jobs,
            "stream_lifecycle_s": ph["construct"] - trig if batches else 0.0,
            "self_time_ok": abs(gap) <= 0.1 * sample["wall"]}


def pass_layers(samples, jobs, batches, cores):
    """Per-layer sums over the traced queries of one pass."""
    by_q = {}
    for j in jobs:
        by_q.setdefault(j["qid"], []).append(j)
    bat_q = {}
    for b in batches:
        bat_q.setdefault(b["qid"], []).append(b)
    out = {k: 0.0 for k in LAYER_KEYS}
    wall = 0.0
    for s in samples:
        qid = f"{s['pass']}:{s['q']}"
        qj, qb = by_q.get(qid, []), bat_q.get(qid, [])
        ql = query_layers(s, qj, qb)
        wall += s["wall"]
        out["construct.s"] += ql["phases"]["construct"]
        out["catalyst.analysis_s"] += ql["phases"]["analysis"]
        out["catalyst.optimization_s"] += ql["phases"]["optimization"]
        out["catalyst.planning_s"] += ql["phases"]["planning"]
        out["exec.s"] += ql["phases"]["execution"]
        out["exec.driver_s"] += ql["exec_driver_s"]
        out["harness.gap_s"] += ql["gap_s"]
        out["stream.lifecycle_s"] += ql["stream_lifecycle_s"]
        for j in qj:
            # a job a Catalyst phase starts (rare) counts as execution
            if j["phase"] == "construct":
                out["construct.jobs"] += 1
            else:
                out["exec.jobs"] += 1
                out["exec.stages"] += j["stages"]
                out["exec.tasks"] += j["tasks"]
                out["exec.task_run_s"] += j["run_ms"] / 1e3
                out["exec.task_cpu_s"] += j["cpu_ns"] / 1e9
                out["exec.task_gc_s"] += j["gc_ms"] / 1e3
                out["exec.shuffle_write_bytes"] += j["shuffle_write_bytes"]
                out["exec.shuffle_read_bytes"] += j["shuffle_read_bytes"]
                out["exec.spill_bytes"] += j["spill_bytes"]
            out["exec.failed_tasks"] += j["failed_tasks"]
            out["sources.input_bytes"] += j["input_bytes"]
            out["io.output_bytes"] += j["output_bytes"]
        for b in qb:
            out["stream.batches"] += 1
            out["stream.trigger_s"] += b["trigger_ms"] / 1e3
            out["stream.add_batch_s"] += b["add_batch_ms"] / 1e3
            out["stream.query_planning_s"] += b["query_planning_ms"] / 1e3
            out["stream.wal_commit_s"] += b["wal_commit_ms"] / 1e3
            out["stream.commit_offsets_s"] += b["commit_offsets_ms"] / 1e3
            out["stream.state_commit_s"] += b["state_commit_ms"] / 1e3
            out["stream.state_rows"] += b["state_rows"]
            out["stream.input_rows"] += b["input_rows"]
    out["construct.share"] = out["construct.s"] / wall if wall else 0.0
    out["exec.core_busy_share"] = (out["exec.task_run_s"] / (out["exec.s"] * cores)
                                   if out["exec.s"] else 0.0)
    out["exec.tasks_per_stage"] = (out["exec.tasks"] / out["exec.stages"]
                                   if out["exec.stages"] else 0.0)
    return out


LAYER_KEYS = (
    "construct.s", "construct.jobs", "construct.share",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "exec.s", "exec.driver_s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s",
    "exec.core_busy_share", "exec.tasks_per_stage",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "exec.spill_bytes", "exec.failed_tasks",
    "stream.batches", "stream.trigger_s", "stream.add_batch_s",
    "stream.query_planning_s", "stream.wal_commit_s",
    "stream.commit_offsets_s", "stream.state_commit_s",
    "stream.state_rows", "stream.input_rows", "stream.lifecycle_s",
    "sources.input_bytes", "io.output_bytes", "harness.gap_s",
)


def trace_overhead(passes):
    """Tracing overhead per warm pass from a run whose warm passes
    alternate untraced and traced. Each traced pass is compared with the
    mean of the untraced passes either side of it, which cancels the
    passes' steady speed-up as the JIT warms; the median is returned."""
    walls = {p["pass"]: p["wall"] for p in passes}
    traced = {p["pass"] for p in passes if p["traced"]}
    diffs = [walls[p] - (walls[p - 1] + walls[p + 1]) / 2 for p in sorted(traced)
             if p - 1 in walls and p + 1 in walls
             and p - 1 not in traced and p + 1 not in traced]
    return median(diffs)


def tracker_check(queries, tolerance=TRACKER_TOLERANCE):
    """Catalyst phase walls against QueryExecution.tracker, summed over the
    traced queries. A phase whose two figures differ by more than
    `tolerance` of the wall figure is flagged."""
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        wall = sum(q["phases"][ph] for q in queries)
        tracker = sum(q["tracker"].get(ph, 0.0) for q in queries)
        out[ph] = {"wall_s": wall, "tracker_s": tracker,
                   "flagged": abs(wall - tracker) > tolerance * wall}
    return out


def compare_sets(sets, bound):
    """Two or more sets of one metric's values from separate runs: each
    set's median and spread, and every pair of set medians apart by
    |a - b| / min(a, b). ok if every spread and every pair is within bound."""
    meds = [median(v) for v in sets]
    spreads = [spread(v) for v in sets]
    apart = [abs(a - b) / min(a, b) for i, a in enumerate(meds) for b in meds[i + 1:]]
    return {"medians": meds, "spreads": spreads, "apart": apart,
            "ok": all(x <= bound for x in spreads + apart)}
