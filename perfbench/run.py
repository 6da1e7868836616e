#!/usr/bin/env python3
"""The repository's benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload tail --seed 1 --seconds 20 --trace 0

Builds the program and the harness under perfbench/ with sbt on first use,
then runs the workload in one fresh JVM: set-up (from JVM start, the
session plus an untimed pass over the workload's queries at the sf0.001
fixture), then timed passes at sf0.1 for --seconds. The seed only permutes
the query order. Every forced result is checked against
perfbench/expected.json. The last stdout line is the result JSON; --trace 1
reports the per-layer metrics and writes the span artifact under
.bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import random
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import metrics
import hygiene

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
FIXTURES = Path(os.environ.get("PERFBENCH_FIXTURES", Path.home() / "testdata"))
CONFIG = json.loads((HERE / "workloads.json").read_text())
BENCH_FILE = ROOT / "BENCHMARK.json"
CONFIG_BENCH = json.loads(BENCH_FILE.read_text()) if BENCH_FILE.is_file() else None
BUDGET_S = 170  # every run ends within 180 s; the first also builds
MIN_WARM_PASSES = 3
MIN_WARM_SAMPLES = 100
MAX_TIMED_S = 120


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Hash of every build input, so a changed tree is rebuilt."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", ROOT / "project", HERE / "src", HERE / "project"]
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for r in roots:
        if r.is_dir():
            files += [p for p in r.rglob("*") if p.is_file() and "target" not in p.parts]
    for p in sorted(files):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run_group(cmd, cwd, env, log, timeout):
    """Run cmd in its own process group, output to log; kill the whole
    group if it outlives timeout seconds."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"{cmd[0]} overran {timeout:.0f} s; log in {log}")


def build():
    """Compile with sbt once per source tree; returns the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        die("no program to build: run from a checkout of the repository")
    fp = source_fingerprint()
    cp_file = BUILD / "classpath.json"
    if cp_file.is_file():
        cached = json.loads(cp_file.read_text())
        if cached["fingerprint"] == fp:
            return cached["classpath"]
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
        f"-Dsbt.global.base={BUILD / 'sbt-global'}", "-Xmx2g"]))
    log = BUILD / "build.log"
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                    "export Runtime/fullClasspath"], HERE, env, log, 800)
    lines = log.read_text().splitlines()
    if rc != 0:
        die("build failed:\n" + "\n".join(lines[-30:]))
    cp = next((ln for ln in reversed(lines) if "/scala-2.13/classes" in ln
               and not ln.startswith("[")), None)
    if cp is None:
        die("build printed no classpath")
    cp_file.write_text(json.dumps({"fingerprint": fp, "classpath": cp.strip()}))
    return cp.strip()


def family(name):
    """The workload a declared query belongs to."""
    if name.startswith(("stream_", "jx_json_stream", "sink_")) or name in (
            "etl_compact_files", "etl_upsert"):
        return "ingest"
    if name.startswith(("llm_", "graph_")):
        return "curate"
    return "tail"


JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def run_jvm(cp, args, tag, deadline):
    """Run the harness JVM in its own process group; kill it at the deadline."""
    scratch = BUILD / "scratch"
    for d in (scratch / "tmp", BUILD / "logs", BUILD / "cwd"):
        d.mkdir(parents=True, exist_ok=True)
    # Two JIT compiler threads and two parallel GC threads instead of the
    # JVM's defaults for 4 cores (3 and 4), so background compilation
    # competes less with the query thread for the cores; in paired runs
    # the defaults used about a quarter more CPU time and read slower.
    cmd = ["java", "-Xmx4g", "-XX:CICompilerCount=2", "-XX:ParallelGCThreads=2",
           f"-Djava.io.tmpdir={scratch / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "org.apache.spark.perfbench.Main"] + args
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=str(scratch))
    log = BUILD / "logs" / f"{tag}.log"
    rc = run_group(cmd, BUILD / "cwd", env, log, deadline - time.monotonic())
    if rc != 0:
        tail = log.read_text(errors="replace").splitlines()[-25:]
        die(f"harness JVM exited {rc}:\n" + "\n".join(tail))


def queries_for(workload, seed, everything):
    names = CONFIG["workloads"][workload]["queries"]
    if everything:
        names = [q for q in everything if family(q) == workload]
    order = list(names)
    random.Random(seed).shuffle(order)
    return order


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="PATH",
                    help="run the whole family once at sf0.1, no warm-up, and "
                         "write each query's forced value to PATH")
    a = ap.parse_args()
    started = time.monotonic()
    deadline = started + BUDGET_S

    h_start = hygiene.snapshot()
    cp = build()
    # The build may take most of a first run; the harness gets what is left,
    # and at least the budget of a run that did not build.
    deadline = max(deadline, time.monotonic() + BUDGET_S - 25)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    everything = None
    if a.record:
        listing = BUILD / "all_queries.txt"
        run_jvm(cp, ["--list", str(listing)], "list", deadline)
        everything = listing.read_text().split()
    order = queries_for(a.workload, a.seed, everything)
    qfile = BUILD / f"{tag}.queries"
    qfile.write_text("\n".join(order) + "\n")
    raw_file = BUILD / f"{tag}.raw.json"
    warm_passes = 1 if a.record else MIN_WARM_PASSES if a.trace else max(
        MIN_WARM_PASSES, metrics.passes_for_p90(len(order)))
    if raw_file.exists():
        raw_file.unlink()
    run_jvm(cp, [
        "--queries", str(qfile),
        "--warm-dir", str(FIXTURES / "sf0.001"),
        "--timed-dir", str(FIXTURES / "sf0.1"),
        "--seconds", str(0 if a.record else a.seconds),
        "--max-seconds", str(3600 if a.record else MAX_TIMED_S),
        "--min-warm-passes", str(warm_passes),
        # a traced run reports no percentile, so it needs no sample floor
        "--min-warm-samples", str(0 if a.record or a.trace else MIN_WARM_SAMPLES),
        "--trace", str(a.trace),
        "--cores", str(os.cpu_count()),
        "--scratch", str(BUILD / "scratch"),
        "--out", str(raw_file)], tag, time.monotonic() + 3600 if a.record else deadline)
    raw = json.loads(raw_file.read_text())
    h_end = hygiene.snapshot()

    if a.record:
        # Two passes per query; a query whose passes disagree, throw or fall
        # back to count() is listed for review, not silently recorded.
        seen = {}
        for s in raw["samples"]:
            seen.setdefault(s["q"], []).append(s)
        rec = {"values": {q: ss[0]["value"] for q, ss in seen.items()},
               "warm_walls": {q: ss[-1]["wall"] for q, ss in seen.items()},
               "review": {q: [x["value"] for x in ss] + [x["error"] or x["fallback"] for x in ss]
                          for q, ss in seen.items()
                          if len({x["value"] for x in ss}) > 1
                          or any(x["error"] or x["fallback"] for x in ss)}}
        Path(a.record).write_text(json.dumps(rec, indent=1, sort_keys=True) + "\n")
        print(json.dumps({"recorded": len(seen), "review": sorted(rec["review"]),
                          "path": a.record}))
        return

    hyg = hygiene.combine(h_start, h_end, a.seed, ROOT, source_fingerprint(), raw["heap_max_mb"])
    report = summarize(a, raw, order, hyg)
    out_dir = BUILD / "results"
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / f"{tag}.json").write_text(json.dumps(report, indent=1) + "\n")
    for line in report["lines"]:
        print(line)
    print(json.dumps(report["result"]))


def summarize(a, raw, order, hyg):
    expected = json.loads((HERE / "expected.json").read_text())["values"]
    exempt = CONFIG["exempt"]
    timed = raw["samples"]
    failures = []
    for s in timed:
        why = metrics.outcome(s, expected, exempt)
        if why:
            failures.append({"q": s["q"], "pass": s["pass"], "why": why})
    for w in raw["warm_errors"]:
        failures.append({"q": w["q"], "pass": "warm-up", "why": w["error"]})
    attempted = len(timed) + len(raw["warm_errors"])
    fallbacks = sorted({s["q"]: s["fallback"] for s in timed if s["fallback"]}.items())
    rate = metrics.error_rate(len(failures), attempted)
    units = {m["name"]: m["unit"] for m in CONFIG_BENCH["end_to_end"] + CONFIG_BENCH["per_layer"]}
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "order": order, "hygiene": hyg, "error_rate": rate, "failures": failures,
              "count_fallbacks": dict(fallbacks),
              "setup_s": raw["setup_s"], "passes": raw["passes"]}
    lines = [f"perfbench {a.workload} seed={a.seed} trace={a.trace} queries={len(order)} "
             f"passes={len(raw['passes'])}"]
    if a.trace:
        values, trace = traced_layers(raw)
        report.update(trace)
        lines.append(f"  traced wall_s = {trace['traced_wall_s']:.6g} s, untraced "
                     f"{trace['untraced_wall_s']:.6g} s; {len(trace['self_time_failures'])} "
                     f"of {len(trace['queries'])} traced queries outside the 10% self-time check")
        for ph, c in trace["catalyst_vs_tracker"].items():
            lines.append(f"  catalyst {ph}: wall {c['wall_s']:.4g} s, tracker {c['tracker_s']:.4g} s"
                         + (f" (FLAGGED: apart by more than {metrics.TRACKER_TOLERANCE:.0%})"
                            if c["flagged"] else ""))
    else:
        try:
            values, counts = metrics.end_to_end(raw)
        except ValueError as e:
            die(f"{e}: the timed passes hit max_timed_s (box too slow or contended)")
        report.update(end_to_end=values, counts=counts)
        lines.append(f"  warm query samples n={counts['query_samples']}, "
                     f"{counts['p90_beyond']} beyond p90, {counts['warm_passes']} warm passes")
    lines += [f"  {k} = {v:.6g} {units.get(k, '')}" for k, v in values.items()]
    lines.append(f"  error_rate = {rate:.6g} ({len(failures)} of {attempted} runs failed)")
    for f in failures[:20]:
        lines.append(f"  FAILED {f['q']} (pass {f['pass']}): {f['why']}")
    for q, msg in fallbacks:
        lines.append(f"  count() fallback {q}: {msg}")
    if hyg["flagged"]:
        lines.append(f"  WARNING: run not clean: {hyg['flagged']}")
    names = [m["name"] for m in CONFIG_BENCH["per_layer" if a.trace else "end_to_end"]]
    report["lines"] = lines
    report["result"] = {
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in names}}
    return report


def traced_layers(raw):
    """Per-layer medians over traced warm passes, plus the span artifact."""
    cores = raw["cores"]
    jobs = [s for s in raw["spans"] if s["kind"] == "job"]
    batches = [s for s in raw["spans"] if s["kind"] == "batch"]
    traced = sorted({s["pass"] for s in raw["samples"] if s["traced"]})
    per_pass, queries = {}, []
    for p in traced:
        ps = [s for s in raw["samples"] if s["pass"] == p]
        pj = [j for j in jobs if j["qid"].startswith(f"{p}:")]
        pb = [b for b in batches if b["qid"].startswith(f"{p}:")]
        per_pass[p] = metrics.pass_layers(ps, pj, pb, cores)
        for s in ps:
            qid = f"{p}:{s['q']}"
            qj = [j for j in pj if j["qid"] == qid]
            qb = [b for b in pb if b["qid"] == qid]
            ql = metrics.query_layers(s, qj, qb)
            queries.append({"qid": qid, "q": s["q"], "wall": s["wall"],
                            "phases": ql["phases"], "tracker": s["tracker"],
                            "gap_s": ql["gap_s"], "self_time_ok": ql["self_time_ok"],
                            "exec_driver_s": ql["exec_driver_s"], "jobs": qj, "batches": qb})
    warm = [pp for p, pp in per_pass.items() if p > 0]
    layers = {k: statistics.median(pp[k] for pp in warm) for k in metrics.LAYER_KEYS}
    # Writes and staging happen in the first pass; warm passes reuse them.
    layers["io.output_bytes"] = per_pass[0]["io.output_bytes"]
    layers["scratch.staged_bytes"] = raw["passes"][0]["staged_bytes"]
    layers["sources.table_open_ms"] = statistics.median(raw["table_open_ms"])
    untraced = [p["wall"] for p in raw["passes"] if p["pass"] > 0 and not p["traced"]]
    traced_w = [p["wall"] for p in raw["passes"] if p["pass"] > 0 and p["traced"]]
    layers["harness.trace_overhead_s"] = metrics.trace_overhead(raw["passes"])
    split_keys = {"construction": "construct.s", "analysis": "catalyst.analysis_s",
                  "optimization": "catalyst.optimization_s",
                  "planning": "catalyst.planning_s", "execution": "exec.s",
                  "streaming": "stream.trigger_s"}
    total = sum(layers[v] for k, v in split_keys.items() if k != "streaming")
    split = {k: {"s": layers[v], "share": layers[v] / total if total else 0.0}
             for k, v in split_keys.items()}
    split["streaming"]["note"] = "inside construction: micro-batches run in fn()"
    trace = {"layers": layers, "first_pass_layers": per_pass[0],
             "suite_split": split, "queries": queries,
             "self_time_failures": [q["qid"] for q in queries if not q["self_time_ok"]],
             "tracing_overhead_s": layers["harness.trace_overhead_s"],
             "traced_wall_s": statistics.median(traced_w),
             "untraced_wall_s": statistics.median(untraced),
             "catalyst_vs_tracker": metrics.tracker_check(queries)}
    return layers, trace


if __name__ == "__main__":
    if CONFIG_BENCH is None:
        die("BENCHMARK.json not found at the checkout root")
    main()
