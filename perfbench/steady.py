#!/usr/bin/env python3
"""Steadiness check: two sets of seeded runs of every workload, compared
within the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 [--workloads tail curate] [--sets 2]

For each end-to-end metric it reports, per set, the median and the
inter-quartile spread as a share of the median, and how far apart each
pair of set medians is, as |a - b| / min(a, b). It fails if any spread or
any pair exceeds the metric's bound, whichever set reads faster. The
report is also written to .bench_build/steady.json.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

import metrics

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run_once(workload, seed, seconds):
    r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{r.stderr[-3000:]}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        raise SystemExit(f"{workload} seed {seed}: incorrect output\n{r.stdout}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    a = ap.parse_args()
    report, ok = {}, True
    for w in a.workloads:
        sets = []
        for s in range(a.sets):
            runs = [run_once(w, 1000 * s + i + 1, bench["run_seconds"]) for i in range(a.runs)]
            sets.append(runs)
            print(f"{w} set {s + 1}: {len(runs)} runs", file=sys.stderr)
        report[w] = {}
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vals = [[r[name] for r in runs] for runs in sets]
            c = metrics.compare_sets(vals, bound)
            ok &= c["ok"]
            report[w][name] = dict(c, bound=bound, values=vals)
            print(f"{w:7s} {name:17s} medians {['%.4g' % x for x in c['medians']]} "
                  f"spreads {['%.3f' % x for x in c['spreads']]} apart "
                  f"{['%.3f' % x for x in c['apart']]} bound {bound} "
                  f"{'ok' if c['ok'] else 'FAIL'}")
    out = ROOT / ".bench_build" / "steady.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(report, indent=1) + "\n")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
