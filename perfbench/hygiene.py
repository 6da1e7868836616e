"""Run hygiene recorded with every result: the box and what else ran on it."""
import os
import subprocess
import time
from pathlib import Path


STEAL_FLAG = 0.1


def _read(path):
    try:
        return Path(path).read_text()
    except OSError:
        return ""


def other_jvms():
    """Live java processes other than this benchmark's own (it has none
    running when a snapshot is taken)."""
    pids = []
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        cmd = _read(d / "cmdline").split("\0")[0]
        if cmd == "java" or cmd.endswith("/java"):
            pids.append(int(d.name))
    return sorted(pids)


def snapshot():
    mem = {}
    for line in _read("/proc/meminfo").splitlines():
        k, _, v = line.partition(":")
        mem[k] = int(v.split()[0]) if v.split() else 0
    load = _read("/proc/loadavg").split()
    cpu = _read("/proc/stat").split("\n")[0].split()[1:]
    hz = os.sysconf("SC_CLK_TCK")
    return {"t": time.monotonic(), "load1": float(load[0]) if load else -1.0,
            "steal_s": int(cpu[7]) / hz if len(cpu) > 7 else 0.0,
            "other_jvms": other_jvms(),
            "page_cache_mb": mem.get("Cached", 0) / 1024,
            "mem_available_mb": mem.get("MemAvailable", 0) / 1024}


def commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "not a git checkout"
    except (OSError, subprocess.SubprocessError):
        return "not a git checkout"


def combine(start, end, seed, root, fingerprint, heap_max_mb):
    flagged = []
    if start["other_jvms"] or end["other_jvms"]:
        flagged.append(f"other JVMs alive: start {start['other_jvms']}, end {end['other_jvms']}")
    # Time the hypervisor gave this VM's CPUs to others: wall times of a
    # run with a high share are not comparable with a quiet run's.
    steal = end["steal_s"] - start["steal_s"]
    steal_share = steal / ((end["t"] - start["t"]) * (os.cpu_count() or 1))
    if steal_share > STEAL_FLAG:
        flagged.append(f"CPU steal {steal_share:.0%} of the run's CPU time")
    return {"nproc": os.cpu_count(), "heap_max_mb": heap_max_mb,
            "load1_start": start["load1"], "load1_end": end["load1"],
            "other_jvms_start": start["other_jvms"], "other_jvms_end": end["other_jvms"],
            "page_cache_mb_start": start["page_cache_mb"],
            "page_cache_mb_end": end["page_cache_mb"],
            "mem_available_mb_start": start["mem_available_mb"],
            "cpu_steal_s": steal, "cpu_steal_share": steal_share,
            "commit": commit(root), "source_sha256": fingerprint, "seed": seed,
            "flagged": "; ".join(flagged)}
