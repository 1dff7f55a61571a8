"""Steadiness record: run the benchmark on several seeds and summarise.

    python3 perfbench/steady.py --seeds 1 2 3 --out perfbench/baseline/set1.json
    python3 perfbench/steady.py --seeds 1 --trace --out perfbench/baseline/trace.json

Runs ``perfbench/run.py`` once per (seed, workload), one run at a time,
workloads interleaved, with ``run_seconds`` from BENCHMARK.json.  For
each end-to-end metric it records every value, the median, the
quartiles (``statistics.quantiles(n=4)``) and the spread: the distance
between the quartiles as a share of the median, next to the metric's
bound.  With ``--trace`` it records the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    cmd = [
        sys.executable, os.path.join("perfbench", "run.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(int(trace)),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    rec = {
        "workload": workload, "seed": seed, "exit": proc.returncode,
        "wall_s": round(wall, 2), "notes": [ln for ln in lines if ln.startswith("#")],
    }
    try:
        rec["result"] = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        rec["stderr_tail"] = proc.stderr[-2000:]
    return rec


def summarise(runs: list[dict], spec: dict) -> dict:
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        mine = [r for r in runs if r["workload"] == w and "result" in r]
        values: dict[str, list[float]] = {}
        for r in mine:
            for k, v in r["result"]["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        stats = {}
        for k, vs in values.items():
            med = statistics.median(vs)
            entry = {"median": med, "values": vs}
            if len(vs) >= 2:
                q1, _, q3 = statistics.quantiles(vs, n=4)
                entry.update(q1=q1, q3=q3, spread=(q3 - q1) / med if med else None)
            if k in bounds:
                entry["bound"] = bounds[k]
            stats[k] = entry
        out[w] = {
            "runs": len(mine),
            "all_correct": all(r["result"]["correct"] for r in mine) and len(mine) == len(
                [r for r in runs if r["workload"] == w]
            ),
            "run_wall_s": [r["wall_s"] for r in runs if r["workload"] == w],
            "metrics": stats,
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    runs = []
    for seed in args.seeds:
        for w in workloads:
            rec = run_once(w, seed, spec["run_seconds"], args.trace)
            runs.append(rec)
            print(json.dumps({k: rec[k] for k in ("workload", "seed", "exit", "wall_s")}), flush=True)
    doc = {
        "command": " ".join(sys.argv),
        "cores": len(os.sched_getaffinity(0)),
        "run_seconds": spec["run_seconds"],
        "summary": summarise(runs, spec),
        "runs": runs,
    }
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(doc, f, indent=1)
    for w, s in doc["summary"].items():
        for k, e in s["metrics"].items():
            if "bound" in e:
                print(f"{w:20s} {k:12s} median={e['median']:.4g} spread={e.get('spread')} bound={e['bound']}")
    return 0 if all(s["all_correct"] for s in doc["summary"].values()) else 1


if __name__ == "__main__":
    sys.exit(main())
