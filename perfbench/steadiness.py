#!/usr/bin/env python3
"""Run every workload several times, each with its own seed, in two
interleaved sets, and record how much each end-to-end metric spreads.

    python3 perfbench/steadiness.py --runs 10 --first-seed 1000

Set A uses seeds ``first-seed ...`` and set B ``first-seed + 1000 ...``.
Runs of the two sets alternate (A, B, B, A, A, B, ...), so a slow or fast
period of the host falls on both sets alike. For each workload, set and
metric it stores the values, their median and the quartile spread
(Q3 - Q1) / median from ``statistics.quantiles(n=4)``, next to the metric's
bound in ``BENCHMARK.json``. It also records how far the two sets' medians
lie apart, read in both directions (each set taken as the parent of the
other), as a share of the parent's median. Results go to
``perfbench/STEADINESS.json``.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETS = ("A", "B")


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def run_once(spec, workload, seed):
    t0 = time.monotonic()
    p = subprocess.run(spec["command"] + ["--workload", workload, "--seed", str(seed),
                                          "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    wall = time.monotonic() - t0
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    res = json.loads(last) if p.returncode == 0 else {}
    print(f"{workload} seed {seed}: exit {p.returncode}, {wall:.1f} s", file=sys.stderr)
    return {"seed": seed, "exit": p.returncode, "wall_s": round(wall, 1),
            "correct": res.get("correct"),
            "metrics": {k: v["value"] for k, v in res.get("metrics", {}).items()}}


def summarise(runs, bounds):
    ok = [r for r in runs if r["exit"] == 0 and r["correct"]]
    metrics = {}
    for name, m in bounds.items():
        vals = [r["metrics"][name] for r in ok]
        if len(vals) >= 2:
            metrics[name] = {"median": statistics.median(vals), "spread": round(spread(vals), 4),
                             "bound": m["bound"],
                             "within_third_of_bound": spread(vals) < m["bound"] / 3,
                             "values": vals}
    return {"runs": len(runs), "ok": len(ok),
            "wall_s_total": round(sum(r["wall_s"] for r in runs), 1),
            "seeds": [r["seed"] for r in runs], "metrics": metrics}


def median_shift(a, b, m):
    """How much worse the worse-reading set's median is than the other's,
    as a share of the other's: max over both readings (B against parent A,
    A against parent B)."""
    lower = m["better"] == "lower"

    def worse(child, parent):
        return (child / parent - 1) if lower else (parent / child - 1)

    return max(worse(b, a), worse(a, b))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, required=True)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out", default=str(HERE / "STEADINESS.json"))
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    doc = {"sets": {s: {} for s in SETS}, "median_shift": {}}
    for w in workloads:
        runs = {s: [] for s in SETS}
        for i in range(args.runs):
            order = SETS if i % 2 == 0 else SETS[::-1]
            for s in order:
                seed = args.first_seed + 1000 * SETS.index(s) + i
                runs[s].append(run_once(spec, w, seed))
        for s in SETS:
            doc["sets"][s][w] = summarise(runs[s], bounds)
        a, b = (doc["sets"][s][w]["metrics"] for s in SETS)
        doc["median_shift"][w] = {
            k: {"shift": round(median_shift(a[k]["median"], b[k]["median"], bounds[k]), 4),
                "bound": bounds[k]["bound"]}
            for k in a if k in b}
    Path(args.out).write_text(json.dumps(doc, indent=1) + "\n")


if __name__ == "__main__":
    main()
