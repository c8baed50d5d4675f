"""Steadiness check: two sets of runs of the same code, compared.

    python3 maintbench/steady.py --traced 1 --out maintbench/results/baseline.json

For every workload in BENCHMARK.json, each of two sets runs ``run.py``
once per seed 1..10. Per set and end-to-end metric it reports the
median and quartiles (``statistics.quantiles(values, n=4)``) and the
spread: the distance between the quartiles as a share of the median.
The sets agree when every spread is within the metric's bound and the
second set's median is not worse than the first's by more than the
bound.

``--traced N`` adds N traced runs per workload: their per-layer medians,
and the tracing overhead, which is the traced run's own merge, read and
maintenance medians against the untraced ones of the first set.

Exits 1 when the sets do not agree or any run failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = 2
SEEDS = list(range(1, 11))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines else {"correct": False, "metrics": {}}
    res["returncode"] = p.returncode
    res["wall_s"] = wall
    log = [ln for ln in p.stderr.splitlines() if ln.startswith("maintbench:")]
    print(f"  {workload} seed={seed} trace={trace} rc={p.returncode} wall={wall:.1f}s "
          + (log[-1][len("maintbench: "):] if log else ""), file=sys.stderr, flush=True)
    return res


def summarize(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"), "values": values}


def worse_by(first: float, later: float, better: str) -> float:
    """How much worse ``later`` is than ``first``, as a share of ``first``."""
    return (later - first) / first if better == "lower" else (first - later) / first


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--traced", type=int, default=0, help="traced runs per workload")
    p.add_argument("--out", default="", help="write the full report as JSON here")
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    report: dict = {"run_seconds": bench["run_seconds"], "cores": len(os.sched_getaffinity(0)),
                    "seeds": SEEDS, "workloads": {}}
    ok = True
    for w in (w["name"] for w in bench["workloads"]):
        sets = []
        for s in range(SETS):
            print(f"{w}: set {s + 1}/{SETS}", file=sys.stderr, flush=True)
            runs = [run_once(w, seed, bench["run_seconds"], 0) for seed in SEEDS]
            ok &= all(r["returncode"] == 0 and r["correct"] for r in runs)
            sets.append({
                "wall_s": summarize([r["wall_s"] for r in runs]),
                "metrics": {m: summarize([r["metrics"][m]["value"] for r in runs if m in r["metrics"]])
                            for m in e2e if all(m in r["metrics"] for r in runs)},
            })
        verdict = {}
        for m, spec in e2e.items():
            if any(m not in st["metrics"] for st in sets):
                verdict[m] = "missing"
                ok = False
                continue
            spreads = [st["metrics"][m]["spread"] for st in sets]
            drift = max(worse_by(sets[0]["metrics"][m]["median"], st["metrics"][m]["median"],
                                 spec["better"]) for st in sets[1:])
            good = drift <= spec["bound"] and max(spreads) <= spec["bound"]
            verdict[m] = {"bound": spec["bound"], "max_spread": max(spreads),
                          "worst_drift": drift, "agree": good}
            ok &= good
        entry = {"sets": sets, "verdict": verdict}
        if args.traced:
            traced = [run_once(w, seed, bench["run_seconds"], 1) for seed in SEEDS[:args.traced]]
            ok &= all(r["returncode"] == 0 and r["correct"] for r in traced)
            layer = {m["name"]: statistics.median(r["metrics"][m["name"]]["value"] for r in traced)
                     for m in bench["per_layer"]}
            entry["per_layer"] = layer
            entry["tracing_overhead"] = {
                k: layer[f"tracing.{k}"] / sets[0]["metrics"][k]["median"] - 1.0
                for k in ("merge_p50_s", "read_p50_s", "maintenance_s")
            }
        report["workloads"][w] = entry
        print_table(w, entry)
    report["agree"] = ok
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
    print("sets agree within the bounds" if ok else "sets do NOT agree (or a run failed)")
    return 0 if ok else 1


def print_table(workload: str, entry: dict) -> None:
    print(f"\n## {workload}")
    print(f"{'metric':16s} " + " ".join(f"{'set' + str(i + 1) + ' median [q1, q3] spread':>40s}"
                                       for i in range(len(entry['sets'])))
          + "  bound  agree")
    for m, v in entry["verdict"].items():
        if not isinstance(v, dict):
            print(f"{m:16s} {v}")
            continue
        cells = []
        for st in entry["sets"]:
            s = st["metrics"][m]
            cells.append(f"{s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}] {s['spread']:.3f}".rjust(40))
        print(f"{m:16s} " + " ".join(cells) + f"  {v['bound']:.2f}  {'yes' if v['agree'] else 'NO'}")
    if "tracing_overhead" in entry:
        print("tracing overhead: " + ", ".join(f"{k} {v:+.1%}" for k, v in entry["tracing_overhead"].items()))


if __name__ == "__main__":
    sys.exit(main())
