"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/steadiness.py --workloads snapshot_copy cdc_live \\
        --seeds 10 --out perfbench/steadiness.json

Runs ``run.py`` once per seed and workload, one run at a time, and
reports for every end-to-end metric the median and the spread: the
distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median.
``--out`` appends the set of runs to a JSON list; with an earlier set
of the same workload in it, each metric also gets ``vs_previous``,
the change of its median against that set (positive is worse), to
hold against the metric's bound.
With ``--traced N`` it adds N traced runs per workload and reports the
tracing overhead: per traced run, the traced minus the untraced
operations of that run, as a median over the traced runs.
Each run's host health (CPU-steal share, most runnable processes) is
listed next to its metrics, unnormalised, so a burst shows as one.
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


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode or not lines:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{out.stderr}")
    last = json.loads(lines[-1])
    host = dict(line[2:].split(": ", 1) for line in lines
                if line.startswith("# host."))
    return {"seed": seed, "run_s": time.perf_counter() - t,
            "correct": last["correct"], "attempted": last["attempted"],
            "failed": last["failed"],
            **{k: v["value"] for k, v in last["metrics"].items()},
            **{k: float(v) for k, v in host.items()}}


def worse_by(now: float, before: float, better: str) -> float:
    """How much worse ``now`` is than ``before``, as a share of
    ``before`` (negative when it is better)."""
    change = (now - before) / before
    return change if better == "lower" else -change


def summarize(runs: list[dict], traced: list[dict],
              bounds: dict[str, float]) -> dict:
    """Median and spread of every end-to-end metric over the untraced
    runs; with traced runs, the tracing overhead: the median over
    those runs of each one's traced minus untraced operations."""
    summary = {}
    for name, bound in bounds.items():
        vals = [r[name] for r in runs]
        summary[name] = {"median": statistics.median(vals),
                         "spread": spread(vals), "bound": bound}
        if traced and f"untraced.{name}" in traced[0]:
            summary[name]["tracing_overhead"] = statistics.median(
                r[f"traced.{name}"] - r[f"untraced.{name}"]
                for r in traced)
    return summary


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--traced", type=int, default=0,
                    help="traced runs per workload, for the overhead")
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    sets = []
    if args.out and os.path.exists(args.out):
        with open(args.out) as f:
            sets = json.load(f)

    result = {"seconds": args.seconds, "cpus": len(os.sched_getaffinity(0)),
              "workloads": {}}
    for w in args.workloads:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            runs.append(_run(w, seed, args.seconds, 0))
            print(w, json.dumps(runs[-1]), flush=True)
        traced = []
        for seed in range(args.first_seed, args.first_seed + args.traced):
            traced.append(_run(w, seed, args.seconds, 1))
            print(w, "traced", json.dumps(
                {k: v for k, v in traced[-1].items()
                 if not k.startswith(("bulk.", "latency.", "scan."))}),
                flush=True)
        summary = summarize(runs, traced, bounds)
        prev = [s["workloads"][w]["summary"] for s in sets
                if w in s["workloads"]]
        for name, v in summary.items():
            if prev:
                v["vs_previous"] = worse_by(v["median"],
                                            prev[-1][name]["median"],
                                            better[name])
            print(f"{w} {name}: median {v['median']:.6g} "
                  f"spread {v['spread']:.3f} (bound {v['bound']})"
                  + (f" vs previous {v['vs_previous']:+.3f}"
                     if prev else ""), flush=True)
        result["workloads"][w] = {"runs": runs, "traced_runs": traced,
                                  "summary": summary}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(sets + [result], f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
