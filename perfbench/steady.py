"""Steadiness report: run each workload several times with distinct seeds
and summarise every metric as median and quartiles, with each run's
loadavg and process-tree CPU seconds. Optionally add traced runs and the
tracing overhead (traced op median vs the untraced run of the same seed).

    python3 perfbench/steady.py --runs 10 --traced 2 --out perfbench/STEADINESS.json

Run from the root of a checkout. Runs are sequential; none is discarded.
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


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.perf_counter() - t0
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        return {"workload": workload, "seed": seed, "trace": trace, "exit": p.returncode,
                "wall_s": wall, "stderr_tail": p.stderr[-2000:]}
    return {"workload": workload, "seed": seed, "trace": trace, "exit": 0, "wall_s": wall,
            "result": json.loads(lines[-1]), "context": json.loads(lines[-2])["context"]}


def summarise(runs: list[dict], where=lambda r: r.get("result", {}).get("metrics", {})) -> dict:
    vals: dict[str, list[float]] = {}
    for r in runs:
        for k, m in where(r).items():
            if m["value"] is not None:
                vals.setdefault(k, []).append(m["value"])
    out = {}
    for k, v in vals.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0], v[0], v[0])
        out[k] = {"n": len(v), "median": med, "q1": q1, "q3": q3,
                  "iqr_over_median": (q3 - q1) / med if med else None}
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--traced", type=int, default=0, help="traced runs per workload")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    report = {"seconds": args.seconds, "workloads": {}}
    for w in args.workloads:
        runs = [run_once(w, args.first_seed + i, args.seconds, 0) for i in range(args.runs)]
        # traced runs share one seed, so their count metrics must repeat exactly
        traced = [run_once(w, args.first_seed, args.seconds, 1) for _ in range(args.traced)]
        summ = summarise(runs)
        entry = {
            "summary": summ,
            # the context line's e2e_report: the per-workload metric names
            "report": summarise(runs, lambda r: r.get("context", {}).get("e2e_report", {})),
            "runs": [
                {
                    "seed": r["seed"], "exit": r["exit"], "wall_s": round(r["wall_s"], 1),
                    "attempted": r.get("result", {}).get("attempted"),
                    "failed": r.get("result", {}).get("failed"),
                    "loadavg": r.get("context", {}).get("loadavg_start"),
                    "steal_share": r.get("context", {}).get("steal_share"),
                    "cpu_s_tree": r.get("context", {}).get("cpu_s_tree"),
                    "jit_cpu_s": r.get("context", {}).get("jit_cpu_s"),
                    "metrics": {k: m["value"] for k, m in r.get("result", {}).get("metrics", {}).items()},
                    "context": r.get("context"),
                }
                for r in runs
            ],
        }
        if traced:
            tsumm = summarise(traced)
            entry["traced"] = tsumm
            units = {k: m["unit"] for k, m in traced[0].get("result", {}).get("metrics", {}).items()}
            entry["traced_counts_repeat"] = {
                k: v["q1"] == v["q3"] == v["median"]
                for k, v in tsumm.items() if units.get(k) in ("count", "bytes")
            }
            # like for like: the untraced run of the traced runs' seed
            base = next((r["context"]["op_p50_ms"] for r in runs
                         if r["exit"] == 0 and r["seed"] == args.first_seed), None)
            tmed = tsumm.get("trace.op_p50_ms", {}).get("median")
            if base and tmed:
                entry["tracing_overhead"] = {"traced_op_p50_ms": tmed, "untraced_op_p50_ms": base,
                                             "overhead": tmed / base - 1.0}
        report["workloads"][w] = entry
        print(json.dumps({w: {k: (round(v["median"], 4), v["iqr_over_median"] and round(v["iqr_over_median"], 4))
                              for k, v in summ.items()}}), flush=True)
        for r in runs + traced:
            if r["exit"] != 0:
                print(f"{w} seed {r['seed']}: exit {r['exit']}\n{r['stderr_tail']}", file=sys.stderr)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
