"""Steadiness check: run every workload of BENCHMARK.json on several seeds
and report each end-to-end metric's median, quartiles and spread
(interquartile range / median) against its bound.

    python3 perfbench/steadiness.py --runs 10            # all workloads
    python3 perfbench/steadiness.py --runs 5 --workload maintain
    python3 perfbench/steadiness.py --traced 2 --workload query

Seeds run from 1 to `--runs`. `--traced N` instead runs the traced mode
N times on seed 1 and reports which per-call job and task counts differ
between the runs. Run from the repository root; results also go to
.perfbench_traces/steadiness.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def quartile_report(bench: dict, workload: str, results: list[dict]) -> dict:
    rows = {}
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        rows[m["name"]] = {"median": med, "q1": q1, "q3": q3,
                           "spread": (q3 - q1) / med, "bound": m["bound"],
                           "values": vals}
    return {"workload": workload, "runs": len(results),
            "correct": all(r["correct"] for r in results),
            "failed_share": sorted({r["failed"] / r["attempted"] for r in results}),
            "metrics": rows}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--traced", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    report = []
    for w in workloads:
        if args.traced:
            res, e2e = [], []
            for _ in range(args.traced):
                res.append(run_once(bench, w, 1, 1))
                with open(os.path.join(ROOT, ".perfbench_traces",
                                       f"{w}-seed1.json")) as f:
                    e2e.append(json.load(f)["end_to_end"])
                print(f"{w} traced: {e2e[-1]}", flush=True)
            counts = [{k: v["value"] for k, v in r["metrics"].items()
                       if k.endswith((".jobs", ".tasks"))} for r in res]
            differ = sorted(k for k in counts[0]
                            if len({c[k] for c in counts}) > 1)
            print(f"{w}: {len(counts[0])} job/task counts, differing: {differ}")
            report.append({"workload": w, "traced": res, "end_to_end": e2e,
                           "differing": differ})
            continue
        res = []
        for seed in range(1, args.runs + 1):
            res.append(run_once(bench, w, seed, 0))
            print(f"{w} seed {seed}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in res[-1]["metrics"].items()),
                flush=True)
        rep = quartile_report(bench, w, res)
        report.append(rep)
        print(f"{w}: correct={rep['correct']} failed_share={rep['failed_share']}")
        for name, r in rep["metrics"].items():
            flag = "ok" if r["spread"] < r["bound"] / 3 else "WIDE"
            print(f"  {name:16s} median {r['median']:.4g}  q1 {r['q1']:.4g}  "
                  f"q3 {r['q3']:.4g}  spread {r['spread']:.3f}  "
                  f"bound {r['bound']}  {flag}")
    out_dir = os.path.join(ROOT, ".perfbench_traces")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "steadiness.json"), "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
