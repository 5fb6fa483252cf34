#!/usr/bin/env python3
"""Runs the benchmark over several seeds and reports each metric's spread.

Usage, from the repository root:

    python3 perfbench/spread.py --workload batch --seeds 1-10 --seconds 5 \
        [--trace 0] [--out perfbench/baseline/set1-batch.json]

For every metric it prints the median and the interquartile range as a
share of the median (statistics.quantiles(values, n=4)); for each per-key
time and each run's metadata it keeps what run.py wrote. With --out it
writes all of that as one JSON artifact.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(ROOT, ".bench_build", "perfbench", "results")


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    if len(values) < 2:
        return {"median": values[0], "q1": values[0], "q3": values[0], "iqr_share": 0.0,
                "values": values}
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / med if med else None,
            "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()

    results, artifacts = [], []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{r.stderr[-3000:]}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        results.append(res)
        name = f"{args.workload}-seed{seed}-trace{args.trace}.json"
        with open(os.path.join(RESULTS, name)) as fh:
            artifacts.append(json.load(fh))
        print(f"seed {seed}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
            if not k.startswith(("op.", "ann."))), file=sys.stderr)

    metrics = {k: spread([r["metrics"][k]["value"] for r in results])
               for k in results[0]["metrics"]}
    summary = {
        "workload": args.workload, "seconds": args.seconds, "trace": args.trace,
        "seeds": seeds(args.seeds),
        "all_correct": all(r["correct"] for r in results),
        "metrics": metrics,
        "runs": artifacts,
    }
    for k, v in metrics.items():
        share = "n/a" if v["iqr_share"] is None else f"{v['iqr_share']:.3f}"
        print(f"{k:40s} median {v['median']:.4g}  iqr/median {share}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
