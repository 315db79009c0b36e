"""Repeat the benchmark over several seeds and summarise each metric.

    python3 e2ebench/repeat.py --workload <name> --seeds 1-10 [--seconds <s>]
                               [--trace 0] [--out <file.json>] [--bounds]

Run from the repository root. For every metric it prints the median,
the first and third quartiles (`statistics.quantiles(values, n=4)`) and
the spread, the interquartile distance as a share of the median.
`--seconds` defaults to BENCHMARK.json's `run_seconds`. With `--bounds`,
each end-to-end spread is compared with its bound in BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def summarise(runs):
    out = {}
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
        out[name] = {"unit": runs[0]["metrics"][name]["unit"], "median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else 0.0, "values": values}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--bounds", action="store_true")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    if args.seconds is None:
        args.seconds = bench["run_seconds"]

    runs = []
    for seed in seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
             "--workload", args.workload, "--seed", str(seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)], capture_output=True, text=True)
        if proc.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{proc.stderr[-3000:]}")
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        result["seed"], result["wall_s"] = seed, round(time.time() - t0, 1)
        runs.append(result)
        print(f"seed {seed}: {result['wall_s']} s, correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']}", flush=True)

    summary = summarise(runs)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]} if args.bounds else {}
    print(f"{'metric':<34}{'unit':>7}{'median':>14}{'q1':>14}{'q3':>14}{'spread':>9}")
    for name, s in summary.items():
        mark = ""
        if name in bounds:
            mark = f"  bound {bounds[name]:.2f}" + ("  OVER" if s["spread"] > bounds[name] else "")
        print(f"{name:<34}{s['unit']:>7}{s['median']:>14.4g}{s['q1']:>14.4g}{s['q3']:>14.4g}"
              f"{s['spread']:>9.3f}{mark}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
                       "runs": runs, "summary": summary}, fh, indent=1)


if __name__ == "__main__":
    main()
