#!/usr/bin/env python3
"""Run-to-run steadiness of the end-to-end metrics.

Usage (from the root of a checkout):

    python3 perfbench/steady.py --runs 10 [--workloads a,b] [--first-seed 1] [--out FILE]

Runs the benchmark --runs times per workload, each with another seed,
and reports per metric the median and the interquartile range (as
statistics.quantiles(values, n=4) gives the quartiles) as a share of the
median. A metric whose spread exceeds its BENCHMARK.json bound is
flagged. The raw result
lines are kept so a second set can be compared with this one.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", help="write the table and raw results here (JSON)")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    raw, table, flagged = {}, [], []
    for w in args.workloads.split(","):
        raw[w] = []
        for i in range(args.runs):
            seed = args.first_seed + i
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
            if proc.returncode != 0 or not last.startswith("{"):
                sys.stderr.write(proc.stderr[-3000:])
                sys.exit(f"{w} seed {seed}: run failed (code {proc.returncode})")
            r = json.loads(last)
            raw[w].append(dict(r, seed=seed))
            print(f"{w} seed {seed}: correct={r['correct']} failed={r['failed']}/"
                  f"{r['attempted']} " + " ".join(
                      f"{k}={v['value']:.4f}" for k, v in r["metrics"].items()), flush=True)
        for k, bound in bounds.items():
            vals = [r["metrics"][k]["value"] for r in raw[w]]
            sp = spread(vals) if len(vals) > 1 else 0.0
            bad = sp > bound
            table.append({"workload": w, "metric": k, "median": statistics.median(vals),
                          "iqr_share": sp, "bound": bound, "flag": bad})
            flagged += [f"{w}/{k}"] if bad else []
    print(f"\n{'workload':16s} {'metric':18s} {'median':>12s} {'IQR/median':>11s} {'bound':>6s}")
    for t in table:
        print(f"{t['workload']:16s} {t['metric']:18s} {t['median']:12.4f} "
              f"{t['iqr_share']:11.4f} {t['bound']:6.2f}{'  SPREAD > BOUND' if t['flag'] else ''}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"table": table, "raw": raw}, fh, indent=1)
    if flagged:
        print("flagged: " + ", ".join(flagged))


if __name__ == "__main__":
    main()
