#!/usr/bin/env python3
"""Per-layer report from a traced run, with the tracing overhead.

Usage (from the root of a checkout):

    python3 perfbench/report.py [--seed 7] [--workloads a,b] [--seconds S]

For each workload, runs the benchmark once untraced and once traced on
the same seed, then writes perfbench/results/layers.json and
perfbench/results/LAYERS.md: every per-layer metric of the traced run,
self time per layer, and the overhead of tracing as the difference of
each end-to-end metric between the traced and the untraced run.
"""
import argparse
import json
import os
import subprocess
import sys
import tempfile

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace, keep):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace), "--keep-result", keep],
        cwd=ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        sys.exit(f"{workload} trace={trace}: run failed")
    with open(keep) as fh:
        res = json.load(fh)
    return metrics.compute(res, res["check"], trace=bool(trace)), res


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    args = ap.parse_args()
    out = {"seed": args.seed, "seconds": args.seconds, "workloads": {}}
    with tempfile.TemporaryDirectory() as tmp:
        for w in args.workloads.split(","):
            plain, _ = run(w, args.seed, args.seconds, 0, os.path.join(tmp, "p.json"))
            traced, res = run(w, args.seed, args.seconds, 1, os.path.join(tmp, "t.json"))
            overhead = {k: {"untraced": v, "traced": traced["e2e"][k],
                            "share": (traced["e2e"][k] - v) / v}
                        for k, v in plain["e2e"].items()}
            ops = [o for o in res["ops"] if o["phase"] == "timed"]
            out["workloads"][w] = {
                "cores": res["cores"], "timed_ops": len(ops),
                "correct": traced["result"]["correct"] and plain["result"]["correct"],
                "end_to_end_untraced": plain["e2e"], "notes": plain["notes"],
                "per_layer": traced["layer"], "self_time_s_per_op": traced["self_times"],
                "tracing_overhead": overhead, "readings": res["check"]["readings"]}
            print(f"{w}: done", flush=True)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", "layers.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    with open(os.path.join(HERE, "results", "LAYERS.md"), "w") as fh:
        fh.write(markdown(out))


def markdown(out):
    lines = ["# Per-layer report", "",
             f"Seed {out['seed']}, `--seconds {out['seconds']:g}`; one untraced and one "
             "traced run per workload. Generated by `perfbench/report.py`. The overhead "
             "rows compare one pair of runs: differences inside the run-to-run spread "
             "in README.md are not resolved.", ""]
    for w, r in out["workloads"].items():
        n = r["notes"]
        lines += [f"## {w}", "",
                  f"{r['cores']} cores, {r['timed_ops']} timed operations, "
                  f"correct: {r['correct']}.", "",
                  "### Tracing overhead (traced minus untraced)", "",
                  "| metric | untraced | traced | change |", "|---|---|---|---|"]
        for k, o in r["tracing_overhead"].items():
            lines.append(f"| {k} | {o['untraced']:.4f} | {o['traced']:.4f} | "
                         f"{100 * o['share']:+.1f}% |")
        lines += ["", f"Untraced latency samples: {n['latency_n']}; tail "
                  + (f"p{n['tail_pct']}" if n["tail_pct"] else "max (too few samples)")
                  + f" = {n['latency_tail_s']:.4f} s; cached peak {n['cached_peak_mb']:.2f} MB"
                  + f"; pass: {n['pass']}.", "",
                  "### Self time per layer (s per timed operation)", "",
                  "| layer | self s/op |", "|---|---|"]
        lines += [f"| {k} | {v:.4f} |" for k, v in r["self_time_s_per_op"].items()]
        lines += ["", "### Per-layer metrics (traced run)", "",
                  "| metric | value | unit |", "|---|---|---|"]
        lines += [f"| {k} | {v:.4f} | {metrics.layer_unit(k)} |"
                  for k, v in r["per_layer"].items()]
        if r["readings"]:
            lines += ["", "Readings: " + json.dumps(r["readings"], sort_keys=True)]
        lines.append("")
    return "\n".join(lines)


if __name__ == "__main__":
    main()
