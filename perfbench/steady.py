#!/usr/bin/env python3
"""Steadiness report: run one workload N times, each with its own seed, and
print every end-to-end metric's median and interquartile spread (as a share
of the median) against its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload table_mix --runs 10 [--first-seed 1]
        [--compare earlier.json] [--save this.json]

Every spread, setup_s's too, must stay within the metric's bound, and should
stay below a third of it. With --compare, the report also checks that this
set's median differs from the earlier set's, in either direction, by no more
than the bound (as a share of the earlier median) — how two sets of runs of
the same code are shown to agree. It exits non-zero when any check fails.
Run it from the root of a graft checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one_run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=1000)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run with seed {seed} failed (exit {p.returncode})")
    stamp = json.loads(lines[0])["stamp"] if len(lines) > 1 else {}
    return json.loads(lines[-1]), stamp


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return m, (q3 - q1) / m if m else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--compare", help="a --save file from an earlier set of runs")
    ap.add_argument("--save", help="write this set's values here")
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for i in range(args.runs):
        seed = args.first_seed + i
        res, stamp = one_run(args.workload, seed, spec["run_seconds"], 0)
        for k in values:
            values[k].append(res["metrics"][k]["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items())
              + f" (steal {stamp.get('steal_share_p50', 0):.3f})", flush=True)
    earlier = json.load(open(args.compare))["values"] if args.compare else None
    ok = True
    print(f"\n{args.workload}, {args.runs} runs")
    print(f"{'metric':<12} {'median':>10} {'iqr/med':>8} {'bound':>6} {'<bound/3':>9}"
          + ("  vs earlier" if earlier else ""))
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        med, sp = spread(values[name])
        within = sp <= bound
        line = f"{name:<12} {med:>10.4g} {sp:>8.3f} {bound:>6.2f} {str(sp < bound / 3):>9}"
        if earlier:
            prev = statistics.median(earlier[name])
            diff = (med - prev) / prev
            line += f"  {diff:+.3f} {'ok' if abs(diff) <= bound else 'DIFFERENT'}"
            within = within and abs(diff) <= bound
        ok = ok and within
        print(line + ("" if within else "  <-- out of bound"))
    if args.save:
        json.dump({"workload": args.workload, "values": values}, open(args.save, "w"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
