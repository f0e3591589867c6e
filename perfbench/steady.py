"""Steadiness report: run each workload repeatedly on the same code.

    python3 perfbench/steady.py [--runs 10] [--sets 1] [--traced 0] [--seed0 1]

Run from the root of a checkout.  Every workload BENCHMARK.json names is
run in turn, and every run gets its own seed.  For each
end-to-end metric the report prints the median, the quartiles and their
distance as a share of the median, next to the bound BENCHMARK.json sets;
with ``--sets 2`` it also prints how far the second set's median moved
from the first.  It prints each run's wall time, steal share and warm-up
and timed pass times, so a workload still on the JIT slope shows.  ``--traced N`` adds N traced runs
per workload and prints the tracing overhead (traced minus untraced
median pass time).
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


def one_run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if out.returncode != 0 or len(lines) < 2:
        sys.exit(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return dict(json.loads(lines[-2])["context"], wall_s=wall), json.loads(lines[-1])


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=1)
    p.add_argument("--traced", type=int, default=0)
    p.add_argument("--seed0", type=int, default=1)
    args = p.parse_args(argv)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    workloads = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    seed = args.seed0
    for w in workloads:
        sets = []
        for s in range(args.sets):
            runs = []
            for _ in range(args.runs):
                ctx, res = one_run(w, seed, seconds, 0)
                seed += 1
                runs.append(res)
                print(f"{w} seed={ctx['seed']} wall={ctx['wall_s']:.1f}s "
                      f"correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']} "
                      f"load={ctx['loadavg_start']:.2f}->{ctx['loadavg_end']:.2f} "
                      f"steal={ctx['steal_share']:.3f} "
                      f"warmup_pass_s={[round(x, 2) for x in ctx['warmup_pass_s']]} "
                      f"timed_pass_s={[round(x, 2) for x in ctx['timed_pass_s']]}",
                      flush=True)
            sets.append(runs)
            print(f"\n{w} set {s + 1}: {len(runs)} runs")
            print(f"  {'metric':20} {'unit':>5} {'median':>10} {'q1':>10} {'q3':>10} "
                  f"{'spread':>7} {'bound':>6} {'spread/bound':>12}")
            for name, bound in bounds.items():
                vals = [r["metrics"][name]["value"] for r in runs]
                q1, med, q3 = spread(vals)
                sp = (q3 - q1) / med
                print(f"  {name:20} {units[name]:>5} {med:10.4f} {q1:10.4f} {q3:10.4f} "
                      f"{sp:7.3f} {bound:6.2f} {sp / bound:12.2f}")
        if args.sets > 1:
            print(f"\n{w}: median of each later set against set 1")
            for name, bound in bounds.items():
                base = statistics.median(r["metrics"][name]["value"] for r in sets[0])
                for k, runs in enumerate(sets[1:], 2):
                    med = statistics.median(r["metrics"][name]["value"] for r in runs)
                    print(f"  {name:20} set {k}: {med / base - 1:+.3f} "
                          f"(bound {bound:.2f})")
        if args.traced:
            traced = []
            for _ in range(args.traced):
                ctx, res = one_run(w, seed, seconds, 1)
                seed += 1
                traced.append(res["metrics"]["trace.run_s"]["value"])
            base = statistics.median(
                r["metrics"]["run_s"]["value"] for runs in sets for r in runs)
            med = statistics.median(traced)
            print(f"\n{w}: tracing overhead {med - base:+.4f} s per pass "
                  f"({med / base - 1:+.3f}); traced run_s {med:.4f}, "
                  f"untraced {base:.4f}")
        print(flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
