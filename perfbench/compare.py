#!/usr/bin/env python3
"""Steadiness and tracing-overhead check for the benchmark.

    python3 perfbench/compare.py [--workloads plan,stream] [--seeds 10]
                                 [--seconds S] [--overhead]

Runs ``run.py`` once per workload and seed (seeds 1..N), one run at a
time, and prints for every end-to-end metric its median, quartiles and
spread (distance between the quartiles as a share of the median) next to
the bound ``BENCHMARK.json`` gives it.  With ``--overhead`` each seed is
also run traced, and the tracing overhead is printed as traced minus
untraced medians.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One run; returns its summary as ``run.py`` saved it."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout + proc.stderr)
        raise SystemExit(f"{workload} seed {seed} failed")
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench", "results",
                           f"{workload}-seed{seed}-trace{trace}.json")) as f:
        summ = json.load(f)["summary"]
    summ["final"] = last
    return summ


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    for w in args.workloads.split(","):
        plain, traced = [], []
        for seed in range(1, args.seeds + 1):
            plain.append(run(w, seed, args.seconds, 0))
            print(f"{w} seed {seed}: " + " ".join(
                f"{k}={v:.4g}" for k, v in plain[-1]["end_to_end"].items()),
                flush=True)
            if args.overhead:
                traced.append(run(w, seed, args.seconds, 1))
        print(f"== {w}: {args.seeds} seeds, {args.seconds:g} s runs")
        for k, bound in bounds.items():
            vals = [s["end_to_end"][k] for s in plain]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            verdict = ("ok" if stats.spread(vals) < bound / 3 else
                       "within bound" if stats.spread(vals) < bound else
                       "TOO NOISY")
            print(f"  {k:<16} median {med:12.4f}  q1 {q1:12.4f}  "
                  f"q3 {q3:12.4f}  spread {stats.spread(vals):6.3f}  "
                  f"bound {bound:.2f}  {verdict}")
            if traced:
                t_med = statistics.median(
                    s["end_to_end"][k] for s in traced)
                print(f"  {'':<16} traced median {t_med:12.4f}  "
                      f"overhead {t_med - med:+12.4f} "
                      f"({(t_med - med) / med:+.1%})")
        failed = sorted({s["final"]["failed"] for s in plain})
        print(f"  correct in every run: "
              f"{all(s['final']['correct'] for s in plain)}; "
              f"failed executions per run: {failed}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
