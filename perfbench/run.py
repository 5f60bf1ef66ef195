#!/usr/bin/env python3
"""FSQL-on-Spark benchmark: plan, batch and stream workloads.

    python3 perfbench/run.py [--workload plan|batch|stream|all] [--seed N]
                             [--seconds S] [--trace 0|1]

Each workload runs in a fresh process (``workload.py``) against the
driver contract on the seed-42 sf0.1 testdata.  This process watches
that process tree from outside (peak resident memory), makes sure every
process of it has ended, turns the measurements into metrics, prints
each metric with its unit, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer
ones.  Details and spans go to ``.perfbench/results/``; see README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import procfs
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("plan", "batch", "stream")

# a run that takes longer than this is killed and reported as failed
RUN_DEADLINE_S = 150.0

# Known engine defects, counted as failed operations (so error_rate
# shows them) but not as a broken benchmark: the engine fix belongs to
# its own change, and dropping the query would hide the defect.
KNOWN_MISMATCHES = {
    "s04_stream_delta_window":
        "engine returns 15,360 rows where the oracle has 15,361",
}

# the end-to-end metrics BENCHMARK.json gates on; peak_rss_mb,
# query_p90_ms and error_rate are printed beside them (see README.md)
E2E_UNITS = {"setup_s": "s", "first_pass_s": "s", "steady_qps": "1/s",
             "query_p50_ms": "ms", "cpu_s_per_query": "s"}


def layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_share"):
        return "share"
    return "count"


def run_child(workload: str, seed: int, seconds: float, trace: int,
              results: str) -> dict:
    """Run one workload in a fresh process; returns its raw measurements,
    with the resident memory (MB) of its process tree, by kind, at the
    tree's peak over set-up and the timed passes."""
    work = os.path.join(ROOT, ".perfbench",
                        f"work-{workload}-{seed}-{trace}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "raw.json")
    done = os.path.join(work, "passes-done")
    log_path = os.path.join(work, "child.log")
    ncpu = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    # the Python workers import flink_dsl_spark, so the repo root must be
    # on their path; everything Spark and Python write goes under `work`
    env.update({
        "PYTHONPATH": ROOT,
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS":
            f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
    })
    cmd = [sys.executable, os.path.join(HERE, "workload.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--out", out, "--passes-done", done,
           "--oracle-cache", os.path.join(ROOT, ".perfbench", "oracles"),
           "--spans", os.path.join(
               results, f"{workload}-seed{seed}-spans.json")]
    seen: set[tuple[int, int]] = set()
    peak = dict.fromkeys(stats.KINDS, 0)
    try:
        with open(log_path, "w") as log:
            env["PERFBENCH_SPAWN_T"] = repr(time.monotonic())
            child = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                     stderr=subprocess.STDOUT)
            deadline = time.monotonic() + RUN_DEADLINE_S
            while child.poll() is None:
                members = procfs.tree(procfs.read_procs(), child.pid)
                seen.update((p["pid"], p["start"]) for p in members)
                if not os.path.exists(done):
                    rss = stats.rss_by_kind(members, child.pid)
                    if sum(rss.values()) > sum(peak.values()):
                        peak = rss
                if time.monotonic() > deadline:
                    child.kill()
                    child.wait()
                    break
                time.sleep(0.2)
        _reap(seen)
        if child.returncode != 0:
            with open(log_path) as f:
                tail = f.readlines()[-40:]
            sys.stderr.write("".join(tail))
            raise RuntimeError(
                f"{workload} run exited with code {child.returncode}")
        with open(out) as f:
            raw = json.load(f)
        raw["run_wall_s"] = time.monotonic() - float(env["PERFBENCH_SPAWN_T"])
        raw["peak_rss_mb"] = {k: v / 2**20 for k, v in peak.items()}
        return raw
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _reap(seen: set[tuple[int, int]]) -> None:
    """Wait for every process the run started to end; kill what is left
    after a grace period.  A (pid, start time) pair tells a process we
    saw from a later one that reused its pid."""
    def alive():
        return [p["pid"] for p in procfs.read_procs()
                if (p["pid"], p["start"]) in seen]

    deadline = time.monotonic() + 20
    while alive() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while alive():
        time.sleep(0.1)


def summarize(raw: dict) -> dict:
    passes = raw["passes"]
    steady = passes[1:]
    runs: dict[str, int] = {}
    errors: dict[str, int] = {}
    for p in passes:
        for q in p["queries"]:
            runs[q["name"]] = runs.get(q["name"], 0) + 1
            if "error" in q:
                errors[q["name"]] = errors.get(q["name"], 0) + 1
    mismatched = {n for n, c in raw["check"].items() if not c["ok"]}
    attempted = sum(runs.values())
    failed = stats.failed_count(runs, errors, mismatched)
    unexpected = sorted((mismatched - set(KNOWN_MISMATCHES)) | set(errors))

    ms = [q["ms"] for p in steady for q in p["queries"] if "ms" in q]
    # rates are medians over the steady passes, so one pass that ran
    # into a burst of host load does not set the run's figure
    e2e = {
        "setup_s": raw["setup"]["setup_s"],
        "first_pass_s": passes[0]["wall_s"],
        "steady_qps": statistics.median(
            sum("ms" in q for q in p["queries"]) / p["wall_s"]
            for p in steady),
        "query_p50_ms": statistics.median(ms) if ms else float("nan"),
        "cpu_s_per_query": statistics.median(
            sum(p["cpu_s"].values()) / len(p["queries"]) for p in steady),
    }
    peak_rss_mb = sum(raw["peak_rss_mb"].values())

    layers: dict[str, float] = {}
    traced = [q["layers"] for p in steady for q in p["queries"]
              if "layers" in q]
    if traced:
        for k in traced[0]:
            layers[k] = sum(t[k] for t in traced) / len(steady)
        busy = layers["exec.wall_ms"] * raw["ncpu"]
        layers["exec.core_busy_share"] = (
            layers["exec.task_run_ms"] / busy if busy else 0.0)
        for kind in stats.KINDS:
            layers[f"cpu.{kind}_s"] = sum(
                p["cpu_s"][kind] for p in steady) / len(steady)
        layers["setup.session_s"] = raw["setup"]["session_s"]
        layers["setup.register_s"] = raw["setup"]["register_s"]
        layers["mem.peak_rss_mb"] = peak_rss_mb
        for kind in stats.KINDS:
            layers[f"mem.{kind}_rss_mb"] = raw["peak_rss_mb"][kind]

    return {
        "correct": not unexpected,
        "attempted": attempted,
        "failed": failed,
        "unexpected_failures": unexpected,
        "mismatched": {n: raw["check"][n] for n in sorted(mismatched)},
        "errors": {q["name"]: q["error"] for p in passes
                   for q in p["queries"] if "error" in q},
        "end_to_end": e2e,
        "peak_rss_mb": peak_rss_mb,
        "query_p90_ms": stats.percentile(ms, 90),
        "steady_samples": len(ms),
        "error_rate": stats.error_rate(attempted, failed),
        "per_layer": layers,
        "host": {
            "steal_s": [p["steal_s"] for p in passes],
            "ambient_cores": [(p["ambient"] or {}).get("ambient_cores")
                              for p in passes],
            "pass_wall_s": [p["wall_s"] for p in passes],
            "pass_cpu_s": [sum(p["cpu_s"].values()) for p in passes],
        },
    }


def span_self_ms(path: str) -> dict[str, float]:
    """Self time per span name over the steady passes, in ms."""
    with open(path) as f:
        spans = json.load(f)
    by_id = {s["id"]: s for s in spans}

    def pass_of(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return s["attrs"]["pass_index"]

    out: dict[str, float] = {}
    for sid, t in stats.self_times(spans).items():
        s = by_id[sid]
        if pass_of(s) >= 1:
            out[s["name"]] = out.get(s["name"], 0.0) + t * 1000.0
    return out


def report(workload: str, seed: int, trace: int, summ: dict,
           raw: dict) -> None:
    host = summ["host"]
    print(f"== {workload}  seed={seed}  trace={trace}  "
          f"queries/pass={len(raw['queries'])}  "
          f"passes=1 cold + {len(raw['passes']) - 1} steady")
    for k, v in summ["end_to_end"].items():
        print(f"  {k:<20} {v:12.4f} {E2E_UNITS[k]}")
    print(f"  {'peak_rss_mb':<20} {summ['peak_rss_mb']:12.4f} MB")
    p90 = summ["query_p90_ms"]
    print(f"  {'query_p90_ms':<20} "
          + (f"{p90:12.4f} ms" if p90 is not None else
             f"{'n/a':>12}    (needs 100 steady samples, "
             f"has {summ['steady_samples']})"))
    print(f"  {'error_rate':<20} {summ['error_rate']:12.4f} share  "
          f"({summ['failed']} of {summ['attempted']} executions)")
    for name, c in summ["mismatched"].items():
        why = KNOWN_MISMATCHES.get(name, "UNEXPECTED")
        print(f"    mismatch {name}: {c.get('rows')} rows vs oracle "
              f"{c.get('oracle_rows')} ({why})")
    for name, err in summ["errors"].items():
        print(f"    error {name}: {err}")
    print("  host: pass wall s " + _fmt(host["pass_wall_s"])
          + " | pass cpu s " + _fmt(host["pass_cpu_s"])
          + " | steal s " + _fmt(host["steal_s"])
          + " | ambient cores " + _fmt(host["ambient_cores"]))
    print(f"  run wall {raw['run_wall_s']:.1f} s, "
          f"check {raw['check_s']:.1f} s")
    for k, v in summ["per_layer"].items():
        print(f"  {k:<28} {v:16.4f} {layer_unit(k)}")
    for k, v in summ.get("span_self_ms_per_steady_pass", {}).items():
        print(f"  self time of {k + ' spans':<15} {v:16.4f} ms per pass")


def _fmt(xs) -> str:
    return " ".join("-" if x is None else f"{x:.2f}" for x in xs)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all",
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    args = ap.parse_args()

    missing = [p for p in ("__spark_entry__.py", "bench.py",
                           "flink_dsl_spark", "tools/rehearse.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.stderr.write("perfbench: not inside the repository (missing "
                         + ", ".join(missing) + ")\n")
        return 2
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)

    names = WORKLOADS if args.workload == "all" else (args.workload,)
    final = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in names:
        try:
            raw = run_child(w, args.seed, args.seconds, args.trace,
                            results)
        except (RuntimeError, OSError, ValueError) as ex:
            sys.stderr.write(f"perfbench: {ex}\n")
            return 1
        summ = summarize(raw)
        spans = os.path.join(results, f"{w}-seed{args.seed}-spans.json")
        if args.trace:
            summ["span_self_ms_per_steady_pass"] = {
                k: v / (len(raw["passes"]) - 1)
                for k, v in span_self_ms(spans).items()}
        report(w, args.seed, args.trace, summ, raw)
        with open(os.path.join(
                results, f"{w}-seed{args.seed}-trace{args.trace}.json"),
                "w") as f:
            json.dump({"summary": summ, "raw": raw}, f)
        chosen = summ["per_layer"] if args.trace else summ["end_to_end"]
        units = layer_unit if args.trace else E2E_UNITS.get
        prefix = "" if len(names) == 1 else f"{w}."
        final["correct"] &= summ["correct"]
        final["attempted"] += summ["attempted"]
        final["failed"] += summ["failed"]
        final["metrics"].update({
            prefix + k: {"value": v, "unit": units(k)}
            for k, v in chosen.items()})
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
