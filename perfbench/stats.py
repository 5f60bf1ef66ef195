"""The benchmark's arithmetic, kept free of Spark and /proc so that
``test_stats.py`` can check it on synthetic inputs."""

from __future__ import annotations

import math
import statistics

# processes of one run, by what they are: the Python driver the
# workload runs in, the Spark JVM it launched, and the Python workers
# (the pyspark daemon and the UDF / applyInPandasWithState workers it
# forks) that the JVM launched in turn
KINDS = ("driver", "jvm", "pyworker")


def percentile(samples: list[float], q: float) -> float | None:
    """Nearest-rank ``q``-th percentile, or None when fewer than ten
    samples lie above it: a tail figure resting on a handful of samples
    is one slow query, not a percentile."""
    n = len(samples)
    if n == 0 or n * (100.0 - q) / 100.0 < 10:
        return None
    ordered = sorted(samples)
    return ordered[max(0, math.ceil(q * n / 100.0) - 1)]


def spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``), the steadiness figure
    a metric's bound is compared with."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: the span's duration minus the part of its
    interval that its children cover.  Overlapping children are merged
    and clipped to the parent first, so concurrent children are not
    subtracted twice and a child that outlives its parent takes away
    only the overlap."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(
                (s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_lo = cur_hi = None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def by_kind(procs: list[dict], root: int, field: str) -> dict[str, float]:
    """Sum of ``field`` over the process tree under ``root``, split by
    kind.  ``procs`` holds one dict per live process with ``pid``,
    ``ppid``, ``name`` (the kernel's comm) and the field.  ``root`` is
    the Python driver; a descendant named like ``java`` is the JVM;
    every other descendant is a Python worker."""
    by_parent: dict[int, list[dict]] = {}
    for p in procs:
        by_parent.setdefault(p["ppid"], []).append(p)
    out = dict.fromkeys(KINDS, 0.0)
    todo = [p for p in procs if p["pid"] == root]
    while todo:
        p = todo.pop()
        if p["pid"] == root:
            kind = "driver"
        elif "java" in p["name"]:
            kind = "jvm"
        else:
            kind = "pyworker"
        out[kind] += p[field]
        todo.extend(by_parent.get(p["pid"], []))
    return out


def cpu_by_kind(procs: list[dict], root: int) -> dict[str, float]:
    """CPU seconds by kind, from each process's ``cpu_s``: its own user
    and system time plus that of its reaped children.  A worker reaped
    between two snapshots moves its time into its parent's
    reaped-children total, and that parent (the pyspark daemon) is a
    worker too, so deltas between snapshots stay whole."""
    return by_kind(procs, root, "cpu_s")


def rss_by_kind(procs: list[dict], root: int) -> dict[str, float]:
    """Resident bytes by kind, from each process's ``rss_bytes``."""
    return by_kind(procs, root, "rss_bytes")


def kind_delta(before: dict[str, float],
               after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in KINDS}


def failed_count(runs: dict[str, int], errors: dict[str, int],
                 mismatched: set[str]) -> int:
    """Executions that failed: every one that raised, plus every
    non-raising execution of a query whose checked output differed from
    its oracle (each of them returned the same wrong answer)."""
    return (sum(errors.values())
            + sum(runs[n] - errors.get(n, 0) for n in mismatched))


def error_rate(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no query was attempted")
    return failed / attempted


def frames_match(spark_df, oracle_df) -> bool:
    """The driver-style compare of ``tools/rehearse.py``: same column
    names, same row count, and equal cells after sorting both frames by
    every column and rendering each cell as a string (so an int64 cell
    does not equal a float64 one)."""
    cols_s, cols_o = sorted(spark_df.columns), sorted(oracle_df.columns)
    if cols_s != cols_o or len(spark_df) != len(oracle_df):
        return False
    a = spark_df[cols_s].sort_values(cols_s).reset_index(drop=True)
    b = oracle_df[cols_o].sort_values(cols_o).reset_index(drop=True)
    return all((a[c].astype(str).values == b[c].astype(str).values).all()
               for c in cols_s)
