"""One run of one workload, in the fresh process ``run.py`` starts.

Sets up the driver contract (session, ``FsqlEngine``, ``load_dir``),
runs one cold pass and then whole steady passes until ``--seconds`` have
passed, one query at a time, checks the last pass against the DuckDB
oracles, and writes what it measured to ``--out`` as JSON.  ``run.py``
turns that into metrics.  With ``--trace 1`` it also reads each query's
layers from outside: the engine's phase timer, Spark's job groups and
status store, Catalyst's phase tracker and a StreamingQueryListener.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import sys
import time
from datetime import datetime

import procfs
import stats
from spans import Tracer

STREAM_QUERIES = ["s01_stream_time_window", "s02_stream_count_window",
                  "s04_stream_delta_window", "s11_stream_running_over",
                  "s13_stream_lag"]

# durationMs keys of a streaming progress event, by layer metric
STREAM_DURATIONS = {"stream.trigger_ms": "triggerExecution",
                    "stream.add_batch_ms": "addBatch",
                    "stream.query_planning_ms": "queryPlanning",
                    "stream.wal_commit_ms": "walCommit",
                    "stream.commit_offsets_ms": "commitOffsets"}

EXEC_COUNTS = ("exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms",
               "exec.task_cpu_ms", "exec.gc_ms", "exec.shuffle_write_bytes",
               "exec.shuffle_read_bytes", "exec.spill_bytes")


def query_names(workload: str, entry, bench) -> list[str]:
    if workload == "plan":
        return list(entry._FSQL)
    if workload == "batch":
        return [n for n in bench.HEADLINE if not re.match(r"s\d", n)]
    return list(STREAM_QUERIES)


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Run:
    def __init__(self, args, spark, eng, entry, bench):
        self.args = args
        self.spark = spark
        self.sc = spark.sparkContext
        self.eng = eng
        self.sf = bench.SF_DIR
        self.bench = bench
        self.fns = entry.queries()
        self.names = query_names(args.workload, entry, bench)
        self.tracer = Tracer() if args.trace else None
        self.listener = None
        self.seq = 0
        if self.tracer is not None and args.workload == "stream":
            self.listener = _progress_listener()
            spark.streams.addListener(self.listener)

    # -- one query -----------------------------------------------------

    def query(self, name: str, pass_index: int) -> tuple[dict, object]:
        """Run one query; returns its record and its result (the plan's
        DataFrame, the collected pandas frame, or the stream's sink)."""
        self.seq += 1
        traced = self.tracer is not None
        kind = self.args.workload
        rec = {"name": name, "pass": pass_index}
        if traced:
            phases0 = dict(self.eng.timer.phases)
            n_started = len(self.listener.started) if self.listener else 0
            n_progress = len(self.listener.progress) if self.listener else 0
            build_group = f"perfbench-{self.seq}-build"
            self.sc.setJobGroup(build_group, name)
        w0 = time.time()
        t0 = time.perf_counter()
        df = self.fns[name](self.spark, self.sf)
        w1 = time.time()
        if kind != "stream":
            qe = df._jdf.queryExecution()
            qe.executedPlan()
        t2 = time.perf_counter()
        w2 = time.time()
        result = df
        if kind == "batch":
            if traced:
                exec_group = f"perfbench-{self.seq}-exec"
                self.sc.setJobGroup(exec_group, name)
            result = df.toPandas()
        t3 = time.perf_counter()
        w3 = time.time()
        rec["ms"] = (t3 - t0) * 1000.0
        if not traced:
            return rec, result

        # everything below is read after the query's clock stopped
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        layers = dict.fromkeys(LAYER_KEYS, 0.0)
        ph = self.eng.timer.phases
        for key, phase in (("parser.parse_ms", "parse"),
                           ("resolver.resolve_ms", "resolve"),
                           ("planner.plan_ms", "plan")):
            layers[key] = ph.get(phase, 0.0) - phases0.get(phase, 0.0)
        eager = self._jobs(self.sc.statusTracker()
                           .getJobIdsForGroup(build_group))
        layers["planner.eager_jobs"] = eager["exec.jobs"]
        layers["planner.eager_job_ms"] = eager["job_ms"]
        if kind != "stream":
            tracked = qe.tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                opt = tracked.get(phase)
                if opt.isDefined():
                    layers[f"catalyst.{phase}_ms"] = float(
                        opt.get().durationMs())
        q_id = self.tracer.add("query", None, w0, w3, query=name,
                               pass_index=pass_index)
        call_id = self.tracer.add(
            "engine_call", q_id, w0, w1,
            **{k: layers[k] for k in ("parser.parse_ms",
                                      "resolver.resolve_ms",
                                      "planner.plan_ms",
                                      "planner.eager_jobs",
                                      "planner.eager_job_ms")})
        if kind != "stream":
            self.tracer.add("catalyst", q_id, w1, w2,
                            **{k: layers[k] for k in layers
                               if k.startswith("catalyst.")})
        if kind == "batch":
            ex = self._jobs(self.sc.statusTracker()
                            .getJobIdsForGroup(exec_group))
            layers["exec.wall_ms"] = (t3 - t2) * 1000.0
            self.tracer.add("exec", q_id, w2, w3,
                            **{k: ex[k] for k in EXEC_COUNTS})
        elif kind == "stream":
            ex = self._stream(layers, call_id, n_started, n_progress)
        else:
            ex = self._jobs([])
        for k in EXEC_COUNTS:
            layers[k] = ex[k]
        rec["layers"] = layers
        return rec, result

    def _jobs(self, job_ids) -> dict:
        """Job count, summed job wall time and per-stage task metrics of
        the given jobs, from the status store (filled with the UI off)."""
        out = dict.fromkeys(EXEC_COUNTS, 0.0)
        out["job_ms"] = 0.0
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            out["exec.jobs"] += 1
            job = store.job(j)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_ms"] += (done.get().getTime()
                                  - sub.get().getTime())
            for s in info.stageIds:
                st = store.lastStageAttempt(s)
                if st.status().toString() == "SKIPPED":
                    continue
                out["exec.stages"] += 1
                out["exec.tasks"] += st.numCompleteTasks()
                out["exec.task_run_ms"] += st.executorRunTime()
                out["exec.task_cpu_ms"] += st.executorCpuTime() / 1e6
                out["exec.gc_ms"] += st.jvmGcTime()
                out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
                out["exec.spill_bytes"] += st.diskBytesSpilled()
        return out

    def _stream(self, layers: dict, call_id: int, n_started: int,
                n_progress: int) -> dict:
        """Stream layers of the streams this query started: the
        progress events the listener got, and the micro-batch jobs,
        which Spark runs in a job group named after the stream's run id.
        Each micro-batch becomes an ``exec`` span under the engine
        call."""
        started = self.listener.started[n_started:]
        progress = self.listener.progress[n_progress:]
        runs = {run for run, _ in started}
        ex = self._jobs([j for run in runs for j in
                         self.sc.statusTracker().getJobIdsForGroup(run)])
        first_trigger: dict[str, float] = {}
        last: dict[str, object] = {}
        for p in progress:
            run = str(p.runId)
            start = _epoch(p.timestamp)
            first_trigger.setdefault(run, start)
            last[run] = p
            d = p.durationMs
            layers["stream.batches"] += 1
            layers["stream.input_rows"] += p.numInputRows
            for key, field in STREAM_DURATIONS.items():
                layers[key] += d.get(field, 0)
            layers["stream.state_commit_ms"] += sum(
                o.commitTimeMs for o in p.stateOperators)
            self.tracer.add("exec", call_id, start,
                            start + d.get("triggerExecution", 0) / 1000.0,
                            batch_id=p.batchId, input_rows=p.numInputRows)
        for p in last.values():
            layers["stream.state_rows"] += sum(
                o.numRowsTotal for o in p.stateOperators)
            layers["stream.state_memory_bytes"] += sum(
                o.memoryUsedBytes for o in p.stateOperators)
        for run, ts in started:
            if run in first_trigger:
                layers["stream.start_ms"] += (
                    (first_trigger[run] - _epoch(ts)) * 1000.0)
        layers["exec.wall_ms"] = layers["stream.trigger_ms"]
        return ex

    # -- passes --------------------------------------------------------

    def one_pass(self, index: int) -> tuple[dict, dict]:
        """Every query once, in an order drawn from the seed and the
        pass number.  Returns the pass record and the pass's results."""
        order = random.Random(f"{self.args.seed}/{index}").sample(
            self.names, len(self.names))
        before = stats.cpu_by_kind(procfs.read_procs(), os.getpid())
        amb0 = self.bench._cpu_snapshot()
        steal0 = procfs.steal_s()
        t0 = time.perf_counter()
        recs, results = [], {}
        for name in order:
            try:
                rec, results[name] = self.query(name, index)
            except Exception as ex:  # noqa: BLE001 — counted, not fatal
                rec = {"name": name, "pass": index,
                       "error": f"{type(ex).__name__}: {ex}"[:500]}
            recs.append(rec)
        wall = time.perf_counter() - t0
        after = stats.cpu_by_kind(procfs.read_procs(), os.getpid())
        return ({"index": index, "wall_s": wall,
                 "cpu_s": stats.kind_delta(before, after),
                 "steal_s": procfs.steal_s() - steal0,
                 "ambient": self.bench._ambient_cores(
                     amb0, self.bench._cpu_snapshot()),
                 "queries": recs}, results)

    def sinks(self) -> set[str]:
        """Memory-sink views the stream queries left behind."""
        if self.args.workload != "stream":
            return set()
        return {t.name for t in self.spark.catalog.listTables()
                if t.name.startswith("entry_sink")}

    def drop(self, views: set[str]) -> None:
        for v in views:
            self.spark.catalog.dropTempView(v)

    def check(self, results: dict) -> dict:
        """Compare the last pass's outputs with the DuckDB oracles."""
        import duckdb

        import __spark_entry__ as entry
        from tools.rehearse import TABLES

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"create view {t} as select * from "
                    f"'{self.sf}/{t}.parquet'")
        cache = OracleCache(self.args.oracle_cache, self.sf, TABLES)
        out = {}
        for name, res in results.items():
            if self.args.workload == "plan":
                # nothing ran: the output is the plan, checked by its
                # column names
                want = con.sql(oracles[name]).columns
                out[name] = {"ok": sorted(res.columns) == sorted(want),
                             "columns": res.columns}
                continue
            try:
                got = (res if self.args.workload == "batch"
                       else res.toPandas())
                want = cache.get(oracles[name],
                                 lambda sql=oracles[name]: con.sql(sql).df())
            except Exception as ex:        # noqa: BLE001 — a failed check
                out[name] = {"ok": False,
                             "error": f"{type(ex).__name__}: {ex}"[:500]}
                continue
            out[name] = {"ok": stats.frames_match(got, want),
                         "rows": len(got), "oracle_rows": len(want)}
        con.close()
        return out


class OracleCache:
    """Oracle answers kept on disk between runs of one checkout.

    The testdata is a fixed corpus, so an oracle's answer changes only
    with its SQL or its input files; both are in the key.  Without it
    every batch run would spend about a minute in DuckDB on llm03's
    all-pairs Jaccard oracle.  Entries are pickles this program wrote
    itself (pickle keeps the pandas dtypes the compare is strict on)."""

    def __init__(self, path: str, sf_dir: str, tables: list[str]):
        import hashlib
        self.path = path
        os.makedirs(path, exist_ok=True)
        h = hashlib.sha256()
        for t in tables:
            st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
            h.update(f"{t}:{st.st_size}:{st.st_mtime_ns};".encode())
        self.inputs = h.hexdigest()

    def get(self, sql: str, compute):
        import hashlib
        import pickle
        key = hashlib.sha256((self.inputs + sql).encode()).hexdigest()
        f = os.path.join(self.path, key + ".pkl")
        if os.path.exists(f):
            with open(f, "rb") as fh:
                return pickle.load(fh)
        df = compute()
        with open(f + ".tmp", "wb") as fh:
            pickle.dump(df, fh)
        os.replace(f + ".tmp", f)
        return df


LAYER_KEYS = (
    "parser.parse_ms", "resolver.resolve_ms", "planner.plan_ms",
    "planner.eager_jobs", "planner.eager_job_ms",
    "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "exec.wall_ms") + EXEC_COUNTS + (
    "stream.batches", "stream.input_rows") + tuple(STREAM_DURATIONS) + (
    "stream.state_rows", "stream.state_memory_bytes",
    "stream.state_commit_ms", "stream.start_ms")


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.started: list[tuple[str, str]] = []
            self.progress: list = []

        def onQueryStarted(self, event):
            self.started.append((str(event.runId), event.timestamp))

        def onQueryProgress(self, event):
            self.progress.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["plan", "batch", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", required=True)
    ap.add_argument("--oracle-cache", required=True)
    ap.add_argument("--passes-done", required=True,
                    help="file created once the timed passes end")
    args = ap.parse_args()
    spawn_t = float(os.environ["PERFBENCH_SPAWN_T"])

    import __spark_entry__ as entry
    import bench
    from flink_dsl_spark import get_session

    t0 = time.monotonic()
    spark = get_session()
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.monotonic()
    # the engine queries() wraps; creating it here times registration
    eng = entry._engine(spark, bench.SF_DIR)
    t2 = time.monotonic()
    setup = {"setup_s": t2 - spawn_t, "session_s": t1 - t0,
             "register_s": t2 - t1}

    run = Run(args, spark, eng, entry, bench)
    passes = []
    # each pass's sink views are dropped after the next pass; the last
    # pass's after the check has read them
    latest: set[str] = set()
    steady0 = None
    while steady0 is None or time.perf_counter() - steady0 < args.seconds:
        rec, results = run.one_pass(len(passes))
        passes.append(rec)
        views = run.sinks()
        run.drop(latest)
        latest = views - latest
        if steady0 is None:
            steady0 = time.perf_counter()
    open(args.passes_done, "w").close()

    t_check = time.perf_counter()
    checked = run.check(results)
    check_s = time.perf_counter() - t_check
    run.drop(latest)
    with open(args.out, "w") as f:
        json.dump({"setup": setup,
                   "ncpu": spark.sparkContext.defaultParallelism,
                   "queries": run.names, "passes": passes,
                   "check": checked, "check_s": check_s}, f)
    if run.tracer is not None:
        run.tracer.write(args.spans)
    _shutdown(spark)
    return 0


def _shutdown(spark) -> None:
    """Stop Spark and wait for its JVM: closing the gateway's stdin is
    the JVM's signal to exit."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(60)


if __name__ == "__main__":
    sys.exit(main())
