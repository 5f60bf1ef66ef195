"""Data-encoding differential tests: the same events must produce the
same window/temporal results no matter which parquet timestamp encoding
the driver ships (VERDICT r3 item 5 — the nanos→micros flip was a silent
driver-side change that took down 8 green queries; only an encoding fuzz
catches the next one).

Axes covered: unit in {ns, us, ms} × timezone in {None (NTZ-shaped),
UTC (LTZ-shaped)}.  The ns/no-tz cell is the r1-r2 nanosAsLong path,
the us/no-tz cell is the r3 TIMESTAMP_NTZ path, us/UTC is the classic
LTZ encoding every path was originally built against.
"""

import os
import shutil
import tempfile

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flink_dsl_spark import FsqlEngine

from .conftest import normalize

# (pyarrow unit, pyarrow tz) — every cell a driver could plausibly ship
ENCODINGS = [("us", "UTC"),      # reference cell: classic LTZ
             ("us", None),       # r3 testdata: loads as TIMESTAMP_NTZ
             ("ns", None),       # r1-r2 testdata: nanosAsLong path
             ("ns", "UTC"),
             ("ms", None)]


def _write_events(rows, unit, tz, dirpath):
    """Write (event_id, ts_micros, user_id, event_type, value) rows as
    an events-shaped parquet with the requested timestamp encoding."""
    ids, micros, users, types, values = zip(*rows)
    # ms cells would silently truncate sub-ms micros — keep the data
    # exactly representable in every encoding under test instead
    assert all(m % 1000 == 0 for m in micros)
    ts = pa.array(list(micros), type=pa.timestamp("us", tz="UTC")) \
        .cast(pa.timestamp(unit, tz=tz))
    table = pa.table({
        "event_id": pa.array(ids, type=pa.int64()),
        "ts": ts,
        "user_id": pa.array(users, type=pa.int64()),
        "event_type": pa.array(types, type=pa.string()),
        "value": pa.array(values, type=pa.float64()),
    })
    path = os.path.join(dirpath, f"events_{unit}_{tz or 'naive'}.parquet")
    pq.write_table(table, path, version="2.6")
    return path


HOUR = 3600 * 10**6
# boundary-heavy deterministic rows: window edges, ±1ms around them,
# multi-user, out-of-order arrival
_BASE = 1_700_000_000 * 10**6
_DET_ROWS = [
    (i, t, u, e, float(v))
    for i, (t, u, e, v) in enumerate([
        (_BASE, 1, "click", 1.5),
        (_BASE + 1000, 1, "click", 2.0),          # +1ms
        (_BASE + HOUR - 1000, 1, "view", 3.0),    # last ms of hour 0
        (_BASE + HOUR, 2, "view", 4.0),           # exact boundary
        (_BASE + HOUR + 1000, 2, "purchase", 5.0),
        (_BASE + 2 * HOUR, 1, "purchase", 6.0),
        (_BASE + 30 * 60 * 10**6, 2, "click", 7.0),
        (_BASE + 90 * 60 * 10**6, 1, "click", 8.0),
        (_BASE - HOUR, 2, "view", 9.0),           # earlier than base
        (_BASE + 5 * HOUR, 1, "view", 10.0),      # gap -> new session
    ])
]


def _engine_for(spark, path, name):
    eng = FsqlEngine(spark)
    eng.register_parquet(name, path, event_time_col="ts")
    return eng


def _batch_results(spark, path):
    """Window/temporal results for one encoding, normalized."""
    eng = _engine_for(spark, path, "ev")
    out = {}
    out["tumbling"] = normalize(eng.sql(
        "select event_type, count(*) as cnt, round(sum(value), 2) as sv "
        "from ev [size 1 h on ts] group by event_type").toPandas())
    out["sliding"] = normalize(eng.sql(
        "select user_id, count(*) as cnt "
        "from ev [size 2 h on ts every 1 h] group by user_id").toPandas())
    out["session"] = normalize(eng.sql(
        "select user_id, count(*) as n "
        "from ev [session 30 min on ts] group by user_id").toPandas())
    out["count_window"] = normalize(eng.sql(
        "select user_id, count(*) as cnt from ev [size 3] "
        "group by user_id").toPandas())

    from flink_dsl_spark.temporal import asof_join, rollup_timeseries
    ev = eng.catalog.get("ev")
    clicks = ev.filter("event_type = 'click'") \
               .selectExpr("user_id", "event_id as click_id", "ts")
    views = ev.filter("event_type = 'view'") \
              .selectExpr("user_id", "event_id as view_id", "ts", "value")
    out["asof"] = normalize(
        asof_join(clicks, views, by="user_id", left_on="ts",
                  right_on="ts")
        .selectExpr("user_id", "click_id", "view_id").toPandas())
    out["rollup"] = normalize(
        rollup_timeseries(ev, "ts", "event_type",
                          [("count", "*", "n"), ("sum", "value", "v")],
                          granularities_sec=[3600, 7200]).toPandas())
    return out


def _stream_result(spark, path, name):
    """Streaming tumbling time window (watermark + availableNow)."""
    eng = FsqlEngine(spark)
    eng.register_stream_parquet(name, path, event_time_col="ts")
    out = eng.sql(f"select event_type, count(*) as cnt "
                  f"from {name} [size 1 h on ts] group by event_type")
    q = (out.writeStream.format("memory").queryName(f"__enc_{name}")
         .outputMode("complete").trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    return normalize(spark.sql(f"select * from __enc_{name}").toPandas())


def test_batch_results_identical_across_encodings(spark):
    d = tempfile.mkdtemp(prefix="enc_det_")
    try:
        paths = {(u, z): _write_events(_DET_ROWS, u, z, d)
                 for u, z in ENCODINGS}
        ref = _batch_results(spark, paths[("us", "UTC")])
        for (u, z), p in paths.items():
            if (u, z) == ("us", "UTC"):
                continue
            got = _batch_results(spark, p)
            for op in ref:
                pd.testing.assert_frame_equal(
                    got[op], ref[op], check_dtype=False,
                    obj=f"{op} @ {u}/{z or 'naive'}")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_window_identical_across_encodings(spark):
    # the streaming stack (schema inference + watermark) is where the
    # r3 regression actually crashed — cover the NTZ-shaped and
    # nanos-shaped cells against the LTZ reference
    d = tempfile.mkdtemp(prefix="enc_stream_")
    try:
        cells = [("us", "UTC"), ("us", None), ("ns", None)]
        results = {}
        for u, z in cells:
            p = _write_events(_DET_ROWS, u, z, d)
            results[(u, z)] = _stream_result(spark, p,
                                             f"ev_{u}_{z or 'naive'}")
        ref = results[("us", "UTC")]
        for cell, got in results.items():
            pd.testing.assert_frame_equal(
                got, ref, check_dtype=False,
                obj=f"stream @ {cell[0]}/{cell[1] or 'naive'}")
    finally:
        shutil.rmtree(d, ignore_errors=True)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(st.lists(
    st.tuples(st.integers(0, 6 * 3600),       # offset seconds
              st.integers(0, 999),            # extra millis
              st.integers(1, 3),              # user
              st.sampled_from(["click", "view"]),
              st.integers(-50, 50)),
    min_size=1, max_size=40))
def test_fuzz_window_aggs_encoding_invariant(spark, events):
    """Random event sets: tumbling + session aggregates agree between
    the us/UTC, us/naive and ns/naive parquet encodings."""
    rows = [(i, _BASE + (s * 1000 + ms) * 1000, u, e, float(v))
            for i, (s, ms, u, e, v) in enumerate(events)]
    d = tempfile.mkdtemp(prefix="enc_fuzz_")
    try:
        ref = None
        for unit, tz in [("us", "UTC"), ("us", None), ("ns", None)]:
            p = _write_events(rows, unit, tz, d)
            eng = _engine_for(spark, p, "fz")
            tumb = normalize(eng.sql(
                "select user_id, count(*) as cnt, sum(value) as sv "
                "from fz [size 30 min on ts] group by user_id")
                .toPandas())
            sess = normalize(eng.sql(
                "select user_id, count(*) as n "
                "from fz [session 10 min on ts] group by user_id")
                .toPandas())
            if ref is None:
                ref = (tumb, sess)
            else:
                pd.testing.assert_frame_equal(tumb, ref[0],
                                              check_dtype=False)
                pd.testing.assert_frame_equal(sess, ref[1],
                                              check_dtype=False)
    finally:
        shutil.rmtree(d, ignore_errors=True)
