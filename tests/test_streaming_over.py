"""Streaming analytic OVER (r9): per-row running aggregates on an
unbounded stream, routed through the stateful running_agg operator
(planner._plan_streaming_over).  Scope: sum/count/min/max/avg with an
explicit ROWS UNBOUNDED PRECEDING..CURRENT ROW frame, column-or-
expression PARTITION BY / ascending ORDER BY keys (r11); everything
else keeps a clear rejection.  Driver query s11 cross-checks the same path against
DuckDB's cumulative window at both gate SFs.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from flink_dsl_spark import FsqlEngine, PlanError
from flink_dsl_spark.streaming import running_agg

from .conftest import drain_to_memory

T0 = dt.datetime(2026, 1, 1, 0, 0, 0)

_OVER = ("over (partition by user order by ts, event_id "
         "rows between unbounded preceding and current row)")


@pytest.fixture(scope="module")
def src_dir(spark, tmp_path_factory):
    """24 deterministic rows, 2 users, one row per 5 minutes; value
    NULL on every 7th row (null-skipping semantics)."""
    d = str(tmp_path_factory.mktemp("rover_src"))
    rows = [(i, T0 + dt.timedelta(minutes=5 * i), "u%d" % (i % 2),
             None if i % 7 == 6 else float(i + 1), i % 3)
            for i in range(24)]
    df = spark.createDataFrame(
        rows, schema="event_id long, ts timestamp, user string, "
                     "value double, small long")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    return d


def _stream_engine(spark, src_dir):
    schema = ("event_id long, ts timestamp, user string, value double, "
              "small long")
    sdf = spark.readStream.schema(schema).parquet(src_dir)
    eng = FsqlEngine(spark)
    eng.register("ev", sdf)
    return eng


def test_running_over_equals_batch_window(spark, src_dir):
    """The streaming running aggregate must equal the SAME dialect text
    run as a batch analytic window over the same rows — the engine's
    own batch OVER path is the semantics oracle."""
    eng = _stream_engine(spark, src_dir)
    sql = (f"select event_id, sum(value) {_OVER} as rs, "
           f"count(value) {_OVER} as rn, "
           f"count(*) {_OVER} as rstar, "
           f"min(value) {_OVER} as rmn, "
           f"max(value) {_OVER} as rmx, "
           f"avg(value) {_OVER} as rav, "
           f"sum(small) {_OVER} as rsmall from ev")
    out = eng.sql(sql)
    assert out.isStreaming
    sink = drain_to_memory(out)
    got = {r["event_id"]: r for r in
           spark.sql(f"select * from {sink}").collect()}

    beng = FsqlEngine(spark)
    beng.register("ev", spark.read.parquet(src_dir))
    exp = {r["event_id"]: r for r in beng.sql(sql).collect()}
    assert set(got) == set(exp) and len(got) == 24
    for k in exp:
        for c in ("rs", "rn", "rstar", "rmn", "rmx", "rav", "rsmall"):
            assert got[k][c] == exp[k][c], (k, c, got[k], exp[k])
    # dtype parity with the batch window: integral sum stays long
    bt = dict(beng.sql(sql).dtypes)
    st = dict(out.dtypes)
    assert st["rsmall"] == bt["rsmall"] == "bigint"
    assert st["rn"] == bt["rn"] == "bigint"
    assert st["rav"] == bt["rav"] == "double"


def test_running_over_state_across_batches(spark, tmp_path):
    """maxFilesPerTrigger=1 over a multi-file source => several
    micro-batches; the running accumulators must carry across them."""
    schema = "ts timestamp, user string, value double"
    src = tmp_path / "src"
    src.mkdir()
    for b, vals in enumerate([[1, 2, 3], [4, 5], [6]]):
        rows = [(T0 + dt.timedelta(minutes=v), "u", float(v))
                for v in vals]
        spark.createDataFrame(rows, schema=schema).coalesce(1) \
             .write.mode("overwrite").parquet(str(src / f"b{b}"))
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(str(src) + "/*"))
    out = running_agg(sdf, ["user"], [("sum", "value", "rs"),
                                      ("count", None, "rstar")],
                      order_cols=["ts"])
    sink = drain_to_memory(out)
    got = {r["value"]: (r["rs"], r["rstar"]) for r in
           spark.sql(f"select * from {sink}").collect()}
    assert got == {1.0: (1.0, 1), 2.0: (3.0, 2), 3.0: (6.0, 3),
                   4.0: (10.0, 4), 5.0: (15.0, 5), 6.0: (21.0, 6)}


def test_running_sum_nullable_bigint_exact_past_2p53(spark, tmp_path):
    """A NULLable bigint column arrives from Arrow as float64, but the
    RUNNING totals must accumulate in int64: a total past 2^53 stays
    exact where a float64 cumsum would round to the nearest even ulp
    (ADVICE r10 medium).  12_000_000_000_000_001 is not
    float64-representable (ulp is 2 past 2^53); each individual value
    is below 2^53, the documented per-value transfer bound."""
    schema = "ts timestamp, user string, v long"
    vals = [3_000_000_000_000_000, None, 4_000_000_000_000_000,
            5_000_000_000_000_001]
    rows = [(T0 + dt.timedelta(minutes=m), "u", v)
            for m, v in enumerate(vals)]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema=schema).coalesce(1) \
         .write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(schema).parquet(src)
    out = running_agg(sdf, ["user"],
                      [("sum", "v", "rs"), ("min", "v", "rmn"),
                       ("max", "v", "rmx")], order_cols=["ts"])
    sink = drain_to_memory(out)
    got = [(r["rs"], r["rmn"], r["rmx"]) for r in
           spark.sql(f"select * from {sink} order by ts").collect()]
    t3 = 3_000_000_000_000_000
    assert got == [
        (t3, t3, t3),
        (t3, t3, t3),                          # NULL row carries state
        (7_000_000_000_000_000, t3, 4_000_000_000_000_000),
        (12_000_000_000_000_001, t3, 5_000_000_000_000_001),
    ]


def test_running_double_sum_carry_seeds_cumsum(spark, tmp_path):
    """Cross-batch double sums accumulate sequentially FROM the carry
    ((carry+x1)+x2), the same addition order as the batch cumulative
    frame — not batch-local-cumsum-plus-carry, which differs in final
    ulps (ADVICE r10 low).  With batches [1e16] then [1, 1]:
    sequential gives (1e16+1)+1 = 1e16 (half-even at ulp 2); the old
    order gave cumsum([1,1])+1e16 = [1e16, 1e16+2]."""
    schema = "ts timestamp, user string, v double"
    src = tmp_path / "src"
    src.mkdir()
    m = 0
    for b, vals in enumerate([[1e16], [1.0, 1.0]]):
        rows = []
        for v in vals:
            rows.append((T0 + dt.timedelta(minutes=m), "u", float(v)))
            m += 1
        spark.createDataFrame(rows, schema=schema).coalesce(1) \
             .write.mode("overwrite").parquet(str(src / f"b{b}"))
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(str(src) + "/*"))
    out = running_agg(sdf, ["user"], [("sum", "v", "rs")],
                      order_cols=["ts"])
    sink = drain_to_memory(out)
    got = [r["rs"] for r in
           spark.sql(f"select rs from {sink} order by ts").collect()]
    assert got == [1e16, 1e16, 1e16]


def test_streaming_lag_equals_batch_window(spark, src_dir):
    """Streaming lag must equal the SAME dialect text run as a batch
    analytic window — strings with a default, a k=2 numeric lag, and
    a running sum sharing the one stateful pass (r10)."""
    eng = _stream_engine(spark, src_dir)
    sql = ("select event_id, "
           "lag(user, 1, 'none') over (partition by small "
           "order by ts, event_id) as pu, "
           "lag(value, 2) over (partition by small "
           "order by ts, event_id) as pv2, "
           "lag(event_id, 3, -1) over (partition by small "
           "order by ts, event_id) as pid3, "
           "sum(value) over (partition by small order by ts, event_id "
           "rows between unbounded preceding and current row) as rs "
           "from ev")
    out = eng.sql(sql)
    assert out.isStreaming
    sink = drain_to_memory(out)
    got = {r["event_id"]: r for r in
           spark.sql(f"select * from {sink}").collect()}
    beng = FsqlEngine(spark)
    beng.register("ev", spark.read.parquet(src_dir))
    exp = {r["event_id"]: r for r in beng.sql(sql).collect()}
    assert set(got) == set(exp) and len(got) == 24
    for k in exp:
        for c in ("pu", "pv2", "pid3", "rs"):
            assert got[k][c] == exp[k][c], (k, c, got[k], exp[k])
    # lag returns the input type on both paths
    assert dict(out.dtypes)["pid3"] == "bigint"
    assert dict(out.dtypes)["pu"] == "string"


def test_streaming_lag_state_across_batches(spark, tmp_path):
    """The O(k) tail must carry across micro-batches: row values from
    batch N-1 are the lag answers at the start of batch N."""
    schema = "ts timestamp, user string, v long"
    src = tmp_path / "src"
    src.mkdir()
    m = 0
    for b, vals in enumerate([[10, 20, 30], [40, 50], [60]]):
        rows = []
        for v in vals:
            rows.append((T0 + dt.timedelta(minutes=m), "u", v))
            m += 1
        spark.createDataFrame(rows, schema=schema).coalesce(1) \
             .write.mode("overwrite").parquet(str(src / f"b{b}"))
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(str(src) + "/*"))
    out = running_agg(sdf, ["user"], [], order_cols=["ts"],
                      offsets=[("v", 2, None, "p2"),
                               ("v", 1, -1, "p1")])
    sink = drain_to_memory(out)
    got = [(r["v"], r["p2"], r["p1"]) for r in
           spark.sql(f"select * from {sink} order by ts").collect()]
    assert got == [(10, None, -1), (20, None, 10), (30, 10, 20),
                   (40, 20, 30), (50, 30, 40), (60, 40, 50)]


def test_streaming_lag_nullable_bigint_values_stay_long(spark, tmp_path):
    """A NULL in a bigint lag column must come back as NULL (not NaN)
    and non-null values as exact longs — the object-array Arrow
    round-trip, not a float64 one."""
    schema = "ts timestamp, user string, v long"
    vals = [7, None, 9_007_199_254_740_992]       # 2^53 boundary value
    rows = [(T0 + dt.timedelta(minutes=m), "u", v)
            for m, v in enumerate(vals)]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema=schema).coalesce(1) \
         .write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(schema).parquet(src)
    out = running_agg(sdf, ["user"], [], order_cols=["ts"],
                      offsets=[("v", 1, None, "pv")])
    sink = drain_to_memory(out)
    got = [r["pv"] for r in
           spark.sql(f"select * from {sink} order by ts").collect()]
    assert got == [None, 7, None]


def test_streaming_lag_rejections(spark, src_dir):
    eng = _stream_engine(spark, src_dir)
    cases = [
        # lead reads the future — no stream can
        ("select lead(value, 1) over (partition by user "
         "order by ts, event_id) as x from ev", "lead"),
        # negative lag is lead in disguise
        ("select lag(value, -1) over (partition by user "
         "order by ts, event_id) as x from ev", ">= 0"),
        # offset functions take no frame (same as batch)
        ("select lag(value) over (partition by user order by ts "
         "rows between unbounded preceding and current row) as x "
         "from ev", "frame"),
        # ORDER BY required
        ("select lag(value) over (partition by user) as x from ev",
         "ORDER BY"),
        # offset must be a literal
        ("select lag(value, event_id) over (partition by user "
         "order by ts, event_id) as x from ev", "integer literal"),
    ]
    for sql, msg in cases:
        with pytest.raises(PlanError, match=msg):
            eng.sql(sql)


def test_streaming_lag_default_type_checked_at_plan_time(spark, src_dir):
    """A default literal that does not match the lag column's type is
    a plan-time PlanError, not an executor Arrow crash; an int default
    on a double column coerces (review finding, r10)."""
    eng = _stream_engine(spark, src_dir)
    with pytest.raises(PlanError, match="does not match"):
        eng.sql("select lag(value, 1, 'missing') over (partition by "
                "user order by ts, event_id) as x from ev")
    with pytest.raises(PlanError, match="does not match"):
        eng.sql("select lag(user, 1, 7) over (partition by small "
                "order by ts, event_id) as x from ev")
    with pytest.raises(PlanError, match="does not match"):
        eng.sql("select lag(ts, 1, 0) over (partition by user "
                "order by ts, event_id) as x from ev")
    # int default on a double column coerces to float and runs
    out = eng.sql("select event_id, lag(value, 1, -1) over (partition "
                  "by user order by ts, event_id) as pv from ev")
    sink = drain_to_memory(out)
    got = {r["event_id"]: r["pv"] for r in
           spark.sql(f"select * from {sink}").collect()}
    assert got[0] == -1.0 and len(got) == 24


def test_streaming_over_survives_rw_column_collision(spark, tmp_path):
    """Input columns named __rw_out0/__rw_in0 must pass through the
    stateful pass intact — bookkeeping names derive collision-free
    (review finding, r10; same class as the __tb_* fix)."""
    schema = ("ts timestamp, user string, v double, "
              "__rw_out0 string, __rw_in0 string")
    rows = [(T0 + dt.timedelta(minutes=m), "u", float(m + 1),
             f"keep{m}", f"also{m}") for m in range(4)]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema=schema).coalesce(1) \
         .write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(schema).parquet(src)
    eng = FsqlEngine(spark)
    eng.register("ev", sdf)
    out = eng.sql(
        'select ts, "__rw_out0", "__rw_in0", '
        "lag(v * 2, 1) over (partition by user order by ts) as dv, "
        "sum(v * 3) over (partition by user order by ts rows between "
        "unbounded preceding and current row) as rs from ev")
    sink = drain_to_memory(out)
    got = sorted((r["__rw_out0"], r["__rw_in0"], r["dv"], r["rs"])
                 for r in spark.sql(f"select * from {sink}").collect())
    assert got == [("keep0", "also0", None, 3.0),
                   ("keep1", "also1", 2.0, 9.0),
                   ("keep2", "also2", 4.0, 18.0),
                   ("keep3", "also3", 6.0, 30.0)]


def test_streaming_lag_expression_arg_and_zero_offset(spark, src_dir):
    """lag of a computed expression routes through a hidden column
    (dropped from the output); lag(col, 0) is the value itself."""
    eng = _stream_engine(spark, src_dir)
    sql = ("select event_id, lag(value * 2, 1) over (partition by user "
           "order by ts, event_id) as dv, "
           "lag(value, 0) over (partition by user "
           "order by ts, event_id) as same from ev")
    out = eng.sql(sql)
    assert set(out.columns) == {"event_id", "dv", "same"}
    sink = drain_to_memory(out)
    got = {r["event_id"]: (r["dv"], r["same"]) for r in
           spark.sql(f"select * from {sink}").collect()}
    beng = FsqlEngine(spark)
    beng.register("ev", spark.read.parquet(src_dir))
    exp = {r["event_id"]: (r["dv"], r["same"]) for r in
           beng.sql(sql).collect()}
    assert got == exp and len(got) == 24


def test_streaming_first_last_value_equal_batch(spark, src_dir):
    """first_value (one captured value per key, NULL included) and
    last_value (the current row under the running ROWS frame) on a
    stream must equal the batch window — sharing the stateful pass
    with a running sum (r10)."""
    eng = _stream_engine(spark, src_dir)
    sql = (f"select event_id, first_value(value) {_OVER} as fv, "
           f"first_value(user) {_OVER} as fu, "
           f"last_value(value) {_OVER} as lv, "
           f"last_value(value * 2) {_OVER} as lv2, "
           f"sum(value) {_OVER} as rs from ev")
    out = eng.sql(sql)
    assert out.isStreaming
    sink = drain_to_memory(out)
    got = {r["event_id"]: tuple(r[c] for c in
                                ("fv", "fu", "lv", "lv2", "rs"))
           for r in spark.sql(f"select * from {sink}").collect()}
    beng = FsqlEngine(spark)
    beng.register("ev", spark.read.parquet(src_dir))
    exp = {r["event_id"]: tuple(r[c] for c in
                                ("fv", "fu", "lv", "lv2", "rs"))
           for r in beng.sql(sql).collect()}
    assert got == exp and len(got) == 24


def test_streaming_first_value_carries_across_batches(spark, tmp_path):
    """The captured first value (a NULL one included — the
    empty-vs-[NULL] state distinction) must hold across micro-batches."""
    schema = "ts timestamp, user string, v long"
    src = tmp_path / "src"
    src.mkdir()
    m = 0
    for b, vals in enumerate([[None, 10], [20], [30, 40]]):
        rows = []
        for v in vals:
            rows.append((T0 + dt.timedelta(minutes=m), "u", v))
            m += 1
        spark.createDataFrame(rows, schema=schema).coalesce(1) \
             .write.mode("overwrite").parquet(str(src / f"b{b}"))
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(str(src) + "/*"))
    out = running_agg(sdf, ["user"], [], order_cols=["ts"],
                      firsts=[("v", "fv")])
    sink = drain_to_memory(out)
    got = [r["fv"] for r in
           spark.sql(f"select * from {sink} order by ts").collect()]
    assert got == [None, None, None, None, None]   # first value IS NULL


def test_streaming_pure_last_value_needs_no_state(spark, src_dir):
    """A SELECT whose only window functions are last_value compiles to
    a stateless plan (no applyInPandasWithState at all) — and still
    counts zero toward the one-stateful-pass limit, so it unions with
    a stateful branch."""
    eng = _stream_engine(spark, src_dir)
    out = eng.sql(f"select event_id, last_value(value) {_OVER} as lv "
                  f"from ev")
    assert out.isStreaming
    assert eng.planner._stateful_passes == 0
    sink = drain_to_memory(out)
    got = {r["event_id"]: r["lv"] for r in
           spark.sql(f"select * from {sink}").collect()}
    exp = {r["event_id"]: r["value"] for r in
           spark.read.parquet(src_dir).collect()}
    assert got == exp
    # composes with a stateful branch inside one union
    both = eng.sql(
        f"select event_id, sum(value) {_OVER} as x from ev "
        f"union all "
        f"select event_id, last_value(value) {_OVER} as x from ev")
    assert both.isStreaming


def test_streaming_nth_value_equals_batch(spark, src_dir):
    """nth_value(col, n) on a stream (O(n) capture buffer per key —
    buffer LENGTH marks captured rows, so NULL values buffer exactly)
    must equal the batch value window, sharing the stateful pass with
    a running count (r10)."""
    eng = _stream_engine(spark, src_dir)
    sql = (f"select event_id, nth_value(value, 2) {_OVER} as v2, "
           f"nth_value(user, 3) {_OVER} as u3, "
           f"count(*) {_OVER} as rn from ev")
    out = eng.sql(sql)
    assert out.isStreaming
    sink = drain_to_memory(out)
    got = {r["event_id"]: (r["v2"], r["u3"], r["rn"]) for r in
           spark.sql(f"select * from {sink}").collect()}
    beng = FsqlEngine(spark)
    beng.register("ev", spark.read.parquet(src_dir))
    exp = {r["event_id"]: (r["v2"], r["u3"], r["rn"]) for r in
           beng.sql(sql).collect()}
    assert got == exp and len(got) == 24


def test_streaming_nth_value_buffer_carries_across_batches(spark,
                                                           tmp_path):
    """The capture buffer must persist across micro-batches: rows in
    batch 3 see the n-th value captured in batch 1, and a NULL at the
    n-th position stays a captured NULL (length-marked, not
    nullness-marked)."""
    schema = "ts timestamp, user string, v long"
    src = tmp_path / "src"
    src.mkdir()
    m = 0
    for b, vals in enumerate([[10, None], [30], [40, 50]]):
        rows = []
        for v in vals:
            rows.append((T0 + dt.timedelta(minutes=m), "u", v))
            m += 1
        spark.createDataFrame(rows, schema=schema).coalesce(1) \
             .write.mode("overwrite").parquet(str(src / f"b{b}"))
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(str(src) + "/*"))
    out = running_agg(sdf, ["user"], [], order_cols=["ts"],
                      nths=[("v", 2, "n2"), ("v", 4, "n4")])
    sink = drain_to_memory(out)
    got = [(r["n2"], r["n4"]) for r in
           spark.sql(f"select * from {sink} order by ts").collect()]
    # n2: the 2nd row's value is NULL — captured as NULL from row 2 on
    # n4: NULL until the 4th row arrives, then 40 forever
    assert got == [(None, None), (None, None), (None, None),
                   (None, 40), (None, 40)]


def test_streaming_nth_value_rejections(spark, src_dir):
    eng = _stream_engine(spark, src_dir)
    with pytest.raises(PlanError, match="running aggregates"):
        eng.sql("select nth_value(value, 2) over (partition by user "
                "order by ts, event_id) as x from ev")   # no ROWS frame
    with pytest.raises(PlanError, match="positive integer"):
        eng.sql(f"select nth_value(value, 0) {_OVER} as x from ev")
    with pytest.raises(PlanError, match="two arguments"):
        eng.sql(f"select nth_value(value) {_OVER} as x from ev")


def test_streaming_row_number_equals_batch(spark, src_dir):
    """row_number() on a stream is the running row count under the
    shared ascending order, cast to int for batch-dtype parity; it
    composes with QUALIFY (the idiomatic streaming cap spelling) and
    rejects frames like batch (r10)."""
    eng = _stream_engine(spark, src_dir)
    sql = ("select event_id, row_number() over (partition by user "
           "order by ts, event_id) as rn, "
           f"sum(value) {_OVER} as rs from ev")
    out = eng.sql(sql)
    assert out.isStreaming
    assert dict(out.dtypes)["rn"] == "int"
    sink = drain_to_memory(out)
    got = {r["event_id"]: (r["rn"], r["rs"]) for r in
           spark.sql(f"select * from {sink}").collect()}
    beng = FsqlEngine(spark)
    beng.register("ev", spark.read.parquet(src_dir))
    exp = {r["event_id"]: (r["rn"], r["rs"]) for r in
           beng.sql(sql).collect()}
    assert got == exp and len(got) == 24
    # QUALIFY over streaming row_number: the cap in its natural form
    capped = eng.sql("select event_id, row_number() over (partition "
                     "by user order by ts, event_id) as rn from ev "
                     "qualify rn <= 2")
    sink2 = drain_to_memory(capped)
    assert spark.sql(f"select * from {sink2}").count() == 4
    # frames rejected like batch
    with pytest.raises(PlanError, match="frame"):
        eng.sql("select row_number() over (partition by user order "
                "by ts, event_id rows between unbounded preceding "
                "and current row) as rn from ev")
    with pytest.raises(PlanError, match="requires ORDER BY"):
        eng.sql("select row_number() over (partition by user) as rn "
                "from ev")


def test_streaming_rank_dense_rank_equals_batch(spark, src_dir):
    """rank()/dense_rank() on a stream (r11): peers share a rank —
    ordering by the heavily-tied ``small`` column (4 peers per value
    per user) exercises real tie semantics, cell-exact against the
    batch window on the same dialect text; dtype is int like batch."""
    eng = _stream_engine(spark, src_dir)
    sql = ("select event_id, "
           "rank() over (partition by user order by small) as rnk, "
           "dense_rank() over (partition by user order by small) "
           "as drnk from ev")
    out = eng.sql(sql)
    assert out.isStreaming
    assert dict(out.dtypes)["rnk"] == "int"
    assert dict(out.dtypes)["drnk"] == "int"
    sink = drain_to_memory(out)
    got = {r["event_id"]: (r["rnk"], r["drnk"]) for r in
           spark.sql(f"select * from {sink}").collect()}
    beng = FsqlEngine(spark)
    beng.register("ev", spark.read.parquet(src_dir))
    exp = {r["event_id"]: (r["rnk"], r["drnk"]) for r in
           beng.sql(sql).collect()}
    assert got == exp and len(got) == 24
    # ties exist: some rank is shared and jumps past the peer run
    assert sorted({v[0] for v in got.values()}) == [1, 5, 9]
    assert sorted({v[1] for v in got.values()}) == [1, 2, 3]
    # composes with QUALIFY and the other streaming window functions
    # in the one stateful pass
    q = eng.sql("select event_id, "
                "rank() over (partition by user order by small) as r, "
                "row_number() over (partition by user order by small) "
                "as rn from ev qualify r = 1")
    sink2 = drain_to_memory(q)
    assert spark.sql(f"select * from {sink2}").count() == 8
    plan = q._jdf.queryExecution().analyzed().toString()
    assert plan.count("FlatMapGroupsInPandasWithState") == 1
    # frames / arguments / missing ORDER BY rejected like batch
    with pytest.raises(PlanError, match="frame"):
        eng.sql("select rank() over (partition by user order by ts "
                "rows between unbounded preceding and current row) "
                "as r from ev")
    with pytest.raises(PlanError, match="takes no arguments"):
        eng.sql("select dense_rank(value) over (partition by user "
                "order by ts) as r from ev")
    with pytest.raises(PlanError, match="requires ORDER BY"):
        eng.sql("select rank() over (partition by user) as r from ev")


def test_streaming_rank_state_across_batches(spark, tmp_path):
    """The captured last order key must carry across micro-batches: a
    peer run that straddles the batch boundary keeps its rank, and a
    new key right after the boundary jumps to the global position."""
    schema = "ts timestamp, user string, k long"
    src = tmp_path / "src"
    src.mkdir()
    m = 0
    # key runs: 10,10 | 10,20 | 20,30 — the 10-run and the 20-run
    # each straddle a boundary
    for b, vals in enumerate([[10, 10], [10, 20], [20, 30]]):
        rows = []
        for v in vals:
            rows.append((T0 + dt.timedelta(minutes=m), "u", v))
            m += 1
        spark.createDataFrame(rows, schema=schema).coalesce(1) \
             .write.mode("overwrite").parquet(str(src / f"b{b}"))
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(str(src) + "/*"))
    out = running_agg(sdf, ["user"], [], order_cols=["k"],
                      ranks=[("rank", "r"), ("dense_rank", "d")])
    sink = drain_to_memory(out)
    got = [(r["k"], r["r"], r["d"]) for r in
           spark.sql(f"select * from {sink} order by ts").collect()]
    assert got == [(10, 1, 1), (10, 1, 1), (10, 1, 1),
                   (20, 4, 2), (20, 4, 2), (30, 6, 3)]


def test_streaming_rank_null_keys_are_peers(spark, tmp_path):
    """NULL order keys are peers of each other (they sort first and
    share a rank), including across the batch-boundary carry."""
    schema = "ts timestamp, user string, k long"
    src = tmp_path / "src"
    src.mkdir()
    m = 0
    for b, vals in enumerate([[None, None], [None, 5]]):
        rows = []
        for v in vals:
            rows.append((T0 + dt.timedelta(minutes=m), "u", v))
            m += 1
        spark.createDataFrame(rows, schema=schema).coalesce(1) \
             .write.mode("overwrite").parquet(str(src / f"b{b}"))
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(str(src) + "/*"))
    out = running_agg(sdf, ["user"], [], order_cols=["k"],
                      ranks=[("rank", "r"), ("dense_rank", "d")])
    sink = drain_to_memory(out)
    got = [(r["k"], r["r"], r["d"]) for r in
           spark.sql(f"select * from {sink} order by ts").collect()]
    assert got == [(None, 1, 1), (None, 1, 1), (None, 1, 1),
                   (5, 4, 2)]


def test_streaming_value_funcs_require_running_frame(spark, src_dir):
    eng = _stream_engine(spark, src_dir)
    with pytest.raises(PlanError, match="running aggregates"):
        eng.sql("select first_value(value) over (partition by user "
                "order by ts, event_id) as x from ev")
    with pytest.raises(PlanError, match="running aggregates"):
        eng.sql("select last_value(value) over (partition by user "
                "order by ts, event_id rows between 2 preceding and "
                "current row) as x from ev")
    with pytest.raises(PlanError, match="exactly one argument"):
        eng.sql(f"select first_value(value, user) {_OVER} as x from ev")


def test_streaming_over_plan_has_one_stateful_pass(spark, src_dir):
    """Scale gate: a SELECT mixing running aggregates, lag, and
    first_value/last_value compiles to exactly ONE
    FlatMapGroupsInPandasWithState — one keyed state exchange at any
    scale; last_value adds zero operators."""
    eng = _stream_engine(spark, src_dir)
    out = eng.sql(
        f"select event_id, sum(value) {_OVER} as rs, "
        f"lag(value, 1) over (partition by user "
        f"order by ts, event_id) as pv, "
        f"first_value(value) {_OVER} as fv, "
        f"last_value(value) {_OVER} as lv from ev")
    plan = out._jdf.queryExecution().analyzed().toString()
    assert plan.count("FlatMapGroupsInPandasWithState") == 1


def test_stateful_derived_view_counts_toward_one_pass(spark, src_dir):
    """A derived view created with its own stateful pass (streaming
    OVER) carries a catalog mark; composing a second stateful pass
    over it is rejected at PLAN time with the scope message instead of
    Spark's raw UnsupportedOperationChecker error at start()
    (round-10 ADVICE).  A plain stateless read of the view stays
    allowed."""
    eng = _stream_engine(spark, src_dir)
    eng.sql(f"create stream sview_sf as (select event_id, ts, user, "
            f"value, sum(value) {_OVER} as rs from ev)")
    # stateless composition over the stateful view: fine
    ok = eng.sql("select event_id, rs from sview_sf where rs > 5")
    assert ok.isStreaming
    # a second stateful pass layered over the view: clean plan-time
    # rejection
    with pytest.raises(PlanError, match="one stateful streaming pass"):
        eng.sql("select event_id, count(*) over (partition by user "
                "order by ts, event_id rows between unbounded "
                "preceding and current row) as n from sview_sf")
    # ... and via QUALIFY too
    with pytest.raises(PlanError, match="one stateful streaming pass"):
        eng.sql("select event_id, rs from sview_sf qualify count(*) "
                "over (partition by user order by ts, event_id rows "
                "between unbounded preceding and current row) <= 2")


def test_running_agg_survives_gk_column_collision(spark, tmp_path):
    """An input column literally named __gk survives a GLOBAL (empty
    PARTITION BY) running aggregate intact — the group-key bookkeeping
    name derives collision-free like __rw_*/__tb_* (review finding,
    r10)."""
    schema = "ts timestamp, __gk long, v double"
    rows = [(T0 + dt.timedelta(minutes=m), 100 + m, float(m + 1))
            for m in range(3)]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema=schema).coalesce(1) \
         .write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(schema).parquet(src)
    out = running_agg(sdf, [], [("sum", "v", "rs")], order_cols=["ts"])
    sink = drain_to_memory(out)
    got = sorted((r["__gk"], r["rs"]) for r in
                 spark.sql(f"select * from {sink}").collect())
    assert got == [(100, 1.0), (101, 3.0), (102, 6.0)]


def test_running_over_expression_argument(spark, src_dir):
    """A computed aggregate input materializes as a hidden column that
    is dropped from the output."""
    eng = _stream_engine(spark, src_dir)
    out = eng.sql(f"select event_id, sum(value * 2) {_OVER} as d "
                  f"from ev")
    sink = drain_to_memory(out)
    rows = spark.sql(f"select * from {sink}").collect()
    assert len(rows) == 24
    assert not any(c.startswith("__rw") for c in
                   spark.sql(f"select * from {sink}").columns)
    beng = FsqlEngine(spark)
    beng.register("ev", spark.read.parquet(src_dir))
    exp = {r["event_id"]: r["d"] for r in beng.sql(
        f"select event_id, sum(value * 2) {_OVER} as d from ev"
    ).collect()}
    assert {r["event_id"]: r["d"] for r in rows} == exp


def test_running_over_expression_keys_equal_batch(spark, src_dir):
    """r11: PARTITION BY / ORDER BY keys may be expressions — each
    compiles to a hidden column before the stateful pass and is
    dropped after; the structurally equal `small % 2` in both OVER
    clauses must share ONE hidden column so the one-spec rule still
    holds.  Batch window on the same dialect text is the oracle."""
    eng = _stream_engine(spark, src_dir)
    sql = ("select event_id, "
           "sum(value) over (partition by small % 2 "
           "order by ts, event_id * 1 rows between unbounded "
           "preceding and current row) as rs, "
           "rank() over (partition by small % 2 "
           "order by ts, event_id * 1) as rk from ev")
    out = eng.sql(sql)
    assert out.isStreaming
    assert out.columns == ["event_id", "rs", "rk"]
    sink = drain_to_memory(out)
    rows = spark.sql(f"select * from {sink}").collect()
    assert len(rows) == 24
    beng = FsqlEngine(spark)
    beng.register("ev", spark.read.parquet(src_dir))
    exp = {r["event_id"]: (r["rs"], r["rk"])
           for r in beng.sql(sql).collect()}
    assert {r["event_id"]: (r["rs"], r["rk"]) for r in rows} == exp


def test_running_over_expression_key_specs_must_still_match(
        spark, src_dir):
    """Two structurally DIFFERENT partition expressions are two specs
    — the one-stateful-grouping rule applies to expression keys too."""
    eng = _stream_engine(spark, src_dir)
    with pytest.raises(PlanError, match="share the same PARTITION BY"):
        eng.sql(
            "select sum(value) over (partition by small % 2 order by "
            "ts, event_id rows between unbounded preceding and current "
            "row) as a, sum(value) over (partition by small % 3 order "
            "by ts, event_id rows between unbounded preceding and "
            "current row) as b from ev")


def test_running_over_rejections(spark, src_dir):
    eng = _stream_engine(spark, src_dir)
    cases = [
        # partition-size-dependent ranking needs a finite partition
        # (rank/dense_rank graduated to supported in r11)
        (f"select cume_dist() over (partition by user order by ts) "
         f"as r from ev", "running aggregates"),
        # implicit frame is RANGE — must be written as ROWS
        ("select sum(value) over (partition by user order by ts) "
         "as s from ev", "ROWS"),
        # bounded frames need a buffer the scope excludes
        ("select sum(value) over (partition by user order by ts "
         "rows between 2 preceding and current row) as s from ev",
         "running aggregates"),
        # time flows forward only
        ("select sum(value) over (partition by user order by ts desc "
         "rows between unbounded preceding and current row) as s "
         "from ev", "ascending"),
        # one stateful grouping per SELECT
        (f"select sum(value) {_OVER} as a, sum(value) over ("
         f"partition by small order by ts, event_id rows between "
         f"unbounded preceding and current row) as b from ev",
         "share the same PARTITION BY"),
        # IGNORE NULLS keeps the batch applicability rule on streams
        # (lag/first/last/nth accept it since r11 — see
        # test_streaming_ignore_nulls_equals_batch)
        (f"select sum(value) ignore nulls {_OVER} as x from ev",
         "IGNORE NULLS applies to"),
        ("select row_number() ignore nulls over (partition by user "
         "order by ts, event_id) as x from ev",
         "IGNORE NULLS applies to"),
        # non-numeric input
        (f"select min(user) {_OVER} as m from ev", "numeric"),
        # keys may be expressions (r11) but the forward-only ORDER BY
        # rule applies to them the same as to plain columns
        ("select sum(value) over (partition by user order by "
         "small % 2 desc rows between unbounded preceding and current "
         "row) as s from ev", "ascending"),
    ]
    for sql, msg in cases:
        with pytest.raises(PlanError, match=msg):
            eng.sql(sql)


def test_running_agg_validates_inputs(spark, src_dir):
    sdf = (spark.readStream
           .schema("event_id long, ts timestamp, user string, "
                   "value double, small long")
           .parquet(src_dir))
    with pytest.raises(PlanError, match="supports"):
        running_agg(sdf, ["user"], [("median", "value", "m")], ["ts"])
    with pytest.raises(PlanError, match="ordering"):
        running_agg(sdf, ["user"], [("sum", "value", "s")], [])
    with pytest.raises(PlanError, match="not valid"):
        running_agg(sdf, ["user"], [("sum", None, "s")], ["ts"])
    # a misspelled order column is an up-front error, never a silent
    # fall-back to nondeterministic arrival order (ADVICE r10)
    with pytest.raises(PlanError, match="order column"):
        running_agg(sdf, ["user"], [("sum", "value", "s")], ["nope"])


def test_failed_plan_leaves_no_substitution_residue(spark, src_dir):
    """r9 review: a plan that fails AFTER some window functions
    validated (mixed partition specs) must leave the id()-keyed
    substitution map empty — a leaked entry could poison a later
    compile through a recycled AST id."""
    eng = _stream_engine(spark, src_dir)
    with pytest.raises(PlanError, match="share the same PARTITION BY"):
        eng.sql(f"select sum(value) {_OVER} as a, sum(value) over ("
                f"partition by small order by ts, event_id rows between "
                f"unbounded preceding and current row) as b from ev")
    assert eng.planner._stream_wf_cols == {}
    # and the engine still plans both batch and streaming OVER cleanly
    beng = FsqlEngine(spark)
    beng.register("ev", spark.read.parquet(src_dir))
    assert beng.sql(
        "select event_id, row_number() over (order by event_id) as rn "
        "from ev").count() == 24
    out = eng.sql(f"select event_id, sum(value) {_OVER} as rs from ev")
    assert out.isStreaming
    assert eng.planner._stream_wf_cols == {}     # cleared after compile


def test_running_over_join_from_rejected(spark, src_dir):
    """Multi-leaf FROM gets a clean PlanError, not a raw Spark
    resolution error (the stateful exchange erases binding aliases)."""
    schema = ("event_id long, ts timestamp, user string, value double, "
              "small long")
    eng = FsqlEngine(spark)
    eng.register("ev_a", spark.readStream.schema(schema).parquet(src_dir))
    eng.register("ev_b", spark.readStream.schema(schema).parquet(src_dir))
    with pytest.raises(PlanError, match="single stream relation"):
        eng.sql(
            "select a.event_id, sum(a.value) over (partition by a.user "
            "order by a.ts, a.event_id rows between unbounded preceding "
            "and current row) as s "
            "from ev_a a join ev_b b on a.event_id = b.event_id")


def test_running_over_null_order_key_sorts_first(spark, tmp_path):
    """r9 review: intra-batch sorting must place NULL order keys FIRST
    (Spark's ascending default — what the batch window this operator
    mirrors does), not pandas' default last."""
    schema = "ts timestamp, user string, value double"
    rows = [(None, "u", 100.0),
            (T0 + dt.timedelta(minutes=1), "u", 1.0),
            (T0 + dt.timedelta(minutes=2), "u", 2.0)]
    src = str(tmp_path / "nullts")
    spark.createDataFrame(rows, schema=schema).coalesce(1) \
         .write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(schema).parquet(src)
    out = running_agg(sdf, ["user"], [("sum", "value", "rs")], ["ts"])
    sink = drain_to_memory(out)
    got = {r["value"]: r["rs"] for r in
           spark.sql(f"select * from {sink}").collect()}
    # NULL-ts row accumulates FIRST: its running sum is 100, then 101,
    # 103 — pandas' default na_position='last' would yield 1, 3, 103
    assert got == {100.0: 100.0, 1.0: 101.0, 2.0: 103.0}


def test_running_over_all_null_prefix_emits_nulls(spark, tmp_path):
    """A key whose first rows carry only NULL values must emit NULL
    running sum/min/max/avg (count 0) without dtype corruption — the
    integral path goes through pandas' nullable Int64 (a float64
    upcast would put NaN under a LongType field)."""
    schema = "ts timestamp, user string, v long"
    rows = [(T0 + dt.timedelta(minutes=m), "u", val)
            for m, val in [(1, None), (2, None), (3, 7), (4, 5)]]
    src = str(tmp_path / "nullpre")
    spark.createDataFrame(rows, schema=schema).coalesce(1) \
         .write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(schema).parquet(src)
    out = running_agg(sdf, ["user"],
                      [("sum", "v", "rs"), ("count", "v", "rn"),
                       ("min", "v", "rmn"), ("avg", "v", "rav")],
                      ["ts"])
    sink = drain_to_memory(out)
    rows_out = sorted(spark.sql(f"select * from {sink}").collect(),
                      key=lambda r: r["ts"])
    assert [(r["rs"], r["rn"], r["rmn"], r["rav"])
            for r in rows_out] == [
        (None, 0, None, None), (None, 0, None, None),
        (7, 1, 7, 7.0), (12, 2, 5, 6.0)]
    # dtype parity held: integral sum/min emit as longs
    assert dict(out.dtypes)["rs"] == "bigint"
    assert dict(out.dtypes)["rmn"] == "bigint"


def test_running_over_decimal_input_rejected(spark, src_dir):
    from pyspark.sql import functions as F
    sdf = (spark.readStream
           .schema("event_id long, ts timestamp, user string, "
                   "value double, small long")
           .parquet(src_dir)
           .withColumn("d", F.col("value").cast("decimal(10,2)")))
    with pytest.raises(PlanError, match="decimal"):
        running_agg(sdf, ["user"], [("sum", "d", "s")], ["ts"])


def test_streaming_qualify_first_k_per_key(spark, src_dir):
    """QUALIFY over a running aggregate on a stream (r9): keep the
    FIRST k rows per key — the streaming cap.  Equals the batch
    QUALIFY on the same text."""
    eng = _stream_engine(spark, src_dir)
    out = eng.sql(f"select user, event_id, count(*) over ("
                  f"partition by user order by ts, event_id rows "
                  f"between unbounded preceding and current row) as rn "
                  f"from ev qualify rn <= 3")
    assert out.isStreaming
    sink = drain_to_memory(out)
    got = sorted((r["user"], r["event_id"], r["rn"]) for r in
                 spark.sql(f"select * from {sink}").collect())
    beng = FsqlEngine(spark)
    beng.register("ev", spark.read.parquet(src_dir))
    exp = sorted((r["user"], r["event_id"], r["rn"]) for r in beng.sql(
        "select user, event_id, count(*) over (partition by user "
        "order by ts, event_id rows between unbounded preceding and "
        "current row) as rn from ev qualify rn <= 3").collect())
    assert got == exp and len(got) == 6          # 3 per user, 2 users
    # window func directly in the predicate, not projected
    out2 = eng.sql("select event_id from ev qualify sum(value) over ("
                   "partition by user order by ts, event_id rows "
                   "between unbounded preceding and current row) < 10")
    sink2 = drain_to_memory(out2)
    exp2 = beng.sql("select event_id from ev qualify sum(value) over ("
                    "partition by user order by ts, event_id rows "
                    "between unbounded preceding and current row) < 10")
    assert sorted(r["event_id"] for r in
                  spark.sql(f"select * from {sink2}").collect()) == \
        sorted(r["event_id"] for r in exp2.collect())


def test_streaming_qualify_cap_composes_with_union(spark, src_dir):
    """QUALIFY cap inside ONE set-op branch on a stream composes with
    a stateless branch; TWO stateful branches hit Spark's one
    applyInPandasWithState-per-query limit and must get a clean scope
    message, not a raw Py4J error (r10 fuzz target)."""
    eng = _stream_engine(spark, src_dir)
    sql = ("select event_id, count(*) over (partition by user "
           "order by ts, event_id rows between unbounded preceding "
           "and current row) as rn from ev qualify rn <= 2 "
           "union all "
           "select event_id, small as rn from ev where small = 0")
    out = eng.sql(sql)
    assert out.isStreaming
    sink = drain_to_memory(out)
    got = sorted((r["event_id"], r["rn"]) for r in
                 spark.sql(f"select * from {sink}").collect())
    beng = FsqlEngine(spark)
    beng.register("ev", spark.read.parquet(src_dir))
    exp = sorted((r["event_id"], r["rn"]) for r in
                 beng.sql(sql).collect())
    assert got == exp and len(got) == 2 * 2 + 8

    # two stateful branches: clean rejection naming the limitation
    with pytest.raises(PlanError, match="one stateful streaming pass"):
        eng.sql(
            "select event_id, count(*) over (partition by user "
            "order by ts, event_id rows between unbounded preceding "
            "and current row) as rn from ev qualify rn <= 2 "
            "union all "
            "select event_id, count(*) over (partition by small "
            "order by ts, event_id rows between unbounded preceding "
            "and current row) as rn from ev qualify rn <= 3")
    # stacked stateful levels (OVER over a QUALIFY-capped derived
    # table) hit the same one-pass limit, same clean message
    with pytest.raises(PlanError, match="one stateful streaming pass"):
        eng.sql(
            "select event_id, sum(rn) over (partition by user "
            "order by ts, event_id rows between unbounded preceding "
            "and current row) as s from "
            "(select user, ts, event_id, count(*) over (partition by "
            "user order by ts, event_id rows between unbounded "
            "preceding and current row) as rn from ev "
            "qualify rn <= 5) t")


def test_streaming_qualify_ranking_still_rejected(spark, src_dir):
    """QUALIFY with a still-unsupported ranking function on a stream
    keeps the clear scope message (row_number graduated in r10 and
    rank/dense_rank in r11 — percent_rank/cume_dist/ntile genuinely
    need the partition size, which an unbounded stream never has)."""
    eng = _stream_engine(spark, src_dir)
    with pytest.raises(PlanError, match="running aggregates"):
        eng.sql("select event_id, percent_rank() over (partition by "
                "user order by ts) as pr from ev qualify pr <= 0.5")
    assert eng.planner._stream_wf_cols == {}
    with pytest.raises(PlanError, match="running aggregates"):
        eng.sql("select event_id, ntile(4) over (partition by user "
                "order by ts) as nt from ev qualify nt = 1")
    assert eng.planner._stream_wf_cols == {}


def test_streaming_group_by_with_window_rejected_cleanly(spark, src_dir):
    """Window functions / QUALIFY beside GROUP BY on a stream get a
    message that names the actual restriction — not the running-OVER
    scope text (which would wrongly imply the written form is
    supported; r9 second-review finding)."""
    eng = _stream_engine(spark, src_dir)
    with pytest.raises(PlanError, match="beside GROUP BY"):
        eng.sql("select user, count(*) as c from ev group by user "
                "qualify sum(c) over (partition by user order by c "
                "rows between unbounded preceding and current row) <= 2")
    with pytest.raises(PlanError, match="beside GROUP BY"):
        eng.sql("select user, count(*) as c, sum(count(*)) over ("
                "partition by user order by user rows between unbounded "
                "preceding and current row) as w from ev group by user")


# --------------------------------------------------------------------------
# property test: random running-agg specs, streaming vs batch window
# --------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(st.lists(st.tuples(st.integers(0, 2),               # key
                          st.one_of(st.none(),
                                    st.integers(-50, 50))),  # value
                min_size=1, max_size=40),
       st.sets(st.sampled_from(["sum", "count", "min", "max", "avg"]),
               min_size=1, max_size=5))
def test_running_agg_matches_batch_window(spark, tmp_path_factory,
                                          rows, fns):
    """For ANY value sequence (nulls included) and agg subset, the
    stateful streaming pass must equal Spark's batch cumulative window
    over the same rows — integral dtypes preserved."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    d = str(tmp_path_factory.mktemp("prop"))
    data = [(i, f"k{k}", v) for i, (k, v) in enumerate(rows)]
    bdf = spark.createDataFrame(data, "seq long, k string, v long")
    bdf.coalesce(1).write.mode("overwrite").parquet(d)
    aggs = [(fn, None if fn == "count" else "v", f"o_{fn}")
            for fn in sorted(fns)]
    sdf = spark.readStream.schema("seq long, k string, v long").parquet(d)
    out = running_agg(sdf, ["k"], aggs, ["seq"])
    sink = drain_to_memory(out)
    got = {r["seq"]: tuple(r[a] for _f, _c, a in aggs)
           for r in spark.sql(f"select * from {sink}").collect()}

    w = (W.partitionBy("k").orderBy("seq")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    exp_cols = []
    for fn, c, a in aggs:
        col = F.count(F.lit(1)) if c is None else getattr(F, fn)(c)
        exp_cols.append(col.over(w).alias(a))
    exp = {r["seq"]: tuple(r[a] for _f, _c, a in aggs)
           for r in bdf.select("seq", *exp_cols).collect()}
    assert got == exp


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(st.lists(st.tuples(st.integers(0, 1),                 # key a
                          st.integers(0, 1),                 # key b
                          st.one_of(st.none(),
                                    st.integers(-40, 40))),  # value
                min_size=3, max_size=36),
       st.integers(1, 3),                                    # lag k
       st.integers(2, 4))                                    # micro-batches
def test_running_agg_multibatch_multikey_doubles(spark, tmp_path_factory,
                                                 rows, k, nb):
    """r10 fuzz shapes (VERDICT r9 item 3): MULTI-KEY partitions,
    NULL-heavy DOUBLE values with inexact fractions (v*0.1), avg
    across >= 2 micro-batches, and a lag spec sharing the pass — all
    must equal Spark's batch cumulative window / batch lag exactly
    (the carry-seeded cumsum makes cross-batch double addition order
    identical to the batch frame's)."""
    import math

    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    d = tmp_path_factory.mktemp("prop_mb")
    data = [(i, f"a{a}", f"b{b}", None if v is None else v * 0.1)
            for i, (a, b, v) in enumerate(rows)]
    schema = "seq long, ka string, kb string, v double"
    bdf = spark.createDataFrame(data, schema)
    per = max(1, math.ceil(len(data) / nb))
    for j in range(0, len(data), per):
        spark.createDataFrame(data[j:j + per], schema).coalesce(1) \
             .write.mode("overwrite").parquet(str(d / f"b{j:04d}"))
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(str(d) + "/*"))
    out = running_agg(
        sdf, ["ka", "kb"],
        [("sum", "v", "rs"), ("avg", "v", "ra"), ("count", "v", "rc")],
        ["seq"], offsets=[("v", k, -1.0, "lg")])
    sink = drain_to_memory(out)
    got = {r["seq"]: (r["rs"], r["ra"], r["rc"], r["lg"]) for r in
           spark.sql(f"select * from {sink}").collect()}

    w = (W.partitionBy("ka", "kb").orderBy("seq")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    wl = W.partitionBy("ka", "kb").orderBy("seq")
    exp = {r["seq"]: (r["rs"], r["ra"], r["rc"], r["lg"]) for r in
           bdf.select("seq", F.sum("v").over(w).alias("rs"),
                      F.avg("v").over(w).alias("ra"),
                      F.count("v").over(w).alias("rc"),
                      F.lag("v", k, -1.0).over(wl).alias("lg"))
              .collect()}
    assert got == exp


def test_running_avg_integral_matches_batch_past_2p53(spark, tmp_path):
    """avg over an integral column accumulates its numerator in
    float64 like batch Spark's Average (double sum buffer for longs):
    once the running total passes 2^53 the int64-sum path would
    diverge from the batch window, so avg must NOT share it
    (round-10 ADVICE).  sum keeps int64 (wraparound parity)."""
    schema = "ts timestamp, v long"
    big = (1 << 53) + 111               # not representable in float64
    rows = [(T0 + dt.timedelta(minutes=m), big + m) for m in range(4)]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema=schema).coalesce(1) \
         .write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(schema).parquet(src)
    out = running_agg(sdf, [], [("avg", "v", "ra"), ("sum", "v", "rs")],
                      order_cols=["ts"])
    sink = drain_to_memory(out)
    got = [(r["ra"], r["rs"]) for r in
           spark.sql(f"select * from {sink} order by ts").collect()]
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    w = (Window.orderBy("ts")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    exp = [(r["ra"], r["rs"]) for r in
           spark.read.parquet(src)
                .select(F.avg("v").over(w).alias("ra"),
                        F.sum("v").over(w).alias("rs"), "ts")
                .orderBy("ts").collect()]
    assert got == exp


_NULLY_EV = "case when value < 5.0 then null else value end"


def test_streaming_ignore_nulls_equals_batch(spark, src_dir):
    """IGNORE NULLS on streams (r11) for lag / first_value /
    last_value / nth_value — state tracks non-null values; must equal
    the SAME dialect text run through the batch OVER path (which is
    differential-tested against DuckDB)."""
    eng = _stream_engine(spark, src_dir)
    sql = (f"select event_id, "
           f"lag({_NULLY_EV}, 2, -1.0) ignore nulls over (partition "
           f"by user order by ts, event_id) as l2, "
           f"first_value({_NULLY_EV}) ignore nulls {_OVER} as fv, "
           f"last_value({_NULLY_EV}) ignore nulls {_OVER} as lv, "
           f"nth_value({_NULLY_EV}, 3) ignore nulls {_OVER} as n3, "
           f"count(*) {_OVER} as rn from ev")
    out = eng.sql(sql)
    assert out.isStreaming
    # the whole list still compiles to ONE stateful pass
    plan = out._jdf.queryExecution().analyzed().toString()
    assert plan.count("FlatMapGroupsInPandasWithState") == 1
    sink = drain_to_memory(out)
    got = {r["event_id"]: (r["l2"], r["fv"], r["lv"], r["n3"], r["rn"])
           for r in spark.sql(f"select * from {sink}").collect()}
    beng = FsqlEngine(spark)
    beng.register("ev", spark.read.parquet(src_dir))
    exp = {r["event_id"]: (r["l2"], r["fv"], r["lv"], r["n3"], r["rn"])
           for r in beng.sql(sql).collect()}
    assert got == exp and len(got) == 24


def test_streaming_ignore_nulls_state_across_batches(spark, tmp_path):
    """The non-null tail / first-non-null capture / last-non-null /
    n-th-non-null buffer must all carry across micro-batches —
    including a key whose first batch is ALL NULL."""
    schema = "ts timestamp, user string, v long"
    src = tmp_path / "src"
    src.mkdir()
    m = 0
    for b, vals in enumerate([[None, None], [10, None, 20], [None, 30]]):
        rows = []
        for v in vals:
            rows.append((T0 + dt.timedelta(minutes=m), "u", v))
            m += 1
        spark.createDataFrame(rows, schema=schema).coalesce(1) \
             .write.mode("overwrite").parquet(str(src / f"b{b}"))
    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(str(src) + "/*"))
    out = running_agg(
        sdf, ["user"], [], order_cols=["ts"],
        offsets=[("v", 1, -1, "p1", True), ("v", 2, None, "p2", True)],
        firsts=[("v", "fv", True)],
        nths=[("v", 2, "n2", True)],
        lasts=[("v", "lnn")])
    sink = drain_to_memory(out)
    got = [(r["v"], r["p1"], r["p2"], r["fv"], r["n2"], r["lnn"])
           for r in spark.sql(f"select * from {sink} order by ts")
           .collect()]
    assert got == [
        (None, -1, None, None, None, None),
        (None, -1, None, None, None, None),
        (10,   -1, None, 10,   None, 10),
        (None, 10, None, 10,   None, 10),
        (20,   10, None, 10,   20,   20),
        (None, 20, 10,   10,   20,   20),
        (30,   20, 10,   10,   20,   30),
    ]


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(st.lists(st.tuples(st.integers(0, 1),                 # key
                          st.one_of(st.none(),
                                    st.integers(-9, 9))),    # value
                min_size=3, max_size=30),
       st.integers(1, 2),                                    # lag k
       st.integers(2, 3))                                    # micro-batches
def test_streaming_ignore_respect_composition_fuzz(
        spark, tmp_path_factory, rows, k, nb):
    """r11 fuzz shape: RESPECT and IGNORE NULLS treatments of the SAME
    function composed in one streaming SELECT (one stateful pass),
    over NULL-heavy values split across micro-batches, with an
    expression ORDER BY key — must equal the engine's batch OVER path
    on the same dialect text."""
    import math

    d = tmp_path_factory.mktemp("prop_inulls")
    data = [(i, f"k{kk}", v) for i, (kk, v) in enumerate(rows)]
    schema = "seq long, ka string, v long"
    per = max(1, math.ceil(len(data) / nb))
    for j in range(0, len(data), per):
        spark.createDataFrame(data[j:j + per], schema).coalesce(1) \
             .write.mode("overwrite").parquet(str(d / f"b{j:04d}"))
    frame = ("over (partition by ka order by seq + 0 rows between "
             "unbounded preceding and current row)")
    bare = "over (partition by ka order by seq + 0)"
    sql = (f"select seq, "
           f"lag(v, {k}, -1) ignore nulls {bare} as li, "
           f"lag(v, {k}, -1) {bare} as lr, "
           f"first_value(v) ignore nulls {frame} as fi, "
           f"first_value(v) respect nulls {frame} as fr, "
           f"last_value(v) ignore nulls {frame} as lvi, "
           f"nth_value(v, 2) ignore nulls {frame} as ni, "
           f"sum(v) {frame} as rs from ev")

    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(str(d) + "/*"))
    eng = FsqlEngine(spark)
    eng.register("ev", sdf)
    out = eng.sql(sql)
    assert out.isStreaming
    sink = drain_to_memory(out)
    cols = ("li", "lr", "fi", "fr", "lvi", "ni", "rs")
    got = {r["seq"]: tuple(r[c] for c in cols)
           for r in spark.sql(f"select * from {sink}").collect()}

    beng = FsqlEngine(spark)
    beng.register("ev", spark.read.parquet(str(d) + "/*"))
    exp = {r["seq"]: tuple(r[c] for c in cols)
           for r in beng.sql(sql).collect()}
    assert got == exp


def test_streaming_qualify_with_expression_keys(spark, src_dir):
    """QUALIFY shares _plan_streaming_over, so expression keys work
    there too: first-2-per-(small % 2) via a running count."""
    eng = _stream_engine(spark, src_dir)
    out = eng.sql(
        "select event_id, count(*) over (partition by small % 2 "
        "order by ts, event_id rows between unbounded preceding and "
        "current row) as rn from ev qualify rn <= 2")
    assert out.isStreaming
    sink = drain_to_memory(out)
    rows = spark.sql(f"select * from {sink}").collect()
    beng = FsqlEngine(spark)
    beng.register("ev", spark.read.parquet(src_dir))
    exp = {(r["event_id"], r["rn"]) for r in beng.sql(
        "select event_id, count(*) over (partition by small % 2 "
        "order by ts, event_id rows between unbounded preceding and "
        "current row) as rn from ev qualify rn <= 2").collect()}
    assert {(r["event_id"], r["rn"]) for r in rows} == exp
    assert len(rows) == 4   # 2 per parity class
