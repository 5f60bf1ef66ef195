"""The Python-stateful stream passes (streaming/stateful.py): a key's
rows split across several Arrow chunks must be processed in order, and
each pass must receive only the columns it reads, with a timestamp
order key shipped as its ``unix_micros`` bigint."""

import datetime as dt
import math

import numpy as np
import pandas as pd
import pytest

from flink_dsl_spark import FsqlEngine

from .conftest import drain_to_memory

T0 = dt.datetime(2026, 1, 1, 0, 0, 0)
SCHEMA = ("event_id long, ts timestamp, tb timestamp, user string, "
          "value double, small long, kind string")

_OVER = ("over (partition by user order by ts, event_id "
         "rows between unbounded preceding and current row)")


@pytest.fixture(scope="module")
def shuffled_dir(spark, tmp_path_factory):
    """3 users x 40 rows written in a scrambled order, so each key's
    rows reach the stateful pass out of (ts, value) order; value is
    distinct per row and never a multiple of 5; tb has ties (two rows
    per user per hour)."""
    d = str(tmp_path_factory.mktemp("stateful_src"))
    n = 120
    rows = [(i, T0 + dt.timedelta(minutes=i),
             T0 + dt.timedelta(hours=i // 6), "u%d" % (i % 3),
             float(i) + 0.5, i % 4, "k%d" % (i % 5))
            for i in ((j * 77) % n for j in range(n))]
    spark.createDataFrame(rows, schema=SCHEMA) \
        .coalesce(1).write.mode("overwrite").parquet(d)
    return d


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.mark.parametrize("sql,cols", [
    # count_window_agg, tumbling and sliding
    ("select user, sum(value) as sv, count(*) as n, max(value) as mx "
     "from ev [size 5 partitioned on user] group by user",
     ["user", "window_no", "sv", "n", "mx"]),
    ("select user, sum(value) as sv, min(value) as mn "
     "from ev [size 6 every 4 partitioned on user] group by user",
     ["user", "trigger", "sv", "mn"]),
    # delta_window_agg
    ("select user, sum(value) as sv, count(*) as n "
     "from ev [size 10 on value every 5 on value partitioned on user] "
     "group by user",
     ["user", "trigger", "sv", "n"]),
    # running_agg
    (f"select event_id, user, sum(value) {_OVER} as rs, "
     f"count(*) {_OVER} as rn, "
     f"lag(kind, 1, 'none') over (partition by user "
     f"order by ts, event_id) as prev from ev",
     ["event_id", "user", "rs", "rn", "prev"]),
])
def test_keys_split_across_chunks_match_batch(spark, shuffled_dir, sql,
                                               cols):
    """With 3 records per Arrow batch every key reaches the pass as
    ~14 chunks in scrambled order; the streaming result must still
    equal the batch emulation (windows.py / the batch OVER window)."""
    beng = FsqlEngine(spark)
    beng.register("ev", spark.read.parquet(shuffled_dir),
                  event_time_col="ts")
    expected = _rows(beng.sql(sql), cols)

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "3")
    try:
        seng = FsqlEngine(spark)
        seng.register("ev", spark.readStream.schema(SCHEMA)
                      .parquet(shuffled_dir), event_time_col="ts")
        got = _rows(spark.table(drain_to_memory(seng.sql(sql))), cols)
    finally:
        spark.conf.set(conf, old)
    assert len(expected) > 0
    assert got == expected


@pytest.fixture()
def pass_inputs(monkeypatch):
    """Records the (name, type) schema of every frame handed to
    applyInPandasWithState."""
    from pyspark.sql.group import GroupedData
    seen = []
    orig = GroupedData.applyInPandasWithState

    def spy(self, *args, **kwargs):
        seen.append([(f.name, f.dataType.simpleString())
                     for f in self._df.schema.fields])
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(GroupedData, "applyInPandasWithState", spy)
    return seen


@pytest.mark.parametrize("sql,expected", [
    # s02 shape: count window, event-time order key as bigint
    ("select user, sum(value) as sv, count(*) as n, max(value) as mx "
     "from ev [size 5 partitioned on user] group by user",
     [("user", "string"), ("ts", "bigint"), ("value", "double"),
      ("__ones", "double")]),
    # s04 shape: delta window reads the key and the delta column only
    ("select user, count(*) as cnt, round(sum(value), 2) as sv "
     "from ev [size 50 on value every 20 on value partitioned on user] "
     "group by user",
     [("user", "string"), ("value", "double"), ("__ones", "double")]),
    # s11 shape: ts is only an order key, so it travels as bigint alone
    (f"select user, event_id, sum(value) {_OVER} as s, "
     f"count(*) {_OVER} as n, max(value) {_OVER} as m from ev",
     [("event_id", "bigint"), ("user", "string"), ("value", "double"),
      ("__rw_key0", "bigint")]),
    # s13 shape: lag inputs plus the running sum's input
    ("select user, event_id, "
     "lag(kind, 1, 'none') over (partition by user "
     "order by ts, event_id) as p1, "
     "lag(event_id, 2) over (partition by user "
     "order by ts, event_id) as p2, "
     f"sum(value) {_OVER} as s from ev",
     [("event_id", "bigint"), ("user", "string"), ("value", "double"),
      ("kind", "string"), ("__rw_key0", "bigint")]),
    # SELECT * keeps every column (ts too)
    (f"select *, count(*) {_OVER} as n from ev",
     [("event_id", "bigint"), ("ts", "timestamp"), ("tb", "timestamp"),
      ("user", "string"), ("value", "double"), ("small", "bigint"),
      ("kind", "string"), ("__rw_key0", "bigint")]),
    # QUALIFY on a column the SELECT does not project
    (f"select event_id, count(*) {_OVER} as n from ev "
     "qualify n <= 3 and small > 0",
     [("event_id", "bigint"), ("user", "string"), ("small", "bigint"),
      ("__rw_key0", "bigint")]),
    # ORDER BY on a column the SELECT does not project
    (f"select event_id, count(*) {_OVER} as n from ev order by kind",
     [("event_id", "bigint"), ("user", "string"), ("kind", "string"),
      ("__rw_key0", "bigint")]),
    # expression keys: hidden columns, the source column drops out
    ("select event_id, row_number() over (partition by small % 2 "
     "order by ts, event_id) as rn from ev",
     [("event_id", "bigint"), ("__rw_key0", "bigint"),
      ("__rw_key1", "bigint")]),
    # rank/dense_rank over a timestamp key
    ("select event_id, rank() over (partition by user order by ts) "
     "as r, dense_rank() over (partition by user order by ts) as d "
     "from ev",
     [("event_id", "bigint"), ("user", "string"),
      ("__rw_key0", "bigint")]),
])
def test_stateful_pass_receives_only_read_columns(
        spark, shuffled_dir, pass_inputs, sql, expected):
    eng = FsqlEngine(spark)
    eng.register("ev", spark.readStream.schema(SCHEMA)
                 .parquet(shuffled_dir), event_time_col="ts")
    out = eng.sql(sql)
    assert out.isStreaming
    assert pass_inputs == [expected]


def test_rank_over_timestamp_key_matches_batch(spark, shuffled_dir):
    """Peers on the bigint order key are exactly the timestamp peers:
    ranking over a tied timestamp key equals the batch window."""
    sql = ("select event_id, "
           "rank() over (partition by user order by tb) as r, "
           "dense_rank() over (partition by user order by tb) as d "
           "from ev")
    beng = FsqlEngine(spark)
    beng.register("ev", spark.read.parquet(shuffled_dir))
    expected = _rows(beng.sql(sql), ["event_id", "r", "d"])
    seng = FsqlEngine(spark)
    seng.register("ev", spark.readStream.schema(SCHEMA)
                  .parquet(shuffled_dir))
    got = _rows(spark.table(drain_to_memory(seng.sql(sql))),
                ["event_id", "r", "d"])
    assert len(set(r for _e, r, _d in expected)) < len(expected)
    assert got == expected


# --------------------------------------------------------------------------
# The vectorized per-key bodies against per-row loop references
# --------------------------------------------------------------------------

class _State:
    """GroupState stand-in: carries the tuple a body stores."""

    def __init__(self):
        self.get = None

    @property
    def exists(self):
        return self.get is not None

    def update(self, value):
        self.get = value


def _ref_agg(fn, vals):
    vals = [v for v in vals if not math.isnan(v)]
    if fn == "count":
        return float(len(vals))
    if not vals:
        return None
    if fn == "sum":
        return float(sum(vals))
    if fn == "min":
        return float(min(vals))
    if fn == "max":
        return float(max(vals))
    return float(sum(vals)) / len(vals)


def _ref_count(batches, size, every, fns):
    """Per-row count windows: each batch in processing order."""
    m = every or size
    seen, bufs, out = 0, [[] for _ in fns], []
    for rows in batches:
        for _o, vals in rows:
            seen += 1
            for b, v in zip(bufs, vals):
                b.append(v)
                if len(b) > size:
                    del b[0]
            if seen % m == 0:
                out.append((seen if every else seen // m - 1,
                            *[_ref_agg(f, b) for f, b in zip(fns, bufs)]))
    return out


def _ref_delta(batches, size, every, fns):
    """Per-row delta windows: each batch sorted by position, the
    triggers fired one at a time as positions pass them."""
    last_t, pos, bufs, out = None, [], [[] for _ in fns], []
    for rows in batches:
        for c, vals in rows:
            t = math.floor((c - 1e-12) / every) * every
            first = (math.floor(pos[0] / every) * every
                     if pos else t) - every
            start = last_t if last_t is not None else first
            nxt = math.floor(start / every) * every + every
            while nxt < c - 1e-12:
                idx = [i for i, p in enumerate(pos)
                       if (nxt - size) + 1e-12 < p <= nxt + 1e-12]
                if idx:
                    out.append((float(nxt), *[
                        _ref_agg(f, [b[i] for i in idx])
                        for f, b in zip(fns, bufs)]))
                last_t = nxt
                nxt += every
            pos.append(c)
            for b, v in zip(bufs, vals):
                b.append(v)
            if last_t is not None:
                while pos and pos[0] <= (last_t - size) + 1e-12:
                    del pos[0]
                    for b in bufs:
                        del b[0]
    return out


def _body(spark, monkeypatch, build):
    """The per-key function ``build(sdf)`` hands to
    applyInPandasWithState (planned on a rate stream, never run)."""
    from pyspark.sql import functions as F
    from pyspark.sql.group import GroupedData
    got = {}

    def spy(self, func, *args, **kwargs):
        got["fn"] = func
        return self.count()

    monkeypatch.setattr(GroupedData, "applyInPandasWithState", spy)
    sdf = spark.readStream.format("rate").load().select(
        F.col("value").alias("k"), F.col("value").cast("double").alias("o"),
        F.col("value").cast("double").alias("v0"),
        F.col("value").cast("double").alias("v1"))
    build(sdf)
    return got["fn"]


def _drive(fn, batches, chunk):
    """Feed each batch (rows of (o, (v0, v1)) in arrival order) to the
    body in chunks of ``chunk`` rows, carrying the state; returns the
    emitted rows without the key column."""
    state, out = _State(), []
    for rows in batches:
        pdf = pd.DataFrame({"o": [o for o, _v in rows],
                            "v0": [v[0] for _o, v in rows],
                            "v1": [v[1] for _o, v in rows]})
        chunks = [pdf.iloc[i:i + chunk] for i in range(0, len(pdf), chunk)]
        for res in fn((7,), iter(chunks), state):
            out.extend(_bits(r[1:]) for r in res.itertuples(index=False))
    return out


def _bits(row):
    """A result row with each float as its exact bit pattern (signed
    zeros differ) and NaN as None (NULL)."""
    return tuple(None if x is None or x != x
                 else float(x).hex() if isinstance(x, float) else x
                 for x in row)


def _batches(rng, n_batches, monotone):
    """Random batches: positions on a half-unit grid (ties and exact
    trigger hits), values with NULLs (NaN), signed zeros and
    negatives."""
    out, base = [], 0.0
    for _ in range(n_batches):
        n = int(rng.integers(0, 40))
        pos = base + rng.integers(0, 120, n) / 2.0
        vals = rng.choice([-0.0, 0.0, np.nan, 1.5, -2.25, 3.1, 1e16, -7.0],
                          size=(n, 2))
        vals[:, 1] = rng.normal(size=n)
        out.append([(float(p), (float(a), float(b)))
                    for p, (a, b) in zip(pos, vals)])
        if monotone and n:
            base = float(pos.max())
    return out


FNS = ["sum", "count", "min", "max", "avg"]


@pytest.mark.parametrize("size,every", [(5, None), (4, 3), (3, 7), (1, 1)])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_count_body_matches_row_loop(spark, monkeypatch, size, every, seed):
    from flink_dsl_spark.streaming import count_window_agg
    aggs = [(f, c, f"{f}_{c}") for c in ("v0", "v1") for f in FNS]
    fn = _body(spark, monkeypatch, lambda s: count_window_agg(
        s, ["k"], aggs, size, every=every, order_col="o"))
    batches = _batches(np.random.default_rng(seed), 4, monotone=False)
    ordered = [sorted(b, key=lambda r: r[0]) for b in batches]
    ref = _ref_count([[(o, (v[0],) * 5 + (v[1],) * 5) for o, v in b]
                      for b in ordered], size, every, FNS * 2)
    assert ref
    assert _drive(fn, batches, chunk=4) == [_bits(r) for r in ref]


@pytest.mark.parametrize("size,every", [(10.0, 5.0), (5.0, 5.0),
                                        (3.0, 7.0), (25.0, 1.0)])
@pytest.mark.parametrize("seed,monotone", [(0, True), (1, True),
                                           (2, False)])
def test_delta_body_matches_row_loop(spark, monkeypatch, size, every,
                                     seed, monotone):
    from flink_dsl_spark.streaming import delta_window_agg
    aggs = [(f, c, f"{f}_{c}") for c in ("v0", "v1") for f in FNS]
    fn = _body(spark, monkeypatch, lambda s: delta_window_agg(
        s, ["k"], aggs, size, every, delta_col="o"))
    batches = _batches(np.random.default_rng(seed), 4, monotone)
    ordered = [sorted(b, key=lambda r: r[0]) for b in batches]
    ref = _ref_delta([[(o, (v[0],) * 5 + (v[1],) * 5) for o, v in b]
                      for b in ordered], size, every, FNS * 2)
    assert ref
    assert _drive(fn, batches, chunk=4) == [_bits(r) for r in ref]
