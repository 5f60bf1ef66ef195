"""As-of and range joins over the events table, oracled against DuckDB's
native ASOF JOIN / inequality joins."""

import pytest

from flink_dsl_spark.temporal import (
    asof_join, range_join, rollup_timeseries, sessionize,
)
from flink_dsl_spark.errors import PlanError

from .conftest import assert_matches_oracle


@pytest.fixture(scope="module")
def ev(engine):
    return engine.catalog.get("events")


def _purchases(ev):
    return ev.filter("event_type = 'purchase'") \
             .selectExpr("user_id", "event_id as purchase_id", "ts")


def _views(ev):
    return ev.filter("event_type = 'view'") \
             .selectExpr("user_id", "event_id as view_id", "ts", "value")


def test_asof_backward_matches_duckdb(ev, duck):
    out = asof_join(_purchases(ev), _views(ev), by="user_id",
                    left_on="ts", right_on="ts")
    out = out.selectExpr("user_id", "purchase_id", "view_id",
                         "round(value, 2) as view_value")
    assert_matches_oracle(out, duck, """
        SELECT p.user_id AS user_id, p.event_id AS purchase_id,
               v.event_id AS view_id, round(v.value, 2) AS view_value
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
          ON p.user_id = v.user_id AND p.ts >= v.ts""",
        "asof_backward")


def test_asof_forward_matches_duckdb(ev, duck):
    out = asof_join(_purchases(ev), _views(ev), by="user_id",
                    left_on="ts", right_on="ts", direction="forward")
    out = out.selectExpr("user_id", "purchase_id", "view_id")
    assert_matches_oracle(out, duck, """
        SELECT p.user_id AS user_id, p.event_id AS purchase_id,
               v.event_id AS view_id
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
          ON p.user_id = v.user_id AND p.ts <= v.ts""",
        "asof_forward")


def test_asof_tolerance_nulls_far_matches(ev, duck):
    out = asof_join(_purchases(ev), _views(ev), by="user_id",
                    left_on="ts", right_on="ts", tolerance_sec=3600)
    out = out.selectExpr("user_id", "purchase_id", "view_id")
    # tolerance nulls the nearest match when it is too old; it does NOT
    # fall through to the next-nearest (pandas merge_asof semantics)
    assert_matches_oracle(out, duck, """
        SELECT p.user_id AS user_id, p.event_id AS purchase_id,
               CASE WHEN epoch(p.ts) - epoch(v.ts) <= 3600
                    THEN v.event_id END AS view_id
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
          ON p.user_id = v.user_id AND p.ts >= v.ts""",
        "asof_tolerance")


def test_asof_rejects_bad_direction(ev):
    with pytest.raises(PlanError):
        asof_join(_purchases(ev), _views(ev), by="user_id",
                  left_on="ts", right_on="ts", direction="sideways")


def test_range_join_matches_duckdb(ev, duck):
    clicks = ev.filter("event_type = 'click'") \
               .selectExpr("user_id", "event_id as click_id", "ts")
    purch = _purchases(ev)
    out = range_join(clicks, purch, by="user_id",
                     left_on="ts", right_on="ts",
                     lower_sec=0, upper_sec=1800)
    out = out.selectExpr("user_id", "click_id", "purchase_id")
    assert_matches_oracle(out, duck, """
        SELECT c.user_id AS user_id, c.event_id AS click_id,
               p.event_id AS purchase_id
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND epoch(p.ts) >= epoch(c.ts)
         AND epoch(p.ts) <= epoch(c.ts) + 1800
        WHERE c.event_type = 'click' AND p.event_type = 'purchase'""",
        "range_join")


def test_range_join_no_duplicate_pairs(ev):
    clicks = ev.filter("event_type = 'click'") \
               .selectExpr("user_id", "event_id as click_id", "ts")
    purch = _purchases(ev)
    out = range_join(clicks, purch, by="user_id",
                     left_on="ts", right_on="ts",
                     lower_sec=-900, upper_sec=900)
    assert out.count() == out.select("click_id", "purchase_id") \
                             .distinct().count()


def test_sessionize_matches_duckdb(ev, duck):
    from pyspark.sql import functions as F
    out = sessionize(ev, "ts", "user_id", 1800,
                     {"n_events": F.count(F.lit(1)),
                      "total_value": F.round(F.sum("value"), 2)})
    out = out.select("user_id", "session_start", "n_events",
                     "total_value")
    # gaps-and-islands with Spark's closed boundary: a gap of exactly
    # 1800s still merges (new session only when gap > 1800)
    assert_matches_oracle(out, duck, """
        WITH o AS (
          SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (
          SELECT *, sum(new_sess) OVER
                 (PARTITION BY user_id ORDER BY ts
                  ROWS UNBOUNDED PRECEDING) AS sess_no
          FROM o)
        SELECT user_id, min(ts) AS session_start,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM s GROUP BY user_id, sess_no""",
        "sessionize")


def test_sessionize_exact_gap_boundary(spark):
    """Spark merges touching session extents: an event exactly gap
    seconds after its predecessor stays in the SAME session (closed
    boundary); one microsecond more opens a new one."""
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    rows = [(t0, "u"), (t0 + dt.timedelta(seconds=60), "u"),
            (t0 + dt.timedelta(seconds=120), "u"),
            (t0 + dt.timedelta(seconds=180, microseconds=1), "u")]
    df = spark.createDataFrame(rows, "ts timestamp, user string")
    out = sessionize(df, "ts", "user", 60)
    counts = sorted(r["n_events"] for r in out.collect())
    assert counts == [1, 3]


def test_sessionize_streaming(spark, tmp_path):
    """The same operator runs on a stream: session aggregation with a
    watermark, append mode.  Sessions emit once the watermark passes
    their end, so each micro-batch (one file per trigger) closes the
    sessions of the batch before it."""
    import datetime as dt
    from pyspark.sql import functions as F
    t0 = dt.datetime(2024, 1, 1)
    src = tmp_path / "sess_src"
    src.mkdir()

    def write(rows, fname):
        spark.createDataFrame(
            rows, "ts timestamp, user string, value double") \
            .coalesce(1).write.parquet(str(src / fname))

    write([(t0 + dt.timedelta(minutes=m), "u", 1.0)
           for m in (0, 5, 10, 120, 125)], "b1")
    # future sentinels: each advances the watermark past the previous
    # batch's sessions
    write([(t0 + dt.timedelta(hours=24), "z", 0.0)], "b2")
    write([(t0 + dt.timedelta(hours=48), "z", 0.0)], "b3")

    sdf = (spark.readStream
           .schema("ts timestamp, user string, value double")
           .option("maxFilesPerTrigger", 1)
           .parquet(str(src) + "/*/")
           .withWatermark("ts", "0 seconds"))
    out = sessionize(sdf, "ts", "user", 1800,
                     {"n_events": F.count(F.lit(1))})
    q = (out.writeStream.format("memory").queryName("sess_sink")
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {(r["user"], r["n_events"])
           for r in spark.sql("select * from sess_sink").collect()
           if r["user"] == "u"}
    assert got == {("u", 3), ("u", 2)}


def test_rollup_timeseries_matches_duckdb(ev, duck):
    out = rollup_timeseries(
        ev, "ts", "event_type",
        [("count", "*", "n"), ("sum", "value", "v"),
         ("max", "value", "mx")],
        granularities_sec=[3600, 86400])
    from pyspark.sql import functions as F
    out = out.withColumn("v", F.round("v", 2))
    assert_matches_oracle(out, duck, """
        WITH b AS (
          SELECT 3600 AS granularity_sec,
                 make_timestamp(CAST(floor(epoch(ts) / 3600) AS BIGINT)
                                    * 3600 * 1000000)
                     AS bucket_start,
                 event_type, count(*) AS n,
                 round(sum(value), 2) AS v, max(value) AS mx
          FROM events GROUP BY 2, 3
          UNION ALL
          SELECT 86400,
                 make_timestamp(CAST(floor(epoch(ts) / 86400) AS BIGINT)
                                    * 86400 * 1000000),
                 event_type, count(*),
                 round(sum(value), 2), max(value)
          FROM events GROUP BY 2, 3)
        SELECT granularity_sec, bucket_start, event_type, n, v, mx
        FROM b""",
        "rollup_timeseries")


def test_rollup_rejects_non_reaggregable(ev):
    with pytest.raises(PlanError, match="re-aggregable"):
        rollup_timeseries(ev, "ts", "event_type",
                          [("avg", "value", "a")], [3600])
    with pytest.raises(PlanError, match="multiple"):
        rollup_timeseries(ev, "ts", "event_type",
                          [("sum", "value", "v")], [3600, 5400])


def test_asof_differential_random_sets(spark, duck):
    """Differential property check: asof_join agrees with DuckDB's
    native ASOF JOIN on randomized (key, time) sets, including
    empty-right-side keys, interleaved times, and equal-timestamp
    left/right rows (inclusive bound)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    import pandas as pd

    @st.composite
    def _events(draw):
        n_left = draw(st.integers(1, 12))
        n_right = draw(st.integers(0, 12))
        keys = st.integers(0, 2)
        times = st.integers(0, 50)
        left = [(i, draw(keys), draw(times)) for i in range(n_left)]
        # unique (key, t) on the right: equal-ts right rows tie-break
        # differently across engines and are out of the ASOF contract
        seen, right = set(), []
        for i in range(n_right):
            k, t = draw(keys), draw(times)
            if (k, t) not in seen:
                seen.add((k, t))
                right.append((100 + i, k, t))
        return left, right

    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(_events())
    def check(ev_sets):
        left, right = ev_sets
        lpdf = pd.DataFrame(left, columns=["lid", "k", "t"])
        rpdf = pd.DataFrame(right, columns=["rid", "k", "t"])
        ldf = spark.createDataFrame(lpdf)
        rdf = (spark.createDataFrame(rpdf) if len(rpdf)
               else spark.createDataFrame([], "rid long, k long, t long"))
        got = asof_join(ldf, rdf, by="k", left_on="t", right_on="t") \
            .select("lid", "rid").toPandas() \
            .sort_values("lid").reset_index(drop=True)
        duck.register("__l", lpdf)
        duck.register("__r", rpdf)
        exp = duck.sql("""
            SELECT l.lid AS lid, r.rid AS rid
            FROM __l l ASOF LEFT JOIN __r r
              ON l.k = r.k AND l.t >= r.t
            ORDER BY lid""").df().reset_index(drop=True)
        assert len(got) == len(exp)
        assert got["lid"].tolist() == exp["lid"].tolist()
        g = got["rid"].fillna(-1).astype("int64").tolist()
        e = exp["rid"].fillna(-1).astype("int64").tolist()
        assert g == e

    check()


def test_range_join_differential_random_sets(spark, duck):
    """Differential property check: the banded range join produces
    EXACTLY the pairs of a plain inequality join on randomized sets,
    across negative/positive/zero-width bands and boundary-exact
    distances."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    import pandas as pd

    @st.composite
    def _case(draw):
        n_left = draw(st.integers(1, 10))
        n_right = draw(st.integers(1, 10))
        keys = st.integers(0, 2)
        times = st.integers(0, 40)
        left = [(i, draw(keys), draw(times)) for i in range(n_left)]
        right = [(100 + i, draw(keys), draw(times))
                 for i in range(n_right)]
        lo = draw(st.integers(-10, 10))
        hi = lo + draw(st.integers(0, 15))
        return left, right, lo, hi

    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(_case())
    def check(case):
        left, right, lo, hi = case
        lpdf = pd.DataFrame(left, columns=["lid", "k", "t"])
        rpdf = pd.DataFrame(right, columns=["rid", "k", "t"])
        out = range_join(spark.createDataFrame(lpdf),
                         spark.createDataFrame(rpdf),
                         by="k", left_on="t", right_on="t",
                         lower_sec=lo, upper_sec=hi)
        got = {(r["lid"], r["rid"]) for r in out.collect()}
        duck.register("__rl", lpdf)
        duck.register("__rr", rpdf)
        exp = {(a, b) for a, b in duck.sql(f"""
            SELECT l.lid, r.rid FROM __rl l JOIN __rr r
              ON l.k = r.k AND r.t >= l.t + ({lo})
             AND r.t <= l.t + ({hi})""").fetchall()}
        assert got == exp

    check()


def test_asof_join_single_exchange_plan(ev):
    """The as-of join must plan as ONE hash exchange (union + window),
    never as a join operator — the inequality-join formulation Catalyst
    would pick for the naive query is per-key quadratic."""
    import io
    from contextlib import redirect_stdout
    out = asof_join(_purchases(ev), _views(ev), by="user_id",
                    left_on="ts", right_on="ts")
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain(mode="simple")
    plan = buf.getvalue()
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_range_join_is_equi_join_plan(ev):
    """The banding must surface as an equality join — a nested-loop here
    is the quadratic plan the operator exists to avoid."""
    import io
    from contextlib import redirect_stdout
    clicks = ev.filter("event_type = 'click'") \
               .selectExpr("user_id", "event_id as click_id", "ts")
    out = range_join(clicks, _purchases(ev), by="user_id",
                     left_on="ts", right_on="ts",
                     lower_sec=0, upper_sec=1800)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain(mode="simple")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
