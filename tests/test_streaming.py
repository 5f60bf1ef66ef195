"""True Structured-Streaming execution tests (SURVEY.md §2.9, M4/M5).

Sources are file streams (parquet) driven with availableNow triggers to
memory sinks — deterministic micro-batch assertions, no wall-clock
dependence.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from flink_dsl_spark import FsqlEngine, PlanError
from flink_dsl_spark.streaming import count_window_agg

from .conftest import drain_to_memory

T0 = dt.datetime(2026, 1, 1, 0, 0, 0)


@pytest.fixture(scope="module")
def src_dir(spark, tmp_path_factory):
    """24 deterministic rows, 2 users, one row per 5 minutes."""
    d = str(tmp_path_factory.mktemp("stream_src"))
    rows = [(i, T0 + dt.timedelta(minutes=5 * i), "u%d" % (i % 2),
             float(i + 1)) for i in range(24)]
    df = spark.createDataFrame(
        rows, schema="event_id long, ts timestamp, user string, value double")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    return d


@pytest.fixture()
def sdf(spark, src_dir):
    schema = ("event_id long, ts timestamp, user string, value double")
    return spark.readStream.schema(schema).parquet(src_dir)


# --------------------------------------------------------------------------
# M4: time windows, watermarks, derived streams — streaming-native
# --------------------------------------------------------------------------

def test_fsql_time_tumbling_streaming(spark, sdf):
    eng = FsqlEngine(spark)
    eng.register("ev", sdf, event_time_col="ts")
    out = eng.sql(
        "select user, count(*) as cnt from ev [size 1 h on ts] "
        "group by user")
    assert out.isStreaming
    sink = drain_to_memory(out, "complete")
    rows = spark.sql(f"select * from {sink}").collect()
    # 24 rows over 115 min -> 2 hour-windows x 2 users
    got = {(r["user"], r["cnt"]) for r in rows}
    assert got == {("u0", 6), ("u1", 6)}
    assert len(rows) == 4


def test_fsql_sliding_window_streaming(spark, sdf):
    eng = FsqlEngine(spark)
    eng.register("ev", sdf, event_time_col="ts")
    out = eng.sql(
        "select count(*) as cnt from ev [size 1 h on ts every 30 min]")
    sink = drain_to_memory(out, "complete")
    cnts = [r["cnt"] for r in spark.sql(f"select * from {sink}").collect()]
    # hopping windows: each row lands in 2 windows => total = 48
    assert sum(cnts) == 48


def test_fsql_partitioned_window_streaming(spark, sdf):
    eng = FsqlEngine(spark)
    eng.register("ev", sdf, event_time_col="ts")
    out = eng.sql(
        "select user, round(sum(value), 2) as sv "
        "from ev [size 2 h on ts partitioned on user] group by user")
    sink = drain_to_memory(out, "complete")
    got = {(r["user"], r["sv"])
           for r in spark.sql(f"select * from {sink}").collect()}
    # one 2h window holds all 24 rows; sum 1..24 split by parity
    assert got == {("u0", 144.0), ("u1", 156.0)}


def test_fsql_session_window_streaming(spark, tmp_path):
    """[session N unit on c] on a STREAM: native session_window
    aggregation, auto-watermarked, append mode (sessions emit as the
    watermark passes them — one file per micro-batch, later sentinel
    files advance it)."""
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    src = tmp_path / "fsql_sess"
    src.mkdir()

    def write(rows, fname):
        spark.createDataFrame(
            rows, "ts timestamp, user string, value double") \
            .coalesce(1).write.parquet(str(src / fname))

    write([(t0 + dt.timedelta(minutes=m), "u", 1.0)
           for m in (0, 5, 10, 120, 125)], "b1")
    write([(t0 + dt.timedelta(hours=24), "z", 0.0)], "b2")
    write([(t0 + dt.timedelta(hours=48), "z", 0.0)], "b3")

    eng = FsqlEngine(spark)
    sdf = (spark.readStream
           .schema("ts timestamp, user string, value double")
           .option("maxFilesPerTrigger", 1)
           .parquet(str(src) + "/*/"))
    eng.register("ev", sdf, event_time_col="ts")
    out = eng.sql("select user, count(*) as cnt from ev "
                  "[session 30 min on ts] group by user")
    assert out.isStreaming
    sink = drain_to_memory(out, "append")
    got = {(r["user"], r["cnt"])
           for r in spark.sql(f"select * from {sink}").collect()
           if r["user"] == "u"}
    assert got == {("u", 3), ("u", 2)}


def test_fsql_session_window_batch_oracle(engine, duck):
    from .conftest import assert_matches_oracle
    out = engine.sql(
        "select user_id, count(*) as n_events from events "
        "[session 30 min on ts] group by user_id")
    assert_matches_oracle(out, duck, """
        WITH o AS (
          SELECT user_id, ts,
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
        SELECT user_id, count(*) AS n_events,
               min(ts) AS window_start,
               max(ts) + INTERVAL 30 MINUTE AS window_end
        FROM s GROUP BY user_id, sess_no""",
        "fsql_session_batch")


def test_fsql_session_snapshot_latest_run(engine, duck):
    """Non-aggregating session query = rows of the LATEST
    gap-delimited run."""
    got = sorted(r["event_id"] for r in engine.sql(
        "select event_id from events [session 2 h on ts]").collect())
    exp = sorted(r[0] for r in duck.sql("""
        WITH starts AS (
          SELECT ts FROM (
            SELECT ts, lag(ts) OVER (ORDER BY ts) AS prev FROM events)
          WHERE prev IS NULL OR epoch(ts) - epoch(prev) > 7200)
        SELECT event_id FROM events
        WHERE ts >= (SELECT max(ts) FROM starts)""").fetchall())
    assert got == exp and len(got) > 0


def test_fsql_session_window_rejections(spark, sdf):
    eng = FsqlEngine(spark)
    eng.register("ev", sdf, event_time_col="ts")
    with pytest.raises(PlanError, match="time gap"):
        eng.sql("select count(*) as c from ev [session 10]")
    with pytest.raises(PlanError, match="every"):
        eng.sql("select count(*) as c from ev "
                "[session 10 min on ts every 5 min]")


def test_watermark_update_mode(spark, sdf):
    eng = FsqlEngine(spark)
    eng.register("ev", sdf, event_time_col="ts", watermark="10 minutes")
    out = eng.sql(
        "select user, count(*) as cnt from ev [size 1 h on ts] "
        "group by user")
    sink = drain_to_memory(out, "update")
    total = sum(r["cnt"]
                for r in spark.sql(f"select * from {sink}").collect())
    assert total == 24


def test_append_mode_auto_watermark(spark, sdf):
    # no watermark registered: the planner defaults one (= window size)
    # so append mode works and emits only finalized windows
    eng = FsqlEngine(spark)
    eng.register("ev", sdf, event_time_col="ts")
    out = eng.sql("select count(*) as cnt from ev [size 10 min on ts]")
    sink = drain_to_memory(out, "append")
    rows = spark.sql(f"select * from {sink}").collect()
    # rows at 0:00..1:55 every 5 min; final watermark = 1:55 - 10 min =
    # 1:45 -> the ten windows ending 0:10..1:40 are final, 2 rows each
    assert len(rows) == 10
    assert all(r["cnt"] == 2 for r in rows)


def test_derived_stream_streaming(spark, sdf):
    eng = FsqlEngine(spark)
    eng.register("ev", sdf, event_time_col="ts")
    out = eng.sql_script("""
        create stream fast as
            (select event_id as id, value as speed from ev
             where value > 20.0);
        select id, speed from fast where speed <= 23.0""")
    assert out.isStreaming
    sink = drain_to_memory(out, "append")
    got = sorted(r["id"] for r in
                 spark.sql(f"select * from {sink}").collect())
    assert got == [20, 21, 22]          # values 21..23


def test_streaming_file_source_via_ddl(spark, src_dir):
    eng = FsqlEngine(spark, streaming=True)
    eng.sql(f"""create stream ev
                (event_id long, ts timestamp, user string, value double)
                source file('{src_dir}')""")
    df = eng.catalog.get("ev")
    assert df.isStreaming
    sink = drain_to_memory(df.groupBy("user").count(), "complete")
    got = {(r["user"], r["count"])
           for r in spark.sql(f"select * from {sink}").collect()}
    assert got == {("u0", 12), ("u1", 12)}


def test_socket_source_live(spark):
    """End-to-end socket source: a real TCP server feeds CSV lines into
    `create stream ... source host(...)` and out a memory sink."""
    import socket
    import threading
    import time

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    server.listen(1)
    port = server.getsockname()[1]
    stop = threading.Event()

    def serve():
        conn, _ = server.accept()
        try:
            conn.sendall(b"1,x,2.5\n2,y,3.5\n3,z,4.5\n")
            stop.wait(90)          # keep the connection open until done
        finally:
            conn.close()

    th = threading.Thread(target=serve, daemon=True)
    th.start()
    try:
        eng = FsqlEngine(spark)
        eng.sql(f"create stream sock (a int, b string, c double) "
                f"source host('127.0.0.1', {port})")
        df = eng.catalog.get("sock")
        assert df.isStreaming
        q = eng.start_sink(df, name="socksink", available_now=False)
        try:
            deadline = time.time() + 90
            while time.time() < deadline:
                if spark.sql("select count(*) c from socksink") \
                        .first()["c"] >= 3:
                    break
                time.sleep(0.5)
            rows = sorted((r["a"], r["b"], r["c"])
                          for r in spark.table("socksink").collect())
            assert rows == [(1, "x", 2.5), (2, "y", 3.5), (3, "z", 4.5)]
        finally:
            q.stop()
    finally:
        stop.set()
        server.close()


def test_socket_line_parsing(spark):
    # socket source itself needs a live TCP endpoint; the line-decode path
    # (value -> typed columns, engine._parse_text_lines) is testable batch
    eng = FsqlEngine(spark)
    from flink_dsl_spark.catalog import column_defs_to_struct
    from flink_dsl_spark.parser import parse
    stmt = parse("create stream s (a int, b string, c double) "
                 "source host('localhost', 9999)")
    schema = column_defs_to_struct(stmt.schema)
    lines = spark.createDataFrame([("1,x,2.5",), ("2,y,3.5",)], ["value"])
    out = eng._parse_text_lines(lines, schema).collect()
    assert [(r["a"], r["b"], r["c"]) for r in out] == \
        [(1, "x", 2.5), (2, "y", 3.5)]


def test_socket_source_survives_malformed_lines(spark):
    """A garbage line on the wire must not kill the stream: it decodes to
    an all-null row (CSV PERMISSIVE semantics) and good lines around it
    still arrive."""
    import socket
    import threading
    import time

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    server.listen(1)
    port = server.getsockname()[1]
    stop = threading.Event()

    def serve():
        conn, _ = server.accept()
        try:
            conn.sendall(b"1,x,2.5\n")
            conn.sendall(b"this is not csv at all \x00\xff\n")
            conn.sendall(b"2,y,3.5\n")
            stop.wait(90)
        finally:
            conn.close()

    threading.Thread(target=serve, daemon=True).start()
    try:
        eng = FsqlEngine(spark)
        eng.sql(f"create stream sockbad (a int, b string, c double) "
                f"source host('127.0.0.1', {port})")
        q = eng.start_sink(eng.catalog.get("sockbad"), name="sockbadsink",
                           available_now=False)
        try:
            deadline = time.time() + 90
            while time.time() < deadline:
                if spark.sql("select count(*) c from sockbadsink") \
                        .first()["c"] >= 3:
                    break
                time.sleep(0.5)
            assert q.isActive, "stream died on a malformed line"
            rows = spark.table("sockbadsink").collect()
            good = sorted((r["a"], r["b"], r["c"]) for r in rows
                          if r["a"] is not None)
            assert good == [(1, "x", 2.5), (2, "y", 3.5)]
        finally:
            q.stop()
    finally:
        stop.set()
        server.close()


# --------------------------------------------------------------------------
# M5: stateful count windows on streams
# --------------------------------------------------------------------------

def test_count_tumbling_stateful(spark, sdf):
    out = count_window_agg(
        sdf, key_cols=["user"],
        aggs=[("sum", "value", "sv"), ("count", "value", "n")],
        size=4, order_col="ts")
    assert out.isStreaming
    sink = drain_to_memory(out, "append")
    rows = spark.sql(f"select * from {sink}").collect()
    got = {(r["user"], r["window_no"], r["sv"], r["n"]) for r in rows}
    # u0 values: 1,3,5,...,23; u1: 2,4,...,24; windows of 4 rows
    assert got == {
        ("u0", 0, 16.0, 4.0), ("u0", 1, 48.0, 4.0), ("u0", 2, 80.0, 4.0),
        ("u1", 0, 20.0, 4.0), ("u1", 1, 52.0, 4.0), ("u1", 2, 84.0, 4.0),
    }


def test_count_sliding_stateful(spark, sdf):
    out = count_window_agg(
        sdf, key_cols=[],
        aggs=[("avg", "value", "av"), ("max", "value", "mx")],
        size=6, every=3, order_col="ts")
    sink = drain_to_memory(out, "append")
    rows = sorted(spark.sql(f"select * from {sink}").collect(),
                  key=lambda r: r["trigger"])
    # triggers at rows 3,6,9,...,24 (values are 1..24 in ts order);
    # sliding windows carry `trigger` = firing row count, same column
    # name and values as the batch exploded-trigger emulation
    assert [r["trigger"] for r in rows] == [3, 6, 9, 12, 15, 18, 21, 24]
    assert len(rows) == 8
    # first trigger: only 3 rows seen -> avg(1,2,3)=2, max=3
    assert (rows[0]["av"], rows[0]["mx"]) == (2.0, 3.0)
    # later triggers aggregate the last 6 rows: e.g. at row 24,
    # avg(19..24)=21.5, max=24
    assert (rows[-1]["av"], rows[-1]["mx"]) == (21.5, 24.0)


def test_count_window_state_across_batches(spark, src_dir):
    # maxFilesPerTrigger=1 with a multi-file source => several
    # micro-batches; state (partial window) must carry across them
    sdf = (spark.readStream
           .schema("event_id long, ts timestamp, user string, value double")
           .option("maxFilesPerTrigger", 1).parquet(src_dir))
    out = count_window_agg(
        sdf, key_cols=["user"], aggs=[("sum", "value", "sv")],
        size=4, order_col="ts")
    sink = drain_to_memory(out, "append")
    rows = spark.sql(f"select * from {sink}").collect()
    assert {(r["user"], r["window_no"], r["sv"]) for r in rows} == {
        ("u0", 0, 16.0), ("u0", 1, 48.0), ("u0", 2, 80.0),
        ("u1", 0, 20.0), ("u1", 1, 52.0), ("u1", 2, 84.0),
    }


def test_count_window_checkpoint_recovery(spark, tmp_path):
    """State survives a full query RESTART: run with a checkpoint, stop,
    add more source files, run again — the partial window buffered in
    the state store completes with the new data."""
    import datetime as dt
    src = tmp_path / "src"
    src.mkdir()
    outp, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    schema = "ts timestamp, user string, value double"

    def write_batch(vals, fname):
        rows = [(T0 + dt.timedelta(minutes=v), "u", float(v))
                for v in vals]
        spark.createDataFrame(rows, schema=schema) \
             .coalesce(1).write.mode("overwrite") \
             .parquet(str(src / fname))

    def run_once():
        sdf = (spark.readStream.schema(schema)
               .parquet(str(src) + "/*"))
        out = count_window_agg(sdf, ["user"],
                               [("sum", "value", "sv")],
                               size=4, order_col="ts")
        q = (out.writeStream.format("parquet").option("path", outp)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    write_batch([1, 2, 3, 4, 5, 6], "b1")
    run_once()                      # window 0 (1..4) emits; 5,6 buffered
    write_batch([7, 8, 9, 10, 11, 12], "b2")
    run_once()                      # windows 1 (5..8) and 2 (9..12)
    got = {(r["window_no"], r["sv"])
           for r in spark.read.parquet(outp).collect()}
    assert got == {(0, 10.0), (1, 26.0), (2, 42.0)}


def test_mixed_axis_window_rejected(spark, sdf):
    eng = FsqlEngine(spark)
    eng.register("ev", sdf, event_time_col="ts")
    with pytest.raises(PlanError, match="time-based"):
        eng.sql("select count(*) as c from ev [size 1 h on ts every 10] ")
    with pytest.raises(PlanError, match="count-based"):
        eng.sql("select count(*) as c from ev [size 10 every 5 min]")


def test_count_window_rejects_bad_fn(sdf):
    with pytest.raises(PlanError):
        count_window_agg(sdf, [], [("median", "value", "m")], size=4)


def test_fsql_count_window_streaming_routes_to_stateful(spark, sdf):
    # FSQL count-window text executes on a stream via the stateful op
    eng = FsqlEngine(spark)
    eng.register("ev", sdf, event_time_col="ts")
    out = eng.sql("select user, sum(value) as sv, count(*) as n "
                  "from ev [size 4 partitioned on user] group by user")
    assert out.isStreaming
    sink = drain_to_memory(out, "append")
    rows = spark.sql(f"select * from {sink}").collect()
    got = {(r["user"], r["window_no"], r["sv"], r["n"]) for r in rows}
    assert got == {
        ("u0", 0, 16.0, 4), ("u0", 1, 48.0, 4), ("u0", 2, 80.0, 4),
        ("u1", 0, 20.0, 4), ("u1", 1, 52.0, 4), ("u1", 2, 84.0, 4),
    }


def test_fsql_count_sliding_streaming(spark, sdf):
    eng = FsqlEngine(spark)
    eng.register("ev", sdf, event_time_col="ts")
    out = eng.sql("select count(*) as n from ev [size 6 every 3]")
    sink = drain_to_memory(out, "append")
    rows = spark.sql(f"select * from {sink}").collect()
    assert len(rows) == 8             # triggers at 3,6,...,24
    assert sum(r["n"] for r in rows) == 3 + 6 * 7


def test_fsql_count_window_expression_aggs_and_having(spark, sdf):
    # arbitrary scalar expressions over agg calls + HAVING post-filter
    eng = FsqlEngine(spark)
    eng.register("ev", sdf, event_time_col="ts")
    out = eng.sql("""
        select user, round(sum(value) / count(*), 2) as avg_v,
               case when max(value) > 20 then 'hi' else 'lo' end as tag
        from ev [size 4 partitioned on user] group by user
        having min(value) > 2""")
    sink = drain_to_memory(out, "append")
    rows = spark.sql(f"select * from {sink}").collect()
    got = {(r["user"], r["window_no"], r["avg_v"], r["tag"]) for r in rows}
    # u0 windows: (1,3,5,7) min=1 -> filtered by HAVING;
    # (9,11,13,15) avg=12 max=15 -> lo; (17,19,21,23) avg=20 max=23 -> hi
    assert got == {
        ("u0", 1, 12.0, "lo"), ("u0", 2, 20.0, "hi"),
        ("u1", 1, 13.0, "lo"), ("u1", 2, 21.0, "hi"),
    }


def test_fsql_delta_sliding_streaming_matches_batch(spark, sdf, src_dir):
    """Streaming delta-sliding windows (stateful) produce the same
    (key, trigger, agg) set as the batch exploded-trigger emulation —
    the final trigger never lands exactly on the max value here, so the
    end-of-data difference doesn't bite."""
    q = ("select user, sum(value) as sv, count(*) as n "
         "from ev [size 10 on value every 5 on value partitioned on user] "
         "group by user")
    # batch
    engb = FsqlEngine(spark)
    engb.register("ev", spark.read.parquet(src_dir))
    batch = {(r["user"], float(r["trigger"]), r["sv"], r["n"])
             for r in engb.sql(q).collect()}
    # streaming
    engs = FsqlEngine(spark)
    engs.register("ev", sdf, event_time_col="ts")
    out = engs.sql(q)
    assert out.isStreaming
    sink = drain_to_memory(out, "append")
    stream = {(r["user"], float(r["trigger"]), r["sv"], r["n"])
              for r in spark.sql(f"select * from {sink}").collect()}
    assert len(batch) > 0
    assert stream == batch


@pytest.mark.parametrize("size,every,partitioned", [
    (6, 3, True),     # sliding, overlap (the s06 driver-query shape)
    (4, 9, True),     # every > size: sampling windows
    (7, 3, False),    # global single-group sequence
])
def test_fsql_count_sliding_streaming_matches_batch(
        spark, size, every, partitioned):
    """Streaming count-sliding windows (applyInPandasWithState) emit
    the same (key, trigger, agg) set as the batch row_number emulation
    on the real sf0.001 events table — including every > size sampling
    and the partial early windows below the first full extent."""
    part = " partitioned on user_id" if partitioned else ""
    sel = "user_id, " if partitioned else ""
    grp = " group by user_id" if partitioned else ""
    q = (f"select {sel}count(*) as n, round(sum(value), 2) as sv "
         f"from ev [size {size} every {every}{part}]{grp}")

    def key(r):
        return ((r["user_id"],) if partitioned else ()) + \
            (r["trigger"], r["n"], r["sv"])

    engb = FsqlEngine(spark)
    engb.register_parquet("ev", "/root/testdata/sf0.001/events.parquet",
                          event_time_col="ts")
    batch = {key(r) for r in engb.sql(q).collect()}

    engs = FsqlEngine(spark)
    engs.register_stream_parquet(
        "ev", "/root/testdata/sf0.001/events.parquet",
        event_time_col="ts")
    out = engs.sql(q)
    assert out.isStreaming
    sink = drain_to_memory(out, "append")
    stream = {key(r) for r in spark.sql(f"select * from {sink}").collect()}
    assert len(batch) > 0
    assert stream == batch


def test_fsql_count_window_bad_shape_raises(spark, sdf):
    eng = FsqlEngine(spark)
    eng.register("ev", sdf, event_time_col="ts")
    with pytest.raises(PlanError, match="plain column"):
        eng.sql("select sum(value + 1) as x from ev [size 4]")


def test_windowed_select_on_stream_is_continuous(spark, sdf):
    # CQL istream semantics: a non-aggregating windowed select over a
    # stream is the stream itself — each arriving row appears once
    eng = FsqlEngine(spark)
    eng.register("ev", sdf, event_time_col="ts")
    out = eng.sql("select event_id from ev [size 30 min on ts]")
    assert out.isStreaming
    sink = drain_to_memory(out, "append")
    assert spark.sql(f"select count(*) n from {sink}").first()["n"] == 24


# --------------------------------------------------------------------------
# M5: windowed stream JOINs (SURVEY.md §7.3(2) — the reference's own
# test query shape: test/parserTest.scala:54)
# --------------------------------------------------------------------------

def test_windowed_stream_join_inner(spark, sdf):
    eng = FsqlEngine(spark)
    eng.register("ev", sdf, event_time_col="ts", watermark="0 seconds")
    out = eng.sql("""
        select s1.event_id, s2.event_id as id2
        from ev [size 1 h on ts] as s1
        join ev [size 1 h on ts] as s2 on s1.user = s2.user""")
    assert out.isStreaming
    sink = drain_to_memory(out, "append")
    rows = spark.sql(f"select * from {sink}").collect()
    # per hour-window: 12 rows, 6 per user -> 2 windows * 2 users * 36
    assert len(rows) == 144


def test_windowed_stream_join_left(spark, sdf):
    eng = FsqlEngine(spark)
    eng.register("ev", sdf, event_time_col="ts", watermark="0 seconds")
    out = eng.sql("""
        select s1.event_id, s2.event_id as id2
        from ev [size 1 h on ts] as s1
        left join ev [size 1 h on ts] as s2
          on s1.user = s2.user and s2.value > 100.0""")
    sink = drain_to_memory(out, "append")
    rows = spark.sql(f"select * from {sink}").collect()
    # no right match ever (value <= 24): left rows survive with null.
    # Outer-join emission waits for the watermark to pass window end;
    # final watermark = 1:55, so only window 0:00-1:00 (12 rows) emits —
    # window 1:00-2:00 is still open when the stream ends.
    assert len(rows) == 12
    assert all(r["id2"] is None for r in rows)
    assert all(r["event_id"] < 12 for r in rows)


def test_parquet_sink(spark, sdf, tmp_path):
    eng = FsqlEngine(spark)
    eng.register("ev", sdf, event_time_col="ts")
    out = eng.sql("select event_id, value from ev where value > 20.0")
    q = eng.start_sink(out, format="parquet",
                       path=str(tmp_path / "out"),
                       checkpoint=str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == 4          # values 21..24


def test_console_ish_noop_sink(spark, sdf):
    eng = FsqlEngine(spark)
    eng.register("ev", sdf)
    q = eng.start_sink(eng.catalog.get("ev"), format="noop")
    assert q.awaitTermination(120)
    assert q.lastProgress is not None


# --------------------------------------------------------------------------
# start_sink's state-partition policy: JVM state starts with
# max(1, defaultParallelism // 8) partitions, declared Python state keeps
# the session value, and the session conf is never left changed
# --------------------------------------------------------------------------

_PARTS = "spark.sql.shuffle.partitions"


def _state_partitions(eng, df, name, mode):
    """Drain ``df`` through start_sink; return the state operators'
    partition counts, checking the session conf is left as it was."""
    before = eng.spark.conf.get(_PARTS)
    q = eng.start_sink(df, name=name, output_mode=mode, available_now=True)
    assert eng.spark.conf.get(_PARTS) == before
    assert q.awaitTermination(120) is True
    ops = q.lastProgress["stateOperators"]
    assert ops, f"{name}: no state operator"
    return {op["numShufflePartitions"] for op in ops}


def test_start_sink_jvm_state_gets_reduced_partitions(spark, sdf):
    eng = FsqlEngine(spark)
    eng.register("ev", sdf, event_time_col="ts")
    out = eng.sql("select user, count(*) as cnt from ev [size 1 h on ts] "
                  "group by user")
    dp = spark.sparkContext.defaultParallelism
    assert _state_partitions(eng, out, "policy_jvm", "complete") \
        == {max(1, dp // 8)}


def test_start_sink_running_over_keeps_session_partitions(spark, sdf):
    eng = FsqlEngine(spark)
    eng.register("ev", sdf)
    out = eng.sql(
        "select user, event_id, sum(value) over (partition by user "
        "order by ts, event_id rows between unbounded preceding and "
        "current row) as rs from ev")
    session = int(spark.conf.get(_PARTS))
    assert _state_partitions(eng, out, "policy_over", "append") \
        == {session}


def test_start_sink_count_window_agg_keeps_session_partitions(spark, sdf):
    eng = FsqlEngine(spark)
    out = count_window_agg(sdf, key_cols=["user"],
                           aggs=[("sum", "value", "sv")], size=4,
                           order_col="ts")
    session = int(spark.conf.get(_PARTS))
    assert _state_partitions(eng, out, "policy_cwa", "append") \
        == {session}


def test_start_sink_decides_by_declaration_not_plan_text(spark, sdf):
    # JVM state whose output column carries the Python-state operator's
    # plan-node name: a search of the plan string would misread it
    eng = FsqlEngine(spark)
    eng.register("ev", sdf, event_time_col="ts")
    out = eng.sql("select user, count(*) as FlatMapGroupsInPandasWithState "
                  "from ev [size 1 h on ts] group by user")
    assert "FlatMapGroupsInPandasWithState" in out.columns
    dp = spark.sparkContext.defaultParallelism
    assert _state_partitions(eng, out, "policy_alias", "complete") \
        == {max(1, dp // 8)}


def test_windowed_join_count_axis_on_stream_raises(spark, sdf):
    eng = FsqlEngine(spark)
    eng.register("ev", sdf, event_time_col="ts")
    with pytest.raises(PlanError, match="time-axis"):
        eng.sql("""
            select s1.event_id from ev [size 3] as s1
            join ev [size 3] as s2 on s1.user = s2.user""")


def test_batch_sampling_window_every_gt_size(spark):
    """`every` > `size` is a sampling window: rows between two trigger
    extents belong to NO window (previously raised Spark's 'Illegal
    sequence boundaries' from an unguarded F.sequence)."""
    import datetime as dt
    rows = [(i, T0 + dt.timedelta(minutes=i), float(i))
            for i in range(1, 25)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, value double")
    eng = FsqlEngine(spark)
    eng.register("ev24", df, event_time_col="ts")
    out = eng.sql(
        "select sum(value) as sv, count(*) as n from ev24 [size 2 every 10]")
    got = {(r["trigger"], r["sv"], r["n"]) for r in out.collect()}
    # trigger 10 covers rows (8,10] = {9,10}; trigger 20 covers {19,20};
    # trigger 30 has not fired (max position is 24)
    assert got == {(10, 19.0, 2), (20, 39.0, 2)}
    # delta axis takes the same guard
    out = eng.sql("select count(*) as n from ev24 "
                  "[size 3 on value every 12 on value]")
    got = {(r["trigger"], r["n"]) for r in out.collect()}
    assert got == {(12.0, 3), (24.0, 3)}


def test_session_snapshot_distributed_plan_and_boundaries(spark):
    """The un-partitioned latest-session snapshot must (a) survive
    sessions that span range-bucket boundaries and (b) plan with no
    single-partition Exchange under a Sort/Window."""
    import datetime as dt
    # 64 rows 1 min apart = one session (gap 2 min) spanning every
    # bucket on local[32]; then a 1h break and a final 3-row session
    rows = [(i, T0 + dt.timedelta(minutes=i)) for i in range(64)]
    rows += [(100 + j, T0 + dt.timedelta(minutes=180 + j))
             for j in range(3)]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    eng = FsqlEngine(spark)
    eng.register("sess_ev", df, event_time_col="ts")
    q = "select event_id from sess_ev [session 2 min on ts]"
    got = sorted(r.event_id for r in eng.sql(q).collect())
    assert got == [100, 101, 102]
    # one long unbroken run -> the whole table is the latest session
    df2 = spark.createDataFrame(rows[:64], "event_id long, ts timestamp")
    eng.register("sess_ev2", df2, event_time_col="ts")
    got = eng.sql("select event_id from sess_ev2 "
                  "[session 2 min on ts]").count()
    assert got == 64
    plan = eng.sql(q)._jdf.queryExecution().executedPlan().toString()
    for ln in plan.splitlines():
        assert not ("Window" in ln and "SinglePartition" in ln)
        assert not ("Sort" in ln and "SinglePartition" in ln)


def test_start_sink_concurrent_starts_keep_their_counts(spark, sdf):
    # more starting threads than cores and a short switch interval: an
    # unserialized set / start / restore hands a stream another stream's
    # count or leaves the session conf changed
    import sys
    import threading
    eng = FsqlEngine(spark)
    eng.register("ev", sdf, event_time_col="ts")
    session = spark.conf.get(_PARTS)
    dp = spark.sparkContext.defaultParallelism
    jobs = []
    for i in range(dp + 2):
        if i % 2:
            jobs.append((count_window_agg(
                sdf, key_cols=["user"], aggs=[("sum", "value", "sv")],
                size=4, order_col="ts"), "append", int(session)))
        else:
            jobs.append((eng.sql(
                "select user, count(*) as cnt from ev [size 1 h on ts] "
                "group by user"), "complete", max(1, dp // 8)))
    queries = [None] * len(jobs)

    def start(i):
        df, mode, _ = jobs[i]
        queries[i] = eng.start_sink(df, name=f"policy_conc{i}",
                                    output_mode=mode, available_now=True)

    threads = [threading.Thread(target=start, args=(i,))
               for i in range(len(jobs))]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert spark.conf.get(_PARTS) == session
    for q, (_, _, want) in zip(queries, jobs):
        assert q is not None
        assert q.awaitTermination(120) is True
        assert {op["numShufflePartitions"]
                for op in q.lastProgress["stateOperators"]} == {want}
