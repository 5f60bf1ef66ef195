"""Registration reads parquet schemas from file footers, without a job.

``register_parquet``, ``register_stream_parquet`` and a batch-mode
``create stream ... source file('<file>.parquet')`` take a single file's
schema from its footer, through Spark's own footer-to-schema converter
(``engine._parquet_file_schema``), instead of running Spark's
schema-inference job.  These tests pin the job count at 0 and the schema
at exactly what inference returns: on the testdata at every scale factor
and on generated files covering the parquet types Spark converts, under
the engine's confs, a bare session's defaults and the legacy switches.
"""

import decimal
import glob
import os
import tempfile

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from flink_dsl_spark import FsqlEngine
from flink_dsl_spark.engine import (
    _REQUIRED_CONFS, _parquet_file_schema, _restore_nano_timestamps,
)

from .conftest import SF_DIR as SF
from .conftest import drain_to_memory, normalize

# every scale factor's testdata files
TESTDATA = sorted(glob.glob(
    os.path.join(os.path.dirname(SF), "sf0.*", "*.parquet")))

# session confs the footer converter reads, per setting under test:
# the engine's, a bare session's (Spark defaults) and the legacy
# switches flipped, so a converter that ignored the session would show
_CONVERTER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
SETTINGS = {
    "engine": dict(_REQUIRED_CONFS),
    "bare": {},
    "legacy": {"spark.sql.legacy.parquet.nanosAsLong": "true",
               "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
               "spark.sql.parquet.binaryAsString": "true",
               "spark.sql.parquet.int96AsTimestamp": "false"},
}


@pytest.fixture
def jobs(spark):
    """Count the jobs a block launches: run it under a job group and
    read the group's jobs from the status store afterwards."""
    sc = spark.sparkContext
    groups = []

    def launched(fn):
        group = f"registration-{len(groups)}"
        groups.append(group)
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    return launched


def test_registration_launches_no_job(spark, jobs):
    """A fresh engine registers the testdata directory, a parquet file
    stream and a batch-mode file-source stream without one Spark job,
    and the relations read the same rows as Spark's inferred read."""
    eng = FsqlEngine(spark)
    ev = f"{SF}/events.parquet"
    assert jobs(lambda: eng.load_dir(SF)) == 0
    assert jobs(lambda: eng.register_stream_parquet(
        "ev_stream", ev, event_time_col="ts")) == 0
    assert jobs(lambda: eng.sql(
        f"create stream ev_file source file('{ev}')")) == 0

    assert eng.catalog.get("ev_stream").isStreaming
    ref = normalize(spark.read.parquet(ev).toPandas())
    got = normalize(eng.catalog.get("ev_file").toPandas())
    assert got.equals(ref)
    for t in ("events", "lineitem", "embeddings"):
        assert eng.catalog.get(t).count() \
            == spark.read.parquet(f"{SF}/{t}.parquet").count()


def _with_confs(spark, confs: dict, fn):
    """Run ``fn`` with the converter's confs set to ``confs`` (others
    unset), then put the session's values back."""
    prior = {k: spark.conf.get(k, None) for k in _CONVERTER_CONFS}
    try:
        for k in _CONVERTER_CONFS:
            if k in confs:
                spark.conf.set(k, confs[k])
            else:
                spark.conf.unset(k)
        return fn()
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _inferred_or_error(fn):
    try:
        return fn(), None
    except Exception as e:      # noqa: BLE001 - compared below
        return None, type(e).__name__


def _assert_schema_parity(spark, path, setting):
    """The frame read with the footer schema has Spark's inferred
    schema exactly (names, types, nullability, metadata); where
    inference rejects the file, so does the footer.  (The footer
    schema keeps required fields non-nullable; a file relation makes
    every field nullable, whichever way its schema was found.)"""
    def check():
        want, want_err = _inferred_or_error(
            lambda: spark.read.parquet(path).schema)
        got, got_err = _inferred_or_error(
            lambda: _parquet_file_schema(spark, path))
        assert got_err == want_err, (path, setting, got_err, want_err)
        if want is None:
            return
        read = spark.read.schema(got).parquet(path).schema
        assert read == want and read.json() == want.json(), (path, setting)
    _with_confs(spark, SETTINGS[setting], check)


@pytest.mark.parametrize("setting", sorted(SETTINGS))
def test_testdata_schema_parity(spark, setting):
    assert len(TESTDATA) == 30
    for path in TESTDATA:
        _assert_schema_parity(spark, path, setting)


def _generated_files(spark, d: str) -> list[str]:
    """Parquet files covering the footer types Spark converts.  pyarrow
    writes most of them; pyarrow 16 stores every decimal as fixed-length
    bytes, so DuckDB writes the int32- and int64-backed decimals, and
    Spark writes one file carrying its row metadata."""
    n = 3
    ts = pa.array([1_700_000_000_123_456_000 + i for i in range(n)],
                  pa.timestamp("ns"))
    fid = {b"PARQUET:field_id": b"7"}
    tables = {
        "required": pa.table({
            "id": pa.array(range(n), pa.int64()),
            "name": pa.array(["a", "b", None], pa.string()),
        }, schema=pa.schema([pa.field("id", pa.int64(), nullable=False),
                             pa.field("name", pa.string())])),
        "ints": pa.table({
            "i8": pa.array([1, -2, 3], pa.int8()),
            "i16": pa.array([1, -2, 3], pa.int16()),
            "u32": pa.array([1, 2, 2**32 - 1], pa.uint32()),
            "u64": pa.array([1, 2, 2**64 - 1], pa.uint64()),
        }),
        "scalars": pa.table({
            "d": pa.array([19000, 19001, None], pa.date32()),
            "dec": pa.array([decimal.Decimal("1.5")] * n,
                            pa.decimal128(38, 10)),
            "bin": pa.array([b"x", b"", None], pa.binary()),
            "flag": pa.array([True, False, None], pa.bool_()),
        }),
        "ts_ns": pa.table({"ts": ts}),
        "ts_ms_utc": pa.table({"ts": ts.cast(pa.timestamp("ms", "UTC"),
                                             safe=False)}),
        "nested": pa.table({
            "st": pa.array([{"a": 1, "b": "x"}] * n,
                           pa.struct([("a", pa.int32()),
                                      ("b", pa.string())])),
            "ls": pa.array([[1, 2], [], None], pa.list_(pa.int64())),
            "mp": pa.array([[("k", 1)], [], None],
                           pa.map_(pa.string(), pa.int64())),
        }),
        "field_ids": pa.table(
            {"a": pa.array(range(n), pa.int64())},
            schema=pa.schema([pa.field("a", pa.int64(), metadata=fid)])),
    }
    paths = []
    for name, t in tables.items():
        p = os.path.join(d, f"{name}.parquet")
        pq.write_table(t, p)
        paths.append(p)
    p = os.path.join(d, "int96.parquet")
    pq.write_table(pa.table({"ts": ts}), p,
                   use_deprecated_int96_timestamps=True)
    paths.append(p)

    p = os.path.join(d, "decimals.parquet")
    duckdb.sql("copy (select 1.23::decimal(9,2) as d9, "
               "1.23::decimal(18,2) as d18, 1.23::decimal(38,10) as d38) "
               f"to '{p}' (format parquet)")
    assert [c.physical_type for c in pq.ParquetFile(p).schema] \
        == ["INT32", "INT64", "FIXED_LEN_BYTE_ARRAY"]
    paths.append(p)

    out = os.path.join(d, "spark_written")
    (spark.range(n)
     .select("id",
             F.col("id").cast("short").alias("s"),
             F.struct(F.col("id").alias("x")).alias("st"),
             F.col("id").cast("string").alias(
                 "label", metadata={"comment": "row metadata"}))
     .coalesce(1).write.parquet(out))
    (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
    assert b"org.apache.spark.sql.parquet.row.metadata" \
        in pq.ParquetFile(part).metadata.metadata
    paths.append(part)
    return paths


@pytest.fixture(scope="module")
def generated(spark):
    with tempfile.TemporaryDirectory(prefix="footer_schema_") as d:
        yield _generated_files(spark, d)


@pytest.mark.parametrize("setting", sorted(SETTINGS))
def test_generated_schema_parity(spark, generated, setting):
    for path in generated:
        _assert_schema_parity(spark, path, setting)


def test_registered_schema_matches_inference(spark, generated):
    """Through the engine: a file registered as a table or as a stream
    carries the schema of Spark's inferred read after the engine's
    timestamp normalization."""
    eng = FsqlEngine(spark)
    for i, path in enumerate(generated):
        eng.register(f"ref{i}", _restore_nano_timestamps(
            spark.read.parquet(path), path))
        eng.register_parquet(f"tab{i}", path)
        eng.register_stream_parquet(f"str{i}", path)
        want = eng.catalog.get(f"ref{i}").schema
        assert eng.catalog.get(f"tab{i}").schema == want, path
        assert eng.catalog.get(f"str{i}").schema == want, path


def test_stream_dir_shared_per_file(spark, monkeypatch, tmp_path):
    """Names registered on one parquet file share one symlink
    directory (registering again reuses it), and each stream still
    drains to the file's batch rows."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    eng = FsqlEngine(spark)
    ev = f"{SF}/events.parquet"
    eng.register_stream_parquet("ev_a", ev)
    eng.register_stream_parquet("ev_b", ev, max_files_per_trigger=1)
    eng.register_stream_parquet("ev_a", ev)
    dirs = [p for p in tmp_path.iterdir()
            if p.name.startswith("fsql_stream_")]
    assert len(dirs) == 1
    assert [p.name for p in dirs[0].iterdir()] == ["events.parquet"]

    want = normalize(spark.read.parquet(ev)
                     .select("event_id", "user_id", "value").toPandas())
    for name in ("ev_a", "ev_b"):
        sink = drain_to_memory(
            eng.sql(f"select event_id, user_id, value from {name}"))
        got = normalize(spark.table(sink).toPandas())
        assert got.equals(want), name


def test_file_source_stream_restores_nano_timestamps(spark, tmp_path):
    """A batch-mode ``create stream ... source file('<file>.parquet')``
    restores a TIMESTAMP(NANOS) column the way ``register_parquet``
    does: the same types and the same row (not the raw nano count
    ``nanosAsLong`` reads as a long)."""
    path = str(tmp_path / "one_ns.parquet")
    pq.write_table(pa.table({
        "ts": pa.array([1_700_000_000_123_456_789], pa.timestamp("ns")),
        "v": pa.array([1], pa.int64())}), path)
    eng = FsqlEngine(spark)
    try:
        eng.register_parquet("ns_tab", path)
        eng.sql(f"create stream ns_file source file('{path}')")
        want = eng.catalog.get("ns_tab")
        got = eng.catalog.get("ns_file")
        assert got.dtypes == want.dtypes == [("ts", "timestamp"),
                                              ("v", "bigint")]
        assert got.collect() == want.collect()
    finally:
        eng.close()


def test_close_removes_stream_dirs(spark, monkeypatch, tmp_path):
    """``close()`` removes the symlink directory the engine made for a
    single-file stream, and a stream drained before it still returned
    every row of the file; the file itself stays."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    ev = f"{SF}/events.parquet"
    eng = FsqlEngine(spark)
    eng.register_stream_parquet("ev_closing", ev)
    (d,) = [p for p in tmp_path.iterdir()
            if p.name.startswith("fsql_stream_")]
    q = eng.start_sink(eng.sql("select event_id from ev_closing"),
                       name="closing_sink")
    assert q.awaitTermination(120)
    eng.close()
    assert not d.exists()
    assert os.path.isfile(ev)
    got = sorted(r[0] for r in spark.table("closing_sink").collect())
    assert got == sorted(r[0] for r in spark.read.parquet(ev)
                         .select("event_id").collect())
