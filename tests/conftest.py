import duckdb
import pytest

from flink_dsl_spark import FsqlEngine, get_session
# the py4j command counter lives in the package (bench.py reads it
# too); the tests import it from here
from flink_dsl_spark.timer import count_py4j  # noqa: F401

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# import-time tripwire: if the driver regenerated the testdata with an
# encoding the engine has no normalization arm for, every oracle test
# would fail inscrutably — fail collection with the drifted column's
# name instead (memory: events.ts has flipped twice between rounds)
from flink_dsl_spark.testdata_sentinel import assert_testdata

assert_testdata(SF_DIR)


@pytest.fixture(scope="session")
def spark():
    return get_session()


@pytest.fixture(scope="session")
def engine(spark):
    eng = FsqlEngine(spark)
    eng.load_dir(SF_DIR)
    return eng


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{SF_DIR}/{t}.parquet'")
    return con


_SINK_N = [0]


def drain_to_memory(df, output_mode="append"):
    """Run a streaming frame to completion into a fresh memory sink and
    return the sink's table name.  Fails if the stream has not finished
    within 120 s — a timed-out stream would leave a partial sink that a
    row-count assertion could still pass on."""
    _SINK_N[0] += 1
    name = f"test_sink{_SINK_N[0]}"
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode(output_mode).trigger(availableNow=True).start())
    assert q.awaitTermination(120), f"stream {name} did not finish"
    return name


def normalize(pdf):
    """Driver-style normalization: columns sorted by name, rows sorted by
    all columns, tz-stripped timestamps."""
    import pandas as pd
    pdf = pdf.reindex(sorted(pdf.columns, key=str.lower), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            try:
                pdf[c] = pdf[c].dt.tz_localize(None)
            except TypeError:
                pass
            # Spark arrives as datetime64[ns], DuckDB as [us]; compare
            # on one unit or assert_frame_equal diffs raw int64s
            pdf[c] = pdf[c].astype("datetime64[ns]")
        # unify integer-valued numerics (int32/int64/float that are whole)
        if pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
        # array columns: make hashable/sortable
        if pdf[c].dtype == object and len(pdf) and \
                isinstance(pdf[c].iloc[0], (list, tuple)) or \
                str(pdf[c].dtype) == "object" and len(pdf) and \
                type(pdf[c].iloc[0]).__name__ == "ndarray":
            pdf[c] = pdf[c].map(
                lambda v: tuple(v) if v is not None else None)
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort",
                              na_position="last")
    return pdf.reset_index(drop=True)


def assert_matches_oracle(spark_df, duck_con, oracle: str, name: str = "?"):
    import pandas as pd
    got = normalize(spark_df.toPandas())
    exp = normalize(duck_con.sql(oracle).df())
    assert list(got.columns) == list(exp.columns), \
        f"{name}: columns {list(got.columns)} != {list(exp.columns)}"
    assert len(got) == len(exp), f"{name}: {len(got)} rows != {len(exp)}"
    # int-vs-float divergence is a real gate risk even when values are
    # numerically equal: DuckDB's sum(BIGINT) returns HUGEINT, which
    # lands in pandas as float64 while Spark's long sum stays int64 — a
    # value-hash over stringified cells then mismatches (1435 vs
    # 1435.0).  Oracles must CAST such sums to BIGINT.
    for c in got.columns:
        ka, kb = got[c].dtype.kind, exp[c].dtype.kind
        assert not (ka != kb and {ka, kb} <= {"i", "u", "f"}), \
            f"{name}.{c}: numeric dtype diverges " \
            f"({got[c].dtype} vs {exp[c].dtype}) — cast the oracle"
    pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                  check_exact=False, rtol=1e-9, atol=1e-9,
                                  obj=name)
