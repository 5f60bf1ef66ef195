"""Plan-build gates: compiling an FSQL statement to an executed plan is
driver-side work only.

Building a plan must launch no Spark job (every data pass belongs to the
query that runs it, not to its compilation), and must stay cheap in
py4j round trips, the unit the Python planner pays for.  The planner
reuses what does not change between statements (column handles, the
catalog's per-relation column lists and aliased frames); the tests at
the end check that a replaced relation is never planned from stale
facts.
"""

import pytest

import __spark_entry__ as entry
from flink_dsl_spark import FsqlEngine
from flink_dsl_spark.errors import ResolutionError
from flink_dsl_spark.planner import _COL_MEMO_SIZE

from .conftest import count_py4j, drain_to_memory

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries(spark):
    # the engine's load_dir runs jobs (parquet footers, schema checks):
    # build it before any job group is watched
    entry._engine(spark, SF)
    return entry.queries()


def _build_all(spark, queries):
    for name in entry._FSQL:
        queries[name](spark, SF)._jdf.queryExecution().executedPlan()


def test_fsql_plan_build_launches_no_job(spark, queries):
    """Each of the FSQL catalog statements, built to its executed plan
    under its own job group, launches 0 jobs."""
    sc = spark.sparkContext
    launched = {}
    try:
        for i, name in enumerate(entry._FSQL):
            group = f"plan-build-{i}"
            sc.setJobGroup(group, name)
            queries[name](spark, SF)._jdf.queryExecution().executedPlan()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            if jobs:
                launched[name] = len(jobs)
    finally:
        sc._jsc.clearJobGroup()
    assert launched == {}, f"plan build ran jobs: {launched}"


def test_session_skips_call_site_capture(spark, queries):
    """``get_session`` turns off PySpark's per-Column call-site capture
    (five JVM calls per Column function), and the planner reuses its
    column handles and aliased relations, so a warm rebuild of q01
    stays within 190 py4j commands (166 measured; about 800 with the
    capture on, 252 with it off and nothing reused)."""
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    build = queries["q01_pricing_summary"]
    build(spark, SF)._jdf.queryExecution().executedPlan()     # warm
    with count_py4j(spark) as sent:
        build(spark, SF)._jdf.queryExecution().executedPlan()
    assert len(sent) <= 190, f"{len(sent)} py4j commands"


def test_warm_fsql_pass_py4j_commands(spark, queries):
    """A warm pass of all FSQL catalog statements sends at most 7,000
    py4j commands (6,414 measured on 4 cores; 9,258 when every
    statement built its own column handles and aliased relations)."""
    _build_all(spark, queries)                                 # warm
    with count_py4j(spark) as sent:
        _build_all(spark, queries)
    assert len(sent) <= 7000, f"{len(sent)} py4j commands"


def test_memos_do_not_grow_on_replanning(spark, queries):
    """Planning the FSQL statements again adds no column handle and no
    aliased relation: the memos hold what the statements name, not one
    entry per statement."""
    eng = entry._engine(spark, SF)
    _build_all(spark, queries)
    cols = eng.planner._col.cache_info()
    aliased = sum(map(len, eng.catalog._aliased.values()))
    _build_all(spark, queries)
    again = eng.planner._col.cache_info()
    assert cols.currsize < _COL_MEMO_SIZE          # nothing was evicted
    assert again.currsize == cols.currsize
    assert again.hits > cols.hits
    assert sum(map(len, eng.catalog._aliased.values())) == aliased


# --- a replaced relation is planned from its new facts ---------------

def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_dml_rewrite_replans_relation(spark, engine):
    """INSERT, UPDATE and DELETE re-register the relation they change;
    each later statement reads the new data, under a binding and a
    ``SELECT *`` that were both planned before the change."""
    eng = engine
    eng.register("memo_dml", spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, v string"))
    try:
        assert _rows(eng.sql("select * from memo_dml")) == [(1, "a"),
                                                            (2, "b")]
        assert _rows(eng.sql("select m.v from memo_dml m")) == [("a",),
                                                               ("b",)]
        eng.sql("insert into memo_dml values (3, 'c')")
        assert _rows(eng.sql("select * from memo_dml")) == [
            (1, "a"), (2, "b"), (3, "c")]
        eng.sql("update memo_dml set v = 'z' where k = 2")
        assert _rows(eng.sql("select m.v from memo_dml m")) == [
            ("a",), ("c",), ("z",)]
        eng.sql("delete from memo_dml where k = 1")
        assert _rows(eng.sql("select * from memo_dml")) == [(2, "z"),
                                                            (3, "c")]
        assert _rows(eng.sql("select m.k from memo_dml m")) == [(2,), (3,)]
    finally:
        eng.catalog.unregister("memo_dml")


def test_drop_and_create_replans_relation(engine):
    """DROP then CREATE of the same name with other columns: ``SELECT
    *`` expands to the new columns, a qualified reference to a dropped
    column is a resolution error, and results are the new relation's."""
    eng = engine
    eng.sql("create stream memo_dc as "
            "(select r_regionkey, r_name from region)")
    try:
        assert eng.sql("select * from memo_dc").columns == [
            "r_regionkey", "r_name"]
        assert len(eng.sql("select m.r_name from memo_dc m").collect()) == 5
        eng.sql("drop stream memo_dc")
        eng.sql("create stream memo_dc as "
                "(select n_nationkey, n_regionkey from nation "
                "where n_regionkey = 1)")
        df = eng.sql("select * from memo_dc")
        assert df.columns == ["n_nationkey", "n_regionkey"]
        want = eng.sql("select n_nationkey, n_regionkey from nation "
                       "where n_regionkey = 1")
        assert _rows(df) == _rows(want) and len(_rows(want)) == 5
        with pytest.raises(ResolutionError, match="r_name"):
            eng.sql("select m.r_name from memo_dc m")
        assert _rows(eng.sql("select m.n_nationkey from memo_dc m")) \
            == sorted((k,) for k, _ in _rows(want))
    finally:
        eng.sql("drop stream if exists memo_dc")


def test_stream_reregistration_replans_relation(spark):
    """``register_stream_parquet`` under a name already registered
    replaces the stream: the next plan reads the new file's columns
    and rows."""
    eng = FsqlEngine(spark, streaming=True)
    try:
        eng.register_stream_parquet("memo_s", f"{SF}/region.parquet")
        df = eng.sql("select * from memo_s")
        assert df.isStreaming
        assert df.columns == spark.read.parquet(
            f"{SF}/region.parquet").columns
        eng.sql("select s.r_name from memo_s s")
        eng.register_stream_parquet("memo_s", f"{SF}/nation.parquet")
        nation = spark.read.parquet(f"{SF}/nation.parquet")
        df = eng.sql("select * from memo_s")
        assert df.columns == nation.columns
        got = spark.table(drain_to_memory(df))
        assert _rows(got) == _rows(nation)
        with pytest.raises(ResolutionError, match="r_name"):
            eng.sql("select s.r_name from memo_s s")
        got = spark.table(drain_to_memory(
            eng.sql("select s.n_name from memo_s s")))
        assert _rows(got) == _rows(nation.select("n_name"))
    finally:
        eng.catalog.unregister("memo_s")
        eng.close()
