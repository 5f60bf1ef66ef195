"""Plan-build gates: compiling an FSQL statement to an executed plan is
driver-side work only.

Building a plan must launch no Spark job (every data pass belongs to the
query that runs it, not to its compilation), and must stay cheap in
py4j round trips, the unit the Python planner pays for.  The planner
reuses what does not change between statements (column and literal
handles, the catalog's per-relation column lists and aliased frames);
the tests at the end check that a literal is reused only for the same
value and type, and that a replaced relation is never planned from
stale facts.
"""

import re
from decimal import Decimal

import pytest

import __spark_entry__ as entry
from flink_dsl_spark import FsqlEngine
from flink_dsl_spark.errors import ResolutionError
from flink_dsl_spark.planner import _COL_MEMO_SIZE, _LIT_MEMO_SIZE

from .conftest import count_py4j, drain_to_memory

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries(spark):
    # register the testdata before any job group is watched, so the
    # gates below see plan build only (load_dir itself launches no job:
    # tests/test_registration.py)
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
    (five JVM calls per Column function), the planner reuses its
    column handles, literals and aliased relations, and aggregates
    straight over the input, so a warm rebuild of q01 stays within 130
    py4j commands (118 measured; about 800 with the capture on, 252
    with it off and nothing reused, 166 with a projection before the
    aggregate and a literal built per use)."""
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    build = queries["q01_pricing_summary"]
    build(spark, SF)._jdf.queryExecution().executedPlan()     # warm
    with count_py4j(spark) as sent:
        build(spark, SF)._jdf.queryExecution().executedPlan()
    assert len(sent) <= 130, f"{len(sent)} py4j commands"


def test_warm_fsql_pass_py4j_commands(spark, queries):
    """A warm pass of all FSQL catalog statements sends at most 4,970
    py4j commands (4,520 measured on 4 cores; 5,071 when the window
    emulation and the row hints built their columns one Dataset call
    at a time with literals built per use, 9,258 when every statement
    built its own column handles and aliased relations)."""
    _build_all(spark, queries)                                 # warm
    with count_py4j(spark) as sent:
        _build_all(spark, queries)
    assert len(sent) <= 4970, f"{len(sent)} py4j commands"


# Dataset methods: each call re-analyzes the plan it builds and copies
# its arguments into a Java list
_DATASET_CALLS = frozenset({"select", "agg", "groupBy", "rollup", "cube",
                            "groupingSets", "withColumn", "filter",
                            "join", "crossJoin", "drop"})


def _dataset_calls(sent) -> int:
    return sum(c.split("\n")[2] in _DATASET_CALLS
               for c in sent if c.startswith("c\n"))


def test_warm_fsql_pass_dataset_calls(spark, queries):
    """A warm pass of all FSQL catalog statements makes at most 345
    Dataset calls (314 measured; 352 when the window emulation and the
    row hints added their columns with ``withColumn`` chains ending in
    a ``drop``, 412 when every aggregate also projected its keys and
    arguments first)."""
    _build_all(spark, queries)                                 # warm
    with count_py4j(spark) as sent:
        _build_all(spark, queries)
    n = _dataset_calls(sent)
    assert n <= 345, f"{n} Dataset calls"


# the statements whose window emulation or row hint builds the most
# plan: py4j commands allowed on a warm rebuild, 30% under what each
# sent with one Dataset call per added column (256, 333, 275, 240)
_STAGED = {"q28_count_tumbling": 179, "q29_count_sliding": 233,
           "q80_token_budget_hint": 192, "q81_mixture_hint": 168}


@pytest.mark.parametrize("name", sorted(_STAGED))
def test_staged_statement_round_trips(spark, queries, name):
    """The count windows and the token_budget/mixture hints add their
    columns one select per stage, take Python scalars in column
    arithmetic and the planner's literal handles, so a warm rebuild
    stays within its command budget and 12 Dataset calls (15-19
    before; 170, 201, 182 and 155 commands and 10, 12, 12 and 11
    calls measured)."""
    build = queries[name]
    build(spark, SF)._jdf.queryExecution().executedPlan()     # warm
    with count_py4j(spark) as sent:
        build(spark, SF)._jdf.queryExecution().executedPlan()
    assert len(sent) <= _STAGED[name], f"{len(sent)} py4j commands"
    assert _dataset_calls(sent) <= 12


def test_session_imports_python_utils(spark):
    """``get_session`` imports ``PythonUtils`` by its full name into
    the gateway's JVM view.  The bare name resolves to the class
    PySpark's star import of ``org.apache.spark.api.python.*`` gave it
    before, so no name changes meaning for any user of the gateway."""
    assert spark._jvm.PythonUtils._fqn \
        == "org.apache.spark.api.python.PythonUtils"


# --- a comma FROM plans as keyed joins, with Spark SQL's plan ---------

_COMMA_FROM = ["q20_comma_from", "q58_tpch_q3", "q59_tpch_q5",
               "q60_tpch_q7", "q61_tpch_q8", "q62_tpch_q10",
               "q63_tpch_q14", "q72_tpch_q9"]


def _and_leaves(cond: str) -> list:
    """The AND-ed leaves of a condition as Spark prints it (every
    binary operator in parentheses)."""
    parts, depth, last = [], 0, 1
    for i, ch in enumerate(cond):
        depth += (ch == "(") - (ch == ")")
        if depth == 1 and cond.startswith(" AND ", i):
            parts.append(cond[last:i])
            last = i + 5
    if not parts:
        return [cond]
    parts.append(cond[last:-1])
    return [leaf for p in parts for leaf in _and_leaves(p)]


def _join_conds_sorted(line: str) -> str:
    """``line`` with the conjuncts of a ``Join <type>, (...)``
    condition sorted."""
    m = re.search(r"Join \w+, \(", line)
    if m is None:
        return line
    start = end = m.end() - 1
    depth = 0
    for end in range(start, len(line)):
        depth += (line[end] == "(") - (line[end] == ")")
        if depth == 0:
            break
    leaves = sorted(_and_leaves(line[start:end + 1]))
    return f"{line[:start]}({' AND '.join(leaves)}){line[end + 1:]}"


def _canonical_plan(df) -> list:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [_join_conds_sorted(re.sub(r"#\d+L?", "#N", line))
            for line in plan.splitlines()]


@pytest.mark.parametrize("name", _COMMA_FROM)
def test_comma_from_plans_as_spark_sql(spark, queries, name):
    """A comma FROM whose WHERE ties its relations is planned as keyed
    joins, in the order Catalyst's ReorderJoin gives the cross product
    Spark SQL plans for the same text under one filter.  The optimized
    plans are equal, apart from the order of conjuncts inside a join
    condition (Spark SQL reads the catalog's relations through their
    registered views)."""
    ours = _canonical_plan(queries[name](spark, SF))
    theirs = _canonical_plan(spark.sql(entry._FSQL[name]))
    assert ours == theirs
    assert not any("Join Cross" in line for line in ours)


def _plan_lines(spark, queries, name, phase):
    df = queries[name](spark, SF)
    return getattr(df._jdf.queryExecution(), phase)().toString() \
        .splitlines()


def test_plain_aggregate_has_no_argument_projection(spark, queries):
    """q01 aggregates straight over its input relation: no hidden
    ``__a*`` argument column, and no Project under the Aggregate."""
    lines = _plan_lines(spark, queries, "q01_pricing_summary", "analyzed")
    assert not any(" AS __a" in line for line in lines), lines
    i = next(i for i, line in enumerate(lines)
             if line.lstrip("+- :").startswith("Aggregate "))
    assert not lines[i + 1].lstrip("+- :").startswith("Project "), lines


@pytest.mark.parametrize("name", ["q09_rollup", "q51_cube"])
def test_expand_aggregate_projects_arguments_first(spark, queries, name):
    """ROLLUP and CUBE compute their aggregate arguments once per row,
    below the Expand that multiplies the rows (``__a*`` columns of the
    Project under it), and q51's ``grouping()`` resolves against the
    projected keys."""
    lines = _plan_lines(spark, queries, name, "optimizedPlan")
    i = next(i for i, line in enumerate(lines)
             if line.lstrip("+- :").startswith("Expand "))
    assert lines[i + 1].lstrip("+- :").startswith("Project "), lines
    assert " AS __a" in lines[i + 1], lines
    if name == "q51_cube":
        assert any("spark_grouping_id" in line and " AS g_st" in line
                   for line in lines), lines


def test_memos_do_not_grow_on_replanning(spark, queries):
    """Planning the FSQL statements again adds no column handle, no
    literal and no aliased relation: the memos hold what the
    statements name, not one entry per statement."""
    eng = entry._engine(spark, SF)
    _build_all(spark, queries)
    memos = [(eng.planner._col, _COL_MEMO_SIZE),
             (eng.planner._lit_memo, _LIT_MEMO_SIZE)]
    before = [m.cache_info() for m, _ in memos]
    aliased = sum(map(len, eng.catalog._aliased.values()))
    _build_all(spark, queries)
    for (memo, size), info in zip(memos, before):
        again = memo.cache_info()
        assert info.currsize < size                # nothing was evicted
        assert again.currsize == info.currsize
        assert again.hits > info.hits
    assert sum(map(len, eng.catalog._aliased.values())) == aliased


# --- a literal is reused only for the same value and type ------------

@pytest.mark.parametrize("values, types", [
    ((0.0, -0.0), ("double", "double")),
    ((1, 1.0, True), ("int", "double", "boolean")),
    ((Decimal("1.0"), Decimal("1.00")), ("decimal(2,1)", "decimal(3,2)")),
], ids=["signed_zero", "int_float_bool", "decimal_scale"])
def test_equal_literals_stay_distinct(spark, engine, values, types):
    """Values that compare equal in Python but are different SQL
    literals get different handles, each with its own type and
    value; the same value asked again gets the same handle."""
    lit = engine.planner._lit
    cols = [lit(v) for v in values]
    assert all(lit(v) is c for v, c in zip(values, cols))
    assert len({id(c) for c in cols}) == len(values)
    df = spark.range(1).select(
        *[c.alias(f"c{i}") for i, c in enumerate(cols)])
    assert [t for _, t in df.dtypes] == list(types)
    assert [repr(x) for x in df.first()] == [repr(v) for v in values]


def test_comma_from_between_streams_runs(spark):
    """A comma FROM between two streams whose WHERE equates their keys
    is a keyed stream-stream join, and returns the batch join's rows
    (as a cross join under a filter, Spark's stream-stream join
    rejected it when the stream ran)."""
    eng = FsqlEngine(spark, streaming=True)
    try:
        eng.register_stream_parquet("cf_o", f"{SF}/orders.parquet")
        eng.register_stream_parquet("cf_l", f"{SF}/lineitem.parquet")
        got = spark.table(drain_to_memory(eng.sql(
            "select o_orderkey, l_linenumber from cf_o, cf_l "
            "where o_orderkey = l_orderkey")))
        orders = spark.read.parquet(f"{SF}/orders.parquet")
        lines = spark.read.parquet(f"{SF}/lineitem.parquet")
        want = orders.join(lines, orders["o_orderkey"]
                           == lines["l_orderkey"]) \
            .select("o_orderkey", "l_linenumber")
        assert _rows(got) == _rows(want) and len(_rows(want)) > 0
    finally:
        eng.close()


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
