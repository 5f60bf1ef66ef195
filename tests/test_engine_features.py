"""Engine-level feature tests: DDL, INSERT, DML rejection, timer,
Result helpers — the SURVEY.md §2.1/§2.11 rows not exercised by the
driver-contract oracle suite.
"""

import pytest

from flink_dsl_spark import (Failure, FsqlEngine, Ok, ParseError,
                             UnsupportedError)
from flink_dsl_spark.errors import PlanError, ResolutionError, as_result
from flink_dsl_spark.parser import parse


@pytest.fixture()
def eng(spark):
    e = FsqlEngine(spark, timer=True)
    e.sql("create stream t (a int, b string) ")
    return e


# --------------------------------------------------------------------------
# CREATE SCHEMA inheritance (fsql/Ast.scala:49-51)
# --------------------------------------------------------------------------

def test_schema_inheritance_field_order(eng):
    eng.sql("create schema base (id long, name string)")
    eng.sql("create schema child (extra double) extends base")
    s = eng.catalog.get_schema("child")
    assert [f.name for f in s.fields] == ["id", "name", "extra"]


def test_schema_inheritance_rejects_duplicate(eng):
    eng.sql("create schema base2 (id long)")
    with pytest.raises(ResolutionError):
        eng.sql("create schema child2 (id int) extends base2")


def test_create_stream_with_named_schema(eng):
    eng.sql("create schema evsch (x int, y double)")
    eng.sql("create stream withsch evsch")
    df = eng.catalog.get("withsch")
    assert df.columns == ["x", "y"]


# --------------------------------------------------------------------------
# INSERT (flinkdsl/parser.scala:44-51, col-count validation
# flinkdsl/ast.scala:367-376)
# --------------------------------------------------------------------------

def test_insert_values(eng):
    out = eng.sql("insert into t (a, b) values (1, 'x'), (2, 'y')")
    assert sorted((r["a"], r["b"]) for r in out.collect()) == \
        [(1, "x"), (2, "y")]


def test_insert_partial_columns_null_fill(eng):
    eng.sql("insert into t (a) values (7)")
    rows = eng.catalog.get("t").collect()
    assert [(r["a"], r["b"]) for r in rows] == [(7, None)]


def test_insert_select(eng):
    eng.sql("insert into t values (1, 'x')")
    eng.sql("insert into t select a + 10, upper(b) from t")
    got = sorted((r["a"], r["b"]) for r in eng.catalog.get("t").collect())
    assert got == [(1, "x"), (11, "X")]


def test_insert_column_count_mismatch(eng):
    with pytest.raises(Exception):
        eng.sql("insert into t (a, b) values (1)")


def test_insert_params(eng):
    eng.sql("insert into t values (?, ?)", params=[5, "p"])
    assert [(r["a"], r["b"]) for r in eng.catalog.get("t").collect()] == \
        [(5, "p")]


# --------------------------------------------------------------------------
# INSERT INTO stream <source> — F dialect (fsql/parser.scala:268-277)
# --------------------------------------------------------------------------

def test_insert_from_file_source(eng, tmp_path):
    f = tmp_path / "rows.csv"
    f.write_text("3,c\n4,d\n")
    eng.sql("insert into t values (1, 'x')")
    out = eng.sql(f"insert into t source file ('{f}')")
    assert sorted((r["a"], r["b"]) for r in out.collect()) == \
        [(1, "x"), (3, "c"), (4, "d")]


def test_insert_from_file_source_partial_cols(eng, tmp_path):
    f = tmp_path / "rows2.csv"
    f.write_text("9\n")
    out = eng.sql(f"insert into t (a) source file ('{f}')")
    assert [(r["a"], r["b"]) for r in out.collect()] == [(9, None)]


def test_explain_statement(engine):
    """EXPLAIN <query> returns the Catalyst plan as rows; formatted
    mode surfaces scan pushdown details."""
    out = engine.sql("explain select count(*) as c from lineitem "
                     "where l_quantity > 10")
    txt = "\n".join(r["plan"] for r in out.collect())
    assert "Physical Plan" in txt
    out2 = engine.sql("explain formatted select l_orderkey from "
                      "lineitem where l_quantity > 10")
    txt2 = "\n".join(r["plan"] for r in out2.collect())
    assert "PushedFilters" in txt2
    from flink_dsl_spark import parse
    from flink_dsl_spark.ast_nodes import Explain
    st = parse("explain codegen select 1 + 1 as x")
    assert isinstance(st, Explain) and st.mode == "codegen"


def test_json_file_source_batch_and_stream(spark, tmp_path):
    """`source file('*.json')` resolves format by extension on both the
    batch and streaming paths (line-delimited JSON)."""
    import time
    f = tmp_path / "rows.json"
    f.write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n')
    eng = FsqlEngine(spark)
    eng.sql(f"create stream js (a int, b string) source file ('{f}')")
    got = sorted((r["a"], r["b"])
                 for r in eng.catalog.get("js").collect())
    assert got == [(1, "x"), (2, "y")]

    # streaming: same DDL with a streaming engine yields a file stream
    d = tmp_path / "jstream"
    d.mkdir()
    (d / "p1.json").write_text('{"a": 5, "b": "s"}\n')
    es = FsqlEngine(spark, streaming=True)
    es.sql(f"create stream js2 (a int, b string) source file ('{d}')")
    sdf = es.catalog.get("js2")
    assert sdf.isStreaming
    q = es.start_sink(sdf, name="js2sink", available_now=True)
    assert q.awaitTermination(60)
    rows = [(r["a"], r["b"]) for r in spark.table("js2sink").collect()]
    assert rows == [(5, "s")]


def test_explicit_format_names_match_advertised(spark, tmp_path):
    """The documented format NAMES work as the explicit second file()
    argument too, not just as extensions: 'jsonl'/'ndjson' resolve to
    the json reader and 'tsv' to tab-separated csv, even when the
    file's extension says nothing."""
    eng = FsqlEngine(spark)
    f = tmp_path / "extensionless_dump"
    f.write_text('{"a": 4, "b": "q"}\n')
    eng.sql(f"create stream xf (a int, b string) "
            f"source file ('{f}', 'jsonl')")
    assert [(r["a"], r["b"]) for r in
            eng.catalog.get("xf").collect()] == [(4, "q")]
    t = tmp_path / "dump2"
    t.write_text("3\tzed\n")
    eng.sql(f"create stream xt (a int, b string) "
            f"source file ('{t}', 'tsv')")
    assert [(r["a"], r["b"]) for r in
            eng.catalog.get("xt").collect()] == [(3, "zed")]


def test_infer_format_extension_table():
    f = FsqlEngine._infer_format
    assert f("a/b/corpus.jsonl") == "json"
    assert f("dump.ndjson") == "json"
    assert f("dump.jsonl.gz") == "json"
    assert f("dump.json.zst") == "json"
    assert f("t.tsv") == "tsv"
    assert f("t.tsv.bz2") == "tsv"
    assert f("t.csv.gz") == "csv"
    assert f("plain.txt.gz") == "text"
    assert f("x.parquet") == "parquet"
    # unknown/extension-free paths keep the historical parquet default
    assert f("mystery.bin") == "parquet"
    assert f("no_extension") == "parquet"
    # only ONE compression suffix is stripped (x.gz.gz stays unknown)
    assert f("x.jsonl.gz.gz") == "parquet"


def test_jsonl_tsv_and_compressed_file_sources(spark, tmp_path):
    """Corpus-dump formats resolve by extension: .jsonl/.ndjson are
    line-delimited JSON, .tsv is tab-separated, and a single
    compression suffix (.gz et al.) is stripped before matching —
    Spark's text-based readers decompress transparently."""
    import gzip
    eng = FsqlEngine(spark)

    f = tmp_path / "docs.jsonl"
    f.write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n')
    eng.sql(f"create stream jl (a int, b string) source file ('{f}')")
    assert sorted((r["a"], r["b"]) for r in
                  eng.catalog.get("jl").collect()) == [(1, "x"), (2, "y")]

    g = tmp_path / "docs2.ndjson"
    g.write_text('{"a": 7, "b": "n"}\n')
    eng.sql(f"create stream nd (a int, b string) source file ('{g}')")
    assert [(r["a"], r["b"]) for r in
            eng.catalog.get("nd").collect()] == [(7, "n")]

    t = tmp_path / "docs.tsv"
    t.write_text("1\tal\n2\tbee\n")
    eng.sql(f"create stream tv (a int, b string) source file ('{t}')")
    assert sorted((r["a"], r["b"]) for r in
                  eng.catalog.get("tv").collect()) == [(1, "al"),
                                                       (2, "bee")]

    z = tmp_path / "docs3.jsonl.gz"
    with gzip.open(z, "wt") as fh:
        fh.write('{"a": 9, "b": "z"}\n')
    eng.sql(f"create stream gz (a int, b string) source file ('{z}')")
    assert [(r["a"], r["b"]) for r in
            eng.catalog.get("gz").collect()] == [(9, "z")]

    # directory sniffing picks the member extension up too
    d = tmp_path / "jldir"
    d.mkdir()
    (d / "part-0.jsonl").write_text('{"a": 3, "b": "d"}\n')
    eng.sql(f"create stream jd (a int, b string) source file ('{d}')")
    assert [(r["a"], r["b"]) for r in
            eng.catalog.get("jd").collect()] == [(3, "d")]


def test_insert_streaming_mismatch_raises(spark, tmp_path):
    from flink_dsl_spark import PlanError
    e = FsqlEngine(spark, streaming=True)   # file sources become streams
    e.sql("create stream bt (a int, b string)")   # batch empty relation
    f = tmp_path / "rows3.csv"
    f.write_text("1,x\n")
    with pytest.raises(PlanError, match="streaming"):
        e.sql(f"insert into bt source file ('{f}')")


# --------------------------------------------------------------------------
# UPDATE / DELETE on session-catalog relations (beyond reference parity:
# the reference only parses these, flinkdsl/parser.scala:55-66)
# --------------------------------------------------------------------------

def test_update_executes_on_catalog_relation(spark):
    e = FsqlEngine(spark)
    e.register("m", spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, None, "c")],
        "id long, v double, tag string"))
    out = e.sql("update m set v = v * 2, tag = upper(tag) where id < 3")
    got = {(r.id, r.v, r.tag) for r in out.collect()}
    assert got == {(1, 20.0, "A"), (2, 40.0, "B"), (3, None, "c")}
    # the catalog now serves the mutated relation
    assert e.sql("select sum(v) as s from m").first()["s"] == 60.0


def test_update_rhs_sees_pre_update_values(spark):
    e = FsqlEngine(spark)
    e.register("sw", spark.createDataFrame([(1, 2)], "a long, b long"))
    row = e.sql("update sw set a = b, b = a").first()
    assert (row.a, row.b) == (2, 1)      # swap, not (2, 2)


def test_update_null_predicate_keeps_row(spark):
    e = FsqlEngine(spark)
    e.register("nu", spark.createDataFrame(
        [(1, 5.0), (2, None)], "id long, v double"))
    got = {(r.id, r.v) for r in
           e.sql("update nu set v = 0 where v > 1").collect()}
    assert got == {(1, 0.0), (2, None)}  # NULL predicate: unchanged


def test_delete_executes_and_null_keeps_row(spark):
    e = FsqlEngine(spark)
    e.register("dl", spark.createDataFrame(
        [(1, 5.0), (2, 50.0), (3, None)], "id long, v double"))
    out = e.sql("delete from dl where v > 10")
    assert {r.id for r in out.collect()} == {1, 3}
    assert {r.id for r in e.sql("select id from dl").collect()} == {1, 3}
    # unconditional DELETE empties the relation but keeps the schema
    empty = e.sql("delete from dl")
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["id", "v"]


def test_update_delete_guards(spark, eng):
    from flink_dsl_spark import PlanError
    e = FsqlEngine(spark)
    e.register("g", spark.createDataFrame([(1,)], "a long"))
    with pytest.raises(PlanError, match="unknown column"):
        e.sql("update g set nope = 1")
    with pytest.raises(PlanError, match="twice"):
        e.sql("update g set a = 1, a = 2")


# --------------------------------------------------------------------------
# dual / no-FROM (flinkdsl/typer.scala_:355-375)
# --------------------------------------------------------------------------

def test_select_without_from(eng):
    row = eng.sql("select 1 + 2 as x, lower('AB') as s").first()
    assert (row["x"], row["s"]) == (3, "ab")


def test_dual_pseudo_table(eng):
    row = eng.sql("select 42 as x from dual").first()
    assert row["x"] == 42


# --------------------------------------------------------------------------
# phase timer (fsql/timer.scala:3-16) + Result helpers
# (fsql/package.scala:70-113)
# --------------------------------------------------------------------------

def test_timer_records_phases(eng):
    eng.sql("select a from t where a > 0")
    t = eng.timer.phases
    assert {"parse", "resolve", "plan"} <= set(t)
    assert all(v >= 0 for v in t.values())


def test_as_result_ok():
    r = as_result(parse, "select 1 as x")
    assert isinstance(r, Ok) and r.ok


def test_as_result_failure_carries_position():
    r = as_result(parse, "select a\nfrom t where")
    assert isinstance(r, Failure) and not r.ok
    assert r.line == 2


def test_parse_error_message_has_position():
    with pytest.raises(ParseError, match=r"line 1"):
        FsqlEngine.__call__  # no-op: keep flake happy
        parse("select * frum t")


# --------------------------------------------------------------------------
# resolver policy: ambiguity raises (SURVEY.md §7.0(2))
# --------------------------------------------------------------------------

def test_ambiguous_unqualified_column_raises(spark):
    e = FsqlEngine(spark)
    e.sql("create stream s1 (x int, y int)")
    e.sql("create stream s2 (x int, z int)")
    with pytest.raises(ResolutionError, match="ambiguous"):
        e.sql("select x from s1 join s2 on s1.x = s2.x")


def test_unqualified_unique_column_binds(spark):
    e = FsqlEngine(spark)
    e.sql("create stream s3 (x int, y int)")
    e.sql("create stream s4 (w int, z int)")
    df = e.sql("select y, z from s3 join s4 on x = w")
    assert set(df.columns) == {"y", "z"}


def test_param_typed_from_compared_column(spark):
    """Reference-parity param typing (flinkdsl/typer.scala_:97-158): a
    `?` compared to a column takes the column's type, so a string-typed
    parameter against a numeric column compares numerically."""
    e = FsqlEngine(spark)
    e.register("pt", spark.createDataFrame(
        [(1, 9.0), (2, 10.0), (3, 11.0)], "id long, v double"))
    got = {r.id for r in
           e.sql("select id from pt where v > ?", params=["9.5"]).collect()}
    assert got == {2, 3}
    got = {r.id for r in
           e.sql("select id from pt where ? = id", params=["2"]).collect()}
    assert got == {2}
    # without column context the literal binds as-is
    row = e.sql("select ? + 1 as x", params=[41]).first()
    assert row.x == 42


def test_multi_arg_and_approx_aggregates(spark, engine):
    """Multi-argument aggregates compile every expression argument and
    keep constant arguments foldable literals (percentile fractions
    must stay literals for Catalyst)."""
    r = engine.sql("""
        select percentile_approx(value, 0.5) as p50,
               approx_count_distinct(user_id) as adc,
               corr(value, user_id) as cr,
               covar_samp(value * 2, user_id + 1) as cv
        from events""").first()
    assert r.p50 > 0 and r.adc > 0
    assert r.cr is not None and r.cv is not None
    # exact check for the two-column aggregates vs a manual formula
    import math
    rows = engine.sql("select value, user_id from events").collect()
    xs = [x.value for x in rows]; ys = [float(x.user_id) for x in rows]
    mx, my = sum(xs)/len(xs), sum(ys)/len(ys)
    cov = sum((a-mx)*(b-my) for a, b in zip(xs, ys)) / (len(xs)-1)
    sx = math.sqrt(sum((a-mx)**2 for a in xs) / (len(xs)-1))
    sy = math.sqrt(sum((b-my)**2 for b in ys) / (len(ys)-1))
    assert abs(r.cr - cov/(sx*sy)) < 1e-9


def test_division_by_zero_yields_null(spark):
    """Reference division rule (nullable Double) holds even on Spark 4
    ANSI-default sessions: / and % give NULL on a zero divisor instead
    of raising DIVIDE_BY_ZERO."""
    e = FsqlEngine(spark)
    e.register("dz", spark.createDataFrame(
        [(1, 0), (9, 2)], "a long, b long"))
    got = {r.a: (r.q, r.m) for r in
           e.sql("select a, a / b as q, a % b as m from dz").collect()}
    assert got[1] == (None, None)
    assert got[9] == (4.5, 1)
    # X expression surface takes the same rule
    x = {r.a: r.q for r in
         e.table("dz").select("a, a / b as q").to_df().collect()}
    assert x[1] is None and x[9] == 4.5


def test_engine_close_restores_session_confs(spark):
    """FsqlEngine.__init__ mutates the caller's session confs (UTC tz,
    nanosAsLong, Arrow, shuffle partitions); close() must put back the
    pre-engine values so co-tenant workloads aren't silently changed."""
    tz_key = "spark.sql.session.timeZone"
    prior_tz = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "America/New_York")
    e = FsqlEngine(spark)
    assert spark.conf.get(tz_key) == "UTC"
    e.close()
    assert spark.conf.get(tz_key) == "America/New_York"
    spark.conf.set(tz_key, prior_tz)
    # a fresh engine still re-applies the required confs afterwards
    e2 = FsqlEngine(spark)
    assert spark.conf.get(tz_key) == "UTC"
    e2.close()


def test_order_by_nulls_first_last(engine):
    """Explicit NULLS FIRST/LAST (engine extension): the portable
    escape hatch for Spark's asc=NULLS FIRST vs warehouse NULLS LAST
    defaults.  Verified on row ORDER (the compare harness sorts rows,
    so this asserts positions directly)."""
    base = ("select case when r_regionkey < 2 then null "
            "else r_regionkey end as k from region order by k")
    keys = lambda q: [r["k"] for r in engine.sql(q).collect()]
    assert keys(base + " nulls last") == [2, 3, 4, None, None]
    assert keys(base + " nulls first") == [None, None, 2, 3, 4]
    assert keys(base + " desc nulls first") == [None, None, 4, 3, 2]
    assert keys(base + " desc nulls last") == [4, 3, 2, None, None]
    # default keeps Spark semantics (asc => nulls first)
    assert keys(base) == [None, None, 2, 3, 4]
    # aggregation path (group key expression repeated — alias-in-GROUP
    # BY is not a dialect form)
    case = ("case when r_regionkey < 2 then null "
            "else r_regionkey end")
    agg = (f"select {case} as k, count(*) as c from region "
           f"group by {case} order by {case} nulls last")
    assert [r["k"] for r in engine.sql(agg).collect()] == [2, 3, 4, None]
    # OVER-window ordering honors the placement too
    win = ("select r_regionkey, row_number() over (order by "
           "case when r_regionkey < 2 then null else r_regionkey end "
           "nulls last) as rn from region")
    rows = {r["r_regionkey"]: r["rn"] for r in engine.sql(win).collect()}
    assert rows[0] in (4, 5) and rows[1] in (4, 5) and rows[2] == 1
    # set-operation ORDER BY goes through its own index-resolved path
    setop = ("select case when r_regionkey < 2 then null "
             "else r_regionkey end as k from region "
             "union all select n_nationkey as k from nation "
             "where n_nationkey < 2 order by k desc nulls last")
    assert [r["k"] for r in engine.sql(setop).collect()] == \
        [4, 3, 2, 1, 0, None, None]
    # parse error on a typo
    with pytest.raises(ParseError, match="FIRST or LAST"):
        parse("select a from t order by a nulls sometimes")


def test_nulls_placement_on_sqlgen_path(engine):
    """A subquery routes through sqlgen — NULLS FIRST/LAST must render
    into the generated SQL, not be dropped."""
    q = ("select case when r_regionkey < 2 then null "
         "else r_regionkey end as k from region "
         "where r_regionkey < (select count(*) from region) "
         "order by k nulls last")
    assert [r["k"] for r in engine.sql(q).collect()] == \
        [2, 3, 4, None, None]


# ---------------------------------------------------------------------------
# DISTINCT evaluates before ORDER BY (late-r8 fix)
# ---------------------------------------------------------------------------

def test_distinct_order_by_row_order(engine):
    """Pre-fix, .distinct() ran AFTER the sort and shuffled it away —
    and with LIMIT returned arbitrary rows.  Row ORDER asserted."""
    vals = [r[0] for r in engine.sql(
        "select distinct o_orderpriority from orders "
        "order by o_orderpriority").collect()]
    assert vals == sorted(vals) and len(vals) == 5

    top = [r[0] for r in engine.sql(
        "select distinct o_custkey from orders "
        "order by o_custkey desc limit 5").collect()]
    assert top == sorted(top, reverse=True)
    # the LIMIT must take the 5 LARGEST keys, not arbitrary ones
    all_keys = {r[0] for r in engine.sql(
        "select distinct o_custkey from orders").collect()}
    assert top == sorted(all_keys, reverse=True)[:5]


def test_distinct_order_by_ordinal_and_agg_paths(engine):
    rows = engine.sql("select distinct o_orderstatus, o_orderpriority "
                      "from orders order by 1, 2").collect()
    assert [tuple(r) for r in rows] == sorted(tuple(r) for r in rows)
    ns = [r[0] for r in engine.sql(
        "select distinct count(*) as n from orders "
        "group by o_orderstatus order by n").collect()]
    assert ns == sorted(ns)


def test_distinct_order_by_requires_output_key(engine):
    from flink_dsl_spark.errors import PlanError
    with pytest.raises(PlanError, match="select-list outputs"):
        engine.sql("select distinct o_orderstatus from orders "
                   "order by o_custkey")


def test_register_jdbc_roundtrip_with_derby(spark):
    """The external-RDBMS catalog path (engine.register_jdbc — the
    reference's schemacrawler introspection role,
    flinkdsl/database.scala:11-31) driven end-to-end against the
    Apache Derby embedded driver Spark bundles for its metastore:
    schema (names, types, nullability) comes from JDBC driver
    metadata, and the registered relation composes with the dialect
    like any other (filter pushes to the JDBC scan)."""
    url = "jdbc:derby:memory:fsqljdbc_t;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = spark.createDataFrame(
        [(1, "alice", 34.5), (2, "bob", None), (3, "carol", 7.25)],
        "id int, name string, score double")
    src.write.jdbc(url, "people", mode="overwrite", properties=props)
    eng = FsqlEngine(spark)
    eng.register_jdbc("people", url, "people", properties=props)
    # driver-metadata schema: names + types survive the round trip
    got = eng.sql("select id, name, score from people order by id")
    assert got.schema.simpleString() == \
        "struct<id:int,name:string,score:double>"
    assert [(r["id"], r["name"], r["score"]) for r in got.collect()] \
        == [(1, "alice", 34.5), (2, "bob", None), (3, "carol", 7.25)]
    # predicate pushdown reaches the JDBC scan
    df = eng.sql("select name from people where id = 2")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "id" in plan
    assert [r["name"] for r in df.collect()] == ["bob"]


def _merge_fixture(spark):
    e = FsqlEngine(spark)
    e.register("mt", spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, tag string, v double"))
    e.register("ms", spark.createDataFrame(
        [(2, 200.0), (3, None), (4, 400.0)], "id long, nv double"))
    return e


def test_merge_update_and_insert(spark):
    """Full upsert: matched rows update (RHS sees both sides), a NULL
    matched-condition behaves as FALSE, unmatched source rows insert,
    and the catalog serves the merged relation afterwards."""
    e = _merge_fixture(spark)
    out = e.sql(
        "merge into mt using ms on mt.id = ms.id "
        "when matched and ms.nv is not null then "
        "  update set v = ms.nv, tag = upper(tag) "
        "when not matched then insert (id, tag, v) "
        "  values (ms.id, 'new', ms.nv)")
    got = {(r.id, r.tag, r.v) for r in out.collect()}
    assert got == {(1, "a", 10.0), (2, "B", 200.0),
                   (3, "c", 30.0), (4, "new", 400.0)}
    assert e.sql("select count(*) as n from mt").first()["n"] == 4


def test_merge_delete_and_insert_defaults(spark):
    """DELETE clause removes matched rows; an INSERT without a column
    list is positional over the full target schema; omitted columns
    in a listed INSERT are NULL."""
    e = _merge_fixture(spark)
    out = e.sql(
        "merge into mt using ms on mt.id = ms.id "
        "when matched then delete "
        "when not matched and ms.nv > 0 then insert (id) values (ms.id)")
    got = {(r.id, r.tag, r.v) for r in out.collect()}
    assert got == {(1, "a", 10.0), (4, None, None)}
    e2 = _merge_fixture(spark)
    out2 = e2.sql(
        "merge into mt using (select id + 10 as id, 'x' as tag, "
        "1.5 as v from ms) as n on mt.id = n.id "
        "when not matched then insert values (n.id, n.tag, n.v)")
    assert out2.count() == 6   # 3 original + 3 inserted (12, 13, 14)


def test_merge_cardinality_violation(spark):
    e = FsqlEngine(spark)
    e.register("mt", spark.createDataFrame(
        [(1, 1.0)], "id long, v double"))
    e.register("dup", spark.createDataFrame(
        [(1, 5.0), (1, 6.0)], "id long, nv double"))
    with pytest.raises(PlanError, match="cardinality"):
        e.sql("merge into mt using dup on mt.id = dup.id "
              "when matched then update set v = dup.nv")
    # identical duplicate source rows are NOT a violation
    e.register("dup2", spark.createDataFrame(
        [(1, 5.0), (1, 5.0)], "id long, nv double"))
    out = e.sql("merge into mt using dup2 on mt.id = dup2.id "
                "when matched then update set v = dup2.nv")
    assert [(r.id, r.v) for r in out.collect()] == [(1, 5.0)]


def test_merge_errors(spark):
    e = _merge_fixture(spark)
    with pytest.raises(PlanError, match="ambiguous"):
        e.sql("merge into mt using ms on id = id "
              "when matched then delete")
    with pytest.raises(PlanError, match="cannot reference target"):
        e.sql("merge into mt using ms on mt.id = ms.id "
              "when not matched and mt.v > 0 then "
              "insert (id) values (ms.id)")
    with pytest.raises(PlanError, match="unknown column"):
        e.sql("merge into mt using ms on mt.nope = ms.id "
              "when matched then delete")
    with pytest.raises(PlanError, match="assigned twice"):
        e.sql("merge into mt using ms on mt.id = ms.id "
              "when matched then update set v = 1, v = 2")
    with pytest.raises(PlanError, match="3 values for 2"):
        e.sql("merge into mt using ms on mt.id = ms.id "
              "when not matched then insert (id, tag) "
              "values (ms.id, 'x', 1)")
    with pytest.raises(ParseError, match="at least one WHEN"):
        e.sql("merge into mt using ms on mt.id = ms.id")
    # multi-clause (r12): a conditionless clause must be LAST of its
    # kind — anything after it could never fire
    with pytest.raises(ParseError, match="unreachable WHEN MATCHED"):
        e.sql("merge into mt using ms on mt.id = ms.id "
              "when matched then delete when matched then delete")
    with pytest.raises(PlanError, match="distinct names"):
        e.sql("merge into mt using mt on mt.id = mt.id "
              "when matched then delete")


def test_merge_streaming_rejected(spark):
    import os
    import tempfile
    from .conftest import SF_DIR
    from tests.test_hints_ddl import _ddl_type
    e = FsqlEngine(spark, streaming=True)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    d = tempfile.mkdtemp(prefix="merge_stream_")
    os.symlink(f"{SF_DIR}/events.parquet",
               os.path.join(d, "events.parquet"))
    e.sql("create stream mg_ev ("
          + ", ".join(f"{f.name} {_ddl_type(f.dataType)}"
                      for f in ev.schema.fields)
          + f") source file ('{d}', 'parquet')")
    e.register("mg_b", spark.createDataFrame([(1,)], "event_id long"))
    try:
        with pytest.raises(PlanError, match="streaming"):
            e.sql("merge into mg_ev using mg_b "
                  "on mg_ev.event_id = mg_b.event_id "
                  "when matched then delete")
    finally:
        e.sql("drop stream mg_ev")


def test_merge_review_regressions(spark):
    """r11 review findings: a set-operation USING source plans (the
    resolver dispatched SetOp to resolve_select and crashed); a
    map-typed source column rejects cleanly (dropDuplicates/
    count_distinct cannot compare maps); a duplicate INSERT column
    raises like the UPDATE path's assigned-twice."""
    e = _merge_fixture(spark)
    out = e.sql(
        "merge into mt using (select id, nv from ms where id = 2 "
        "union all select id + 100, nv from ms) as u "
        "on mt.id = u.id "
        "when matched then update set v = u.nv")
    got = {(r.id, r.v) for r in out.collect()}
    assert (2, 200.0) in got and (1, 10.0) in got
    with pytest.raises(PlanError, match="listed twice"):
        e.sql("merge into mt using ms on mt.id = ms.id "
              "when not matched then insert (id, id) "
              "values (ms.id, 99)")
    import pyspark.sql.functions as F
    e.register("msm", spark.createDataFrame(
        [(2, 5.0)], "id long, nv double").withColumn(
            "m", F.create_map(F.lit("k"), F.lit(1))))
    with pytest.raises(PlanError, match="map-typed"):
        e.sql("merge into mt using msm on mt.id = msm.id "
              "when matched then update set v = msm.nv")


def test_merge_map_guard_scoping(spark):
    """r11 advice: the map guard must look at BOTH sides and ONLY the
    paths that dedup/aggregate.  (a) insert-only merge from a
    map-typed source is fine — the anti join compares only the ON
    keys; (b) a map-typed TARGET with WHEN MATCHED rejects cleanly
    (the cardinality check groups by every target column)."""
    import pyspark.sql.functions as F
    e = _merge_fixture(spark)
    e.register("msm2", spark.createDataFrame(
        [(3, 33.0), (9, 99.0)], "id long, nv double").withColumn(
            "m", F.create_map(F.lit("k"), F.lit(1))))
    out = e.sql("merge into mt using msm2 on mt.id = msm2.id "
                "when not matched then insert (id, tag, v) "
                "values (msm2.id, 'ins', msm2.nv)")
    got = {(r.id, r.v) for r in out.collect()}
    assert (9, 99.0) in got and (3, 30.0) in got and len(got) == 4
    e.register("mtm", spark.createDataFrame(
        [(1, 1.0)], "id long, v double").withColumn(
            "m", F.create_map(F.lit("k"), F.lit(1))))
    e.register("ms2", spark.createDataFrame(
        [(1, 5.0)], "id long, nv double"))
    with pytest.raises(PlanError, match="map-typed"):
        e.sql("merge into mtm using ms2 on mtm.id = ms2.id "
              "when matched then update set v = ms2.nv")
    # (c) by-source-only from a map-typed source also passes — the
    # semi/anti joins compare only the ON keys (r12 review)
    out3 = e.sql("merge into mt using msm2 on mt.id = msm2.id "
                 "when not matched by source then delete")
    assert {r.id for r in out3.collect()} == {3, 9}


def test_merge_multi_clause_ordered(spark):
    """r12: N WHEN MATCHED [AND c] clauses evaluated in statement
    order, first-true-wins — the canonical update-if-fresh /
    delete-if-tombstone / else-ignore upsert.  ms: id2 nv=200
    (fresh), id3 nv=NULL (tombstone via IS NULL guard)."""
    e = _merge_fixture(spark)
    out = e.sql(
        "merge into mt using ms on mt.id = ms.id "
        "when matched and ms.nv is null then delete "
        "when matched and ms.nv > 100 then update set v = ms.nv "
        "when matched then update set tag = 'stale'")
    got = {(r.id, r.tag, r.v) for r in out.collect()}
    # id1 unmatched (kept), id2 hit clause 2, id3 hit clause 1 (gone)
    assert got == {(1, "a", 10.0), (2, "b", 200.0)}


def test_merge_multi_clause_first_wins(spark):
    """A row satisfying SEVERAL clause conditions takes only the
    FIRST — later arms must not also apply."""
    e = _merge_fixture(spark)
    out = e.sql(
        "merge into mt using ms on mt.id = ms.id "
        "when matched and ms.nv > 0 then update set tag = 'first' "
        "when matched and ms.nv > 100 then update set tag = 'second'")
    got = {r.id: r.tag for r in out.collect()}
    assert got[2] == "first" and got[3] == "c" and got[1] == "a"


def test_merge_multi_insert_clauses(spark):
    """Multiple WHEN NOT MATCHED clauses route inserts: each clause
    carries its OWN column list and values; unrouted source rows
    (no clause fires) do not insert."""
    e = _merge_fixture(spark)
    e.register("ms3", spark.createDataFrame(
        [(7, 70.0), (8, -1.0), (9, None)], "id long, nv double"))
    out = e.sql(
        "merge into mt using ms3 on mt.id = ms3.id "
        "when not matched and ms3.nv > 0 then "
        "  insert (id, tag, v) values (ms3.id, 'pos', ms3.nv) "
        "when not matched and ms3.nv < 0 then "
        "  insert (id, tag) values (ms3.id, 'neg')")
    got = {(r.id, r.tag, r.v) for r in out.collect()}
    assert (7, "pos", 70.0) in got and (8, "neg", None) in got
    assert not any(r[0] == 9 for r in got)   # NULL cond = no clause
    assert len(got) == 5


def test_merge_multi_by_source_clauses(spark):
    """Ordered BY SOURCE clauses on both planner paths (with and
    without a matched clause): tag-if-recent else delete."""
    e = _merge_fixture(spark)
    sync = ("merge into mt using ms on mt.id = ms.id "
            "{}"
            "when not matched by source and mt.v >= 10 then "
            "  update set tag = 'kept' "
            "when not matched by source then delete")
    # path 1: semi/anti (no matched clause).  id1 is the only
    # unmatched target row and v=10 keeps it
    out = e.sql(sync.format(""))
    got = {(r.id, r.tag) for r in out.collect()}
    assert (1, "kept") in got and len(got) == 3
    # path 2: the left-join path (matched clause present)
    e2 = _merge_fixture(spark)
    out2 = e2.sql(sync.format(
        "when matched and ms.nv is not null then "
        "update set v = ms.nv "))
    got2 = {(r.id, r.tag, r.v) for r in out2.collect()}
    assert got2 == {(1, "kept", 10.0), (2, "b", 200.0),
                    (3, "c", 30.0)}


def test_merge_set_star_and_insert_star(spark):
    """r12 Delta-style shorthands: UPDATE SET * copies every
    same-named source column into the target (unmatched names keep
    their target value); INSERT * inserts source columns by name,
    the rest NULL; SET * is rejected in BY SOURCE (no source row)."""
    e = FsqlEngine(spark)
    e.register("st", spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id long, tag string, v double"))
    e.register("ss", spark.createDataFrame(
        [(2, 222.0), (9, 999.0)], "id long, v double"))
    out = e.sql("merge into st using ss on st.id = ss.id "
                "when matched then update set * "
                "when not matched then insert *")
    got = {(r.id, r.tag, r.v) for r in out.collect()}
    # id2: v copied, tag (absent from source) kept; id9: tag NULL
    assert got == {(1, "a", 10.0), (2, "b", 222.0), (9, None, 999.0)}
    with pytest.raises(PlanError, match="BY SOURCE"):
        e.sql("merge into st using ss on st.id = ss.id "
              "when not matched by source then update set *")
    # no name overlap at all → clean error, not a silent no-op
    e.register("sx", spark.createDataFrame([(1,)], "zz long"))
    with pytest.raises(PlanError, match="no target column matches"):
        e.sql("merge into st using sx on st.id = sx.zz "
              "when matched then update set *")
    with pytest.raises(PlanError, match="no source column matches"):
        e.sql("merge into st using sx on st.id = sx.zz "
              "when not matched then insert *")
    # routed multi-clause composition: * clauses obey clause order
    e.register("st2", spark.createDataFrame(
        [(1, "a", 10.0)], "id long, tag string, v double"))
    e.register("ss2", spark.createDataFrame(
        [(7, 70.0), (8, -8.0)], "id long, v double"))
    out2 = e.sql("merge into st2 using ss2 on st2.id = ss2.id "
                 "when not matched and ss2.v > 0 then insert * "
                 "when not matched then insert (id, tag) "
                 "  values (ss2.id, 'neg')")
    got2 = {(r.id, r.tag, r.v) for r in out2.collect()}
    assert got2 == {(1, "a", 10.0), (7, None, 70.0), (8, "neg", None)}


def test_merge_not_matched_by_source(spark):
    """The full-table-sync clause: matched rows update, new rows
    insert, rows absent from the source delete — one statement."""
    e = _merge_fixture(spark)
    out = e.sql(
        "merge into mt using ms on mt.id = ms.id "
        "when matched then update set v = ms.nv, tag = 'SYNCED' "
        "when not matched then insert (id, tag, v) "
        "  values (ms.id, 'added', ms.nv) "
        "when not matched by source then delete")
    got = {(r.id, r.tag, r.v) for r in out.collect()}
    assert got == {(2, "SYNCED", 200.0), (3, "SYNCED", None),
                   (4, "added", 400.0)}   # id 1 deleted (not in ms)


def test_merge_by_source_update_and_no_fanout(spark):
    """By-source UPDATE with a condition (target-side refs only); the
    no-matched-clause path must not duplicate target rows when the
    source has multiple matches (semi/anti formulation)."""
    e = FsqlEngine(spark)
    e.register("t2", spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, tag string"))
    e.register("sdup", spark.createDataFrame(
        [(2, 1.0), (2, 2.0)], "id long, x double"))
    out = e.sql(
        "merge into t2 using sdup on t2.id = sdup.id "
        "when not matched by source and t2.id > 0 then "
        "update set tag = 'stale'")
    assert sorted((r.id, r.tag) for r in out.collect()) == \
        [(1, "stale"), (2, "b")]
    out2 = e.sql(
        "merge into t2 using sdup on t2.id = sdup.id "
        "when not matched by source then delete")
    assert [(r.id, r.tag) for r in out2.collect()] == [(2, "b")]
    # by-source expressions must not reach the source side
    with pytest.raises(PlanError, match="cannot reference|unknown"):
        e.sql("merge into t2 using sdup on t2.id = sdup.id "
              "when not matched by source then update set tag = "
              "cast(sdup.x as string)")
    with pytest.raises(ParseError, match="unreachable WHEN NOT "
                                         "MATCHED BY SOURCE"):
        e.sql("merge into t2 using sdup on t2.id = sdup.id "
              "when not matched by source then delete "
              "when not matched by source then delete")
    # BY TARGET is the explicit spelling of the insert clause
    out3 = e.sql(
        "merge into t2 using sdup on t2.id = sdup.id "
        "when not matched by target then insert (id, tag) "
        "values (sdup.id, 'x')")
    assert out3.count() == 1   # id 2 matched; no unmatched source ids


def test_merge_differential_fuzz(spark):
    """r11 fuzz shape for the MERGE family: random target/source
    tables and clause combinations vs a pure-Python replay of the
    ANSI semantics (update matched, insert unmatched source, delete/
    update unmatched-by-source), across all three clause kinds."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[
                  HealthCheck.function_scoped_fixture,
                  HealthCheck.too_slow])
    @given(st.lists(st.tuples(st.integers(0, 6),
                              st.integers(-5, 5)),
                    min_size=0, max_size=8, unique_by=lambda t: t[0]),
           st.lists(st.tuples(st.integers(0, 9),
                              st.integers(-5, 5)),
                    min_size=0, max_size=8, unique_by=lambda t: t[0]),
           st.sampled_from(["update", "delete", None]),
           st.booleans(),
           st.sampled_from(["update", "delete", None]))
    def case(trows, srows, mkind, insert, bkind):
        if mkind is None and not insert and bkind is None:
            return
        e = FsqlEngine(spark)
        e.register("ft", spark.createDataFrame(
            trows, "id long, v long") if trows else
            spark.createDataFrame([], "id long, v long"))
        e.register("fs", spark.createDataFrame(
            srows, "id long, nv long") if srows else
            spark.createDataFrame([], "id long, nv long"))
        clauses = []
        if mkind == "update":
            clauses.append("when matched and fs.nv > 0 then "
                           "update set v = fs.nv * 10")
        elif mkind == "delete":
            clauses.append("when matched and fs.nv > 0 then delete")
        if insert:
            clauses.append("when not matched then insert (id, v) "
                           "values (fs.id, fs.nv)")
        if bkind == "update":
            clauses.append("when not matched by source and ft.v < 0 "
                           "then update set v = 99")
        elif bkind == "delete":
            clauses.append("when not matched by source and ft.v < 0 "
                           "then delete")
        out = e.sql("merge into ft using fs on ft.id = fs.id "
                    + " ".join(clauses))
        got = sorted((r.id, r.v) for r in out.collect())

        smap = dict(srows)
        exp = []
        for tid, tv in trows:
            if tid in smap:
                nv = smap[tid]
                if mkind == "update" and nv > 0:
                    exp.append((tid, nv * 10))
                elif mkind == "delete" and nv > 0:
                    pass
                else:
                    exp.append((tid, tv))
            else:
                if bkind == "update" and tv < 0:
                    exp.append((tid, 99))
                elif bkind == "delete" and tv < 0:
                    pass
                else:
                    exp.append((tid, tv))
        if insert:
            tids = {t for t, _ in trows}
            exp.extend((sid, nv) for sid, nv in srows
                       if sid not in tids)
        assert got == sorted(exp), (trows, srows, mkind, insert, bkind)

    case()


def test_merge_multi_clause_differential_fuzz(spark):
    """r12 fuzz shape for ORDERED multi-clause MERGE: two matched
    clauses (conditional delete, then conditional update) + two
    routed insert clauses vs a pure-Python first-true-wins replay."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[
                  HealthCheck.function_scoped_fixture,
                  HealthCheck.too_slow])
    @given(st.lists(st.tuples(st.integers(0, 6),
                              st.integers(-5, 5)),
                    min_size=0, max_size=8, unique_by=lambda t: t[0]),
           st.lists(st.tuples(st.integers(0, 9),
                              st.integers(-5, 5)),
                    min_size=0, max_size=8, unique_by=lambda t: t[0]),
           st.integers(-4, 4), st.integers(-4, 4))
    def case(trows, srows, thr1, thr2):
        e = FsqlEngine(spark)
        e.register("ft", spark.createDataFrame(
            trows, "id long, v long") if trows else
            spark.createDataFrame([], "id long, v long"))
        e.register("fs", spark.createDataFrame(
            srows, "id long, nv long") if srows else
            spark.createDataFrame([], "id long, nv long"))
        out = e.sql(
            f"merge into ft using fs on ft.id = fs.id "
            f"when matched and fs.nv < {thr1} then delete "
            f"when matched and fs.nv < {thr2} then "
            f"  update set v = fs.nv * 10 "
            f"when matched then update set v = 0 "
            f"when not matched and fs.nv > {thr1} then "
            f"  insert (id, v) values (fs.id, fs.nv + 100) "
            f"when not matched then insert (id, v) "
            f"  values (fs.id, -1)")
        got = sorted((r.id, r.v) for r in out.collect())

        smap, exp = dict(srows), []
        for tid, tv in trows:
            if tid in smap:
                nv = smap[tid]
                if nv < thr1:
                    pass                       # clause 1: delete
                elif nv < thr2:
                    exp.append((tid, nv * 10))  # clause 2
                else:
                    exp.append((tid, 0))        # clause 3
            else:
                exp.append((tid, tv))
        tids = {t for t, _ in trows}
        for sid, nv in srows:
            if sid not in tids:
                exp.append((sid, nv + 100) if nv > thr1
                           else (sid, -1))
        assert got == sorted(exp), (trows, srows, thr1, thr2)

    case()
