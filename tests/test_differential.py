"""Differential property testing: hypothesis-generated queries execute
through the engine (parse -> resolve -> plan -> Catalyst) AND through
DuckDB (same AST rendered to ANSI SQL by sqlgen), results compared
order-insensitively.  For queries the DataFrame planner compiles, the
two paths share only the parser, so this cross-checks resolver+planner
against an independent executor on hundreds of generated queries.  A
query with an IN/EXISTS/scalar/quantified subquery or a LATERAL derived
table is different: the planner hands it to ``Planner._plan_via_sql``,
which renders it with the same sqlgen for Spark, as does WITH RECURSIVE.
For those, sqlgen's rewrites are checked only against themselves, and
the test cross-checks the two executors, not the translation.
Quantified comparisons (``op ALL/ANY/SOME (subquery)``) carry their own
oracle text instead, spelled with EXISTS / NOT EXISTS: sqlgen would
otherwise check its own rendering on both sides, and DuckDB mis-answers
some correlated ``= ALL`` forms.
"""

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from flink_dsl_spark import parse
from flink_dsl_spark.sqlgen import to_sql

from .conftest import normalize

# integer, non-null columns only: keeps arithmetic exact on both engines
_NATION_INTS = ["n_nationkey", "n_regionkey"]
_REGION_INTS = ["r_regionkey"]


@st.composite
def _int_expr(draw, cols, depth=0):
    if depth >= 2:
        return draw(st.one_of(
            st.sampled_from(cols),
            st.integers(0, 50).map(str)))
    branch = draw(st.integers(0, 4))
    if branch <= 1:
        return draw(st.one_of(st.sampled_from(cols),
                              st.integers(0, 50).map(str)))
    if branch == 2:
        op = draw(st.sampled_from(["+", "-", "*"]))
        return (f"({draw(_int_expr(cols, depth + 1))} {op} "
                f"{draw(_int_expr(cols, depth + 1))})")
    if branch == 3:
        # modulo by a non-zero literal only (divide-by-zero semantics
        # differ: Spark yields NULL, DuckDB errors)
        return (f"({draw(_int_expr(cols, depth + 1))} % "
                f"{draw(st.integers(1, 7))})")
    return (f"(case when {draw(_int_expr(cols, depth + 1))} > "
            f"{draw(st.integers(0, 20))} then "
            f"{draw(_int_expr(cols, depth + 1))} else "
            f"{draw(_int_expr(cols, depth + 1))} end)")


@st.composite
def _predicate(draw, cols):
    kind = draw(st.integers(0, 4))
    e = draw(_int_expr(cols))
    if kind == 0:
        op = draw(st.sampled_from(["=", "!=", "<", ">", "<=", ">="]))
        return f"{e} {op} {draw(_int_expr(cols))}"
    if kind == 1:
        lo = draw(st.integers(0, 10))
        return f"{e} between {lo} and {lo + draw(st.integers(0, 15))}"
    if kind == 2:
        items = draw(st.lists(st.integers(0, 24), min_size=1, max_size=4))
        return f"{e} in ({', '.join(map(str, items))})"
    if kind == 3:
        return (f"({draw(_predicate(cols))}) and "
                f"({draw(_predicate(cols))})")
    return (f"({draw(_predicate(cols))}) or "
            f"not ({draw(_predicate(cols))})")


# a NULL-yielding subquery element: the unknown arm of a quantifier
_NULLY_PROJ = "case when c_custkey % 7 = 0 then null else c_custkey % 20 end"
_COUNT_WHERE = "select count(*) as n from nation where {}"


def _quantified(op: str, quant: str, proj: str, where: str,
                negated: bool = False) -> tuple[str, str]:
    """``[not] n_nationkey op quant (select proj from customer where
    ...)`` and its quantifier-free truth, for a context where only TRUE
    counts (WHERE, CASE WHEN).  With n_nationkey never NULL: ALL is
    true iff no element compares false or is NULL, NOT ALL iff some
    element compares false; ANY/SOME is true iff some element compares
    true, NOT ANY iff no element compares true or is NULL."""
    pred = f"n_nationkey {op} {quant} (select {proj} from customer " \
           f"where {where})"
    if negated:
        pred = f"not ({pred})"
    hit = f"n_nationkey {op} ({proj})"
    flip = quant == "all"
    cond = f"not ({hit})" if flip else hit
    if flip != negated:
        oracle = (f"not exists (select 1 from customer where {where} "
                  f"and ({cond} or ({proj}) is null))")
    else:
        oracle = f"exists (select 1 from customer where {where} and {cond})"
    return pred, oracle


@st.composite
def _query(draw):
    """One generated statement: its text, or (text, oracle text) when
    DuckDB must run a different spelling."""
    shape = draw(st.integers(0, 27))
    if shape == 0:
        # single-table projection + filter
        cols = _NATION_INTS
        n = draw(st.integers(1, 3))
        items = ", ".join(f"{draw(_int_expr(cols))} as c{i}"
                          for i in range(n))
        sql = f"select {items} from nation"
        if draw(st.booleans()):
            sql += f" where {draw(_predicate(cols))}"
        if draw(st.booleans()):
            sql = sql.replace("select ", "select distinct ", 1)
        return sql
    if shape == 1:
        # grouped aggregation (+ optional having)
        cols = _NATION_INTS
        fn = draw(st.sampled_from(["sum", "count", "min", "max", "avg"]))
        arg = draw(_int_expr(cols))
        sql = (f"select n_regionkey, {fn}({arg}) as agg1, "
               f"count(*) as cnt from nation")
        if draw(st.booleans()):
            sql += f" where {draw(_predicate(cols))}"
        sql += " group by n_regionkey"
        if draw(st.booleans()):
            sql += f" having count(*) > {draw(st.integers(0, 3))}"
        return sql
    if shape == 2:
        # join + projection (all four join types; optional 3-way chain)
        cols = _NATION_INTS + _REGION_INTS
        how = draw(st.sampled_from(["join", "left join", "right join",
                                    "full join"]))
        e = draw(_int_expr(cols))
        sql = (f"select n_nationkey, r_regionkey, {e} as c0 "
               f"from nation {how} region on n_regionkey = r_regionkey")
        if draw(st.booleans()):
            sql += (f" {draw(st.sampled_from(['join', 'left join']))} "
                    f"customer on n_nationkey = c_nationkey")
        if draw(st.booleans()):
            sql += f" where {draw(_predicate(_NATION_INTS))}"
        return sql
    if shape == 3:
        # set operation
        op = draw(st.sampled_from(["union", "union all", "except",
                                   "intersect"]))
        e1 = draw(_int_expr(_NATION_INTS))
        e2 = draw(_int_expr(_NATION_INTS))
        return (f"select {e1} as v from nation {op} "
                f"select {e2} as v from nation")
    if shape == 4:
        # CTE (late-r8): filtered projection in a WITH, aggregated
        # outside — exercises the parse-time inlining end-to-end on
        # both executors
        e = draw(_int_expr(_NATION_INTS))
        p = draw(_predicate(_NATION_INTS))
        return (f"with t as (select n_regionkey, {e} as v from nation "
                f"where {p}) "
                f"select n_regionkey, count(*) as cnt, sum(v) as s "
                f"from t group by n_regionkey")
    if shape == 5:
        # grouping combinations (late-r8): CUBE / function-style
        # ROLLUP / GROUPING SETS over an int expr key
        form = draw(st.sampled_from([
            "cube(n_regionkey, n_nationkey % 3)",
            "rollup(n_regionkey, n_nationkey % 3)",
            "grouping sets ((n_regionkey), (n_nationkey % 3), ())",
            "grouping sets ((n_regionkey, n_nationkey % 3), ())",
        ]))
        return (f"select n_regionkey, n_nationkey % 3 as m, "
                f"count(*) as cnt from nation group by {form}")
    if shape == 6:
        # CAST + QUALIFY top-k (late-r8): int->long casts stay exact
        # on both engines; row_number is deterministic (unique key)
        k = draw(st.integers(1, 5))
        e = draw(_int_expr(_NATION_INTS))
        return (f"select n_nationkey, cast({e} as long) as v, "
                f"row_number() over (partition by n_regionkey "
                f"order by n_nationkey) as rn "
                f"from nation qualify rn <= {k}")
    if shape == 7:
        # ordinal references (late-r8): fully-keyed ORDER BY keeps
        # the row order deterministic on both engines
        mod = draw(st.integers(2, 5))
        return (f"select n_regionkey, n_nationkey % {mod} as m, "
                f"count(*) as cnt from nation "
                f"group by 1, 2 order by 3 desc, 1, 2")
    if shape == 8:
        # named WINDOW clause (late-r8): one declared window shared
        # by two functions; parse-time resolution means DuckDB gets
        # the same inline spec
        k = draw(st.integers(1, 4))
        return (f"select n_nationkey, row_number() over w as rn, "
                f"count(*) over w as c from nation "
                f"window w as (partition by n_regionkey "
                f"order by n_nationkey) qualify rn <= {k}")
    if shape == 9:
        # interval arithmetic over the events timeline (late-r8):
        # counts are exact whatever the literal lands on (2024-01
        # data range)
        h = draw(st.integers(0, 900))
        cmp_op = draw(st.sampled_from(["<", ">="]))
        return (f"select count(*) as n from events where ts {cmp_op} "
                f"timestamp '2024-01-01 00:00:00' + interval {h} hours")
    if shape == 11:
        # quantified comparisons (late-r8): random operator and
        # quantifier, correlated or not, optionally under NOT (the
        # duality path); nation-vs-customer keeps subqueries small
        op = draw(st.sampled_from(["=", "!=", "<", ">", "<=", ">="]))
        quant = draw(st.sampled_from(["all", "any", "some"]))
        cut = draw(st.integers(0, 60))
        # a third of the runs inject NULL elements so the rewrite's
        # unknown arm (ALL false-on-null, ANY never-true-on-null) is
        # fuzzed, not just the all-non-null fast path
        if draw(st.integers(0, 2)) == 0:
            proj = _NULLY_PROJ
        else:
            proj = "c_custkey % 20"
        where = f"c_custkey < {cut}"
        if draw(st.booleans()):
            where = f"c_nationkey = n_nationkey and {where}"
        # NOT directly over the comparison — the exact duality case
        # (NOT over a composition is rejected by design)
        pred, oracle = _quantified(op, quant, proj, where,
                                   negated=draw(st.booleans()))
        return _COUNT_WHERE.format(pred), _COUNT_WHERE.format(oracle)
    if shape == 12:
        # aggregate FILTER (late-r8): random agg + predicate; the
        # empty-group NULL agreement rides along
        fn = draw(st.sampled_from(["sum", "count", "min", "max"]))
        arg = draw(_int_expr(_NATION_INTS))
        p = draw(_predicate(_NATION_INTS))
        return (f"select n_regionkey, count(*) as cnt, "
                f"{fn}({arg}) filter (where {p}) as fv "
                f"from nation group by n_regionkey")
    if shape == 13:
        # SEMI/ANTI joins (late-r8): engine spells LEFT SEMI/ANTI,
        # DuckDB bare — the harness rewrites the oracle text below
        kind = draw(st.sampled_from(["semi", "anti"]))
        cut = draw(st.integers(0, 40))
        return (f"select n_regionkey, count(*) as c from nation "
                f"left {kind} join customer "
                f"on n_nationkey = c_nationkey and c_custkey < {cut} "
                f"group by n_regionkey")
    if shape == 14:
        # LATERAL (late-r8): per-row scalar aggregate over a
        # correlated subquery; identical text both engines
        agg = draw(st.sampled_from(["count(*)", "min(c_custkey)",
                                    "max(c_custkey)"]))
        return (f"select n_nationkey, t.v from nation, "
                f"lateral (select {agg} as v from customer "
                f"where c_nationkey = n_nationkey) as t "
                f"order by n_nationkey")
    if shape == 15:
        # GROUP BY ALL + FILTER composition (late-r8)
        p = draw(_predicate(_NATION_INTS))
        return (f"select n_regionkey, count(*) as c, "
                f"count(*) filter (where {p}) as f "
                f"from nation group by all")
    if shape == 16:
        # DISTINCT ON (late-r8): deterministic pick (unique tiebreak)
        keydir = draw(st.sampled_from(["asc", "desc"]))
        return (f"select distinct on (c_nationkey) c_nationkey, "
                f"c_custkey, c_acctbal from customer "
                f"order by c_nationkey, c_acctbal {keydir}, c_custkey")
    if shape == 17:
        # WITH RECURSIVE series (late-r8): random bound + step, the
        # fixpoint evaluated natively by both engines
        hi = draw(st.integers(1, 60))
        step = draw(st.integers(1, 4))
        return (f"with recursive s(n) as (select 0 union all "
                f"select n + {step} from s where n < {hi}) "
                f"select count(*) as c, cast(sum(n) as bigint) as t "
                f"from s")
    if shape == 18:
        # OVER frame bounds (r9): random ROWS/RANGE frames.  ROWS
        # frames get a unique tiebreak in ORDER BY (tie order is
        # engine-dependent otherwise); RANGE frames deliberately use
        # a duplicate-heavy key (peers semantics) and optionally a
        # NULL-bearing key with EXPLICIT null placement (engines'
        # defaults differ — the dialect renders nulls first/last on
        # both sides)
        fn = draw(st.sampled_from(["sum", "count", "min", "max"]))
        lo, hi = draw(st.integers(0, 3)), draw(st.integers(0, 3))
        frame = draw(st.sampled_from([
            f"between {lo} preceding and current row",
            f"between {lo} preceding and {hi} following",
            f"between current row and {hi} following",
            "between unbounded preceding and current row",
            "between current row and unbounded following",
        ]))
        kind = draw(st.sampled_from(["rows", "range"]))
        if kind == "rows":
            order = "n_regionkey, n_nationkey"
        elif draw(st.booleans()):
            order = "n_regionkey"
        else:
            place = draw(st.sampled_from(["nulls first", "nulls last"]))
            order = (f"case when n_nationkey % 5 = 0 then null "
                     f"else n_regionkey end {place}")
        return (f"select n_nationkey, {fn}(n_nationkey) over "
                f"(order by {order} {kind} {frame}) as w from nation")
    if shape == 19:
        # QUALIFY inside set-operation branches (r9): per-leg top-k
        # composed with UNION/EXCEPT/INTERSECT — the window filter
        # must stay scoped to its own leg
        op = draw(st.sampled_from(["union", "union all", "except",
                                   "intersect"]))
        k1, k2 = draw(st.integers(1, 4)), draw(st.integers(1, 4))
        d1 = draw(st.sampled_from(["", " desc"]))
        d2 = draw(st.sampled_from(["", " desc"]))
        return (f"select n_regionkey, n_nationkey, row_number() over "
                f"(partition by n_regionkey order by n_nationkey{d1}) "
                f"as rn from nation qualify rn <= {k1} {op} "
                f"select n_regionkey, n_nationkey, row_number() over "
                f"(partition by n_regionkey order by n_nationkey{d2}) "
                f"as rn from nation qualify rn <= {k2}")
    if shape == 20:
        # PIVOT with multiple aggregates + optionally aliasless
        # source (r9): the parse-time desugar must name columns
        # label_aggalias and group on the residual projection
        m = draw(st.integers(2, 4))
        vals = ", ".join(f"{i} as m{i}"
                         for i in range(draw(st.integers(1, 3)) + 1))
        multi = draw(st.booleans())
        aggs = ("sum(v) as s, count(v) as c" if multi
                else draw(st.sampled_from(["sum(v) as s", "count(*)  as c",
                                           "max(v) as mx"])))
        alias = draw(st.sampled_from(["", " src"]))
        return (f"select * from (select n_regionkey, n_nationkey % {m} "
                f"as m, n_nationkey as v from nation){alias} "
                f"pivot ({aggs} for m in ({vals}))")
    if shape == 21:
        # quantified comparison inside a CASE condition in the
        # projection (r9): the scalar-context rewrite; UNKNOWN in the
        # WHEN arm must act as false on both engines
        op = draw(st.sampled_from(["=", "!=", "<", ">", "<=", ">="]))
        quant = draw(st.sampled_from(["all", "any", "some"]))
        cut = draw(st.integers(0, 40))
        if draw(st.integers(0, 2)) == 0:
            proj = _NULLY_PROJ
        else:
            proj = "c_custkey % 20"
        where = f"c_custkey < {cut}"
        if draw(st.booleans()):
            where += " and c_nationkey = n_nationkey"
        q = ("select n_nationkey, case when {} then 1 else 0 end "
             "as hit from nation")
        pred, oracle = _quantified(op, quant, proj, where)
        return q.format(pred), q.format(oracle)
    if shape == 22:
        # DISTINCT ON with an EXPRESSION pick-key (r9): the key is
        # computed, the tiebreak unique, so the picked row is
        # deterministic on both engines
        m = draw(st.integers(2, 5))
        keydir = draw(st.sampled_from(["asc", "desc"]))
        return (f"select distinct on (c_nationkey % {m}) "
                f"c_nationkey % {m} as g, c_custkey, c_acctbal "
                f"from customer order by c_nationkey % {m}, "
                f"c_acctbal {keydir}, c_custkey")
    if shape == 23:
        # GROUP BY ALL + aggregate FILTER (r10): the ordinal desugar
        # and the CASE desugar composed — both parse-time rewrites
        # must agree with DuckDB's native forms
        m = draw(st.integers(2, 5))
        cut = draw(st.integers(0, 20))
        fn = draw(st.sampled_from(["count(*)", "count(n_nationkey)",
                                   "sum(n_nationkey)"]))
        agg = (f"{fn} filter (where n_nationkey > {cut}) as cf"
               if fn.startswith("count")
               else f"cast({fn} filter (where n_nationkey > {cut}) "
                    f"as bigint) as cf")
        return (f"select n_regionkey, n_nationkey % {m} as g, {agg}, "
                f"count(*) as c from nation group by all")
    if shape == 24:
        # ORDER BY ALL after DISTINCT (r10): the star-ordinal desugar
        # over the de-duplicated projection
        m = draw(st.integers(2, 6))
        e = draw(_int_expr(_NATION_INTS))
        return (f"select distinct n_regionkey, ({e}) % {m} as g "
                f"from nation order by all")
    if shape == 25:
        # LATERAL correlated derived table (r10): per-row subplan on
        # both engines; the aggregate inside pins determinism
        cut = draw(st.integers(0, 40))
        fn = draw(st.sampled_from(
            ["count(*) as c",
             "cast(coalesce(sum(c_custkey), 0) as bigint) as c",
             "cast(count(distinct c_custkey) as bigint) as c"]))
        return (f"select n_name, t.c from nation, lateral "
                f"(select {fn} from customer "
                f"where c_nationkey = n_nationkey "
                f"and c_custkey < {cut}) t")
    if shape == 27:
        # IGNORE NULLS null treatment (r11): offset functions hit the
        # iterated last/first rewrite (incl. negative offsets — the
        # direction flip), value functions the public ignoreNulls
        # flags; sqlgen renders Spark post-paren / DuckDB in-paren
        # from the same AST.  The CASE manufactures NULLs; the unique
        # (n_nationkey) order pins determinism.
        nully = (f"case when n_nationkey % "
                 f"{draw(st.integers(2, 5))} = 0 then null "
                 f"else n_nationkey end")
        k = draw(st.integers(-3, 3))
        form = draw(st.sampled_from(["lag", "lead", "value"]))
        if form == "value":
            fn = draw(st.sampled_from(
                [f"first_value({nully})", f"last_value({nully})",
                 f"nth_value({nully}, {draw(st.integers(1, 4))})"]))
            return (f"select n_nationkey, {fn} ignore nulls over "
                    f"(order by n_nationkey rows between unbounded "
                    f"preceding and current row) as w from nation")
        dflt = draw(st.sampled_from(["", ", -1"]))
        return (f"select n_nationkey, {form}({nully}, {k}{dflt}) "
                f"ignore nulls over (partition by n_regionkey "
                f"order by n_nationkey) as w from nation")
    if shape == 26:
        # CUBE with a coalesced label + HAVING (r10): grouping-set
        # NULL rows must label and filter identically
        cut = draw(st.integers(0, 6))
        return (f"select coalesce(cast(n_regionkey as varchar), 'ALL') "
                f"as r, coalesce(cast(n_nationkey % 3 as varchar), "
                f"'ALL') as g, count(*) as c from nation "
                f"group by cube (n_regionkey, n_nationkey % 3) "
                f"having count(*) > {cut}")
    # null-safe comparison over outer-join nulls + multiset set ops
    # (late-r8)
    if draw(st.booleans()):
        form = draw(st.sampled_from(["is distinct from",
                                     "is not distinct from"]))
        lit = draw(st.one_of(st.integers(0, 30).map(str),
                             st.just("null")))
        return (f"select count(*) as n from nation left join customer "
                f"on n_nationkey = c_nationkey and c_custkey < "
                f"{draw(st.integers(0, 40))} "
                f"where c_custkey {form} {lit}")
    op = draw(st.sampled_from(["except all", "intersect all"]))
    cut = draw(st.integers(0, 24))
    return (f"select n_regionkey as k from nation {op} "
            f"select n_regionkey as k from nation "
            f"where n_nationkey < {cut}")


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_query())
# DuckDB 1.0.0 answers this correlated `= ALL` over a NULL-yielding
# CASE with 0; nation 2's only element is NULL, so the truth is 24
@example(tuple(map(_COUNT_WHERE.format, _quantified(
    "=", "all", _NULLY_PROJ, "c_nationkey = n_nationkey and c_custkey < 1"))))
def test_engine_matches_duckdb(engine, duck, case):
    sql, oracle = case if isinstance(case, tuple) else \
        (case, to_sql(parse(case), dialect="ansi"))
    got = normalize(engine.sql(sql).toPandas())
    exp = normalize(duck.sql(oracle).df())
    assert list(got.columns) == list(exp.columns), sql
    assert len(got) == len(exp), sql
    pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                  check_exact=False, rtol=1e-9, atol=1e-9,
                                  obj=sql)


# --------------------------------------------------------------------------
# distributed global row numbering (_global_index) vs single-task truth
# --------------------------------------------------------------------------

@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.integers(-10**6, 10**6), min_size=1, max_size=300,
                unique=True),
       st.integers(2, 17))
def test_global_index_is_total_order(spark, vals, buckets):
    """The bucketed two-phase numbering must produce exactly the ranks a
    single-task row_number over the same (unique) keys would — for any
    value distribution and bucket count, including constant-width
    degenerate distributions."""
    from pyspark.sql import functions as F
    from flink_dsl_spark.streaming.windows import _global_index
    df = spark.createDataFrame([(v,) for v in vals], "v long") \
              .repartition(5)
    out = _global_index(df, F.col("v"), "idx", buckets=buckets,
                        total_name="tot")
    rows = out.collect()
    got = {r["v"]: r["idx"] for r in rows}
    expected = {v: i + 1 for i, v in enumerate(sorted(vals))}
    assert got == expected
    # the lazy in-plan total must equal the row count on every row
    assert {r["tot"] for r in rows} == {len(vals)}


def test_global_index_string_order_column(spark):
    """A string order column casts to double non-monotonically ("10" <
    "9" lexicographically but 10 > 9 numerically); _global_index must
    detect this and still produce lexicographic ranks (ADVICE r2: the
    bucketed path silently mis-numbered these)."""
    from pyspark.sql import functions as F
    from flink_dsl_spark.streaming.windows import _global_index
    vals = ["10", "9", "2", "100", "abc", "1e3", "0"]
    df = spark.createDataFrame([(v,) for v in vals], "v string") \
              .repartition(4)
    out = _global_index(df, F.col("v"), "idx", buckets=8,
                        total_name="tot")
    rows = out.collect()
    got = {r["v"]: r["idx"] for r in rows}
    expected = {v: i + 1 for i, v in enumerate(sorted(vals))}
    assert got == expected
    assert {r["tot"] for r in rows} == {len(vals)}


def test_global_index_nan_and_null(spark):
    """NaN sorts LAST and NULL sorts FIRST in Spark's ascending order;
    the range-bucket assignment must agree (NaN -> top bucket, NULL ->
    bucket 0), or the global numbering silently inverts them."""
    import math
    from pyspark.sql import functions as F
    from flink_dsl_spark.streaming.windows import _global_index
    vals = [3.0, float("nan"), 1.0, None, 2.0, float("nan"), -5.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double") \
              .repartition(3)
    out = _global_index(df, F.col("v"), "idx", buckets=6,
                        total_name="tot")
    rows = sorted(out.collect(), key=lambda r: r["idx"])
    assert {r["tot"] for r in rows} == {len(vals)}
    assert [r["idx"] for r in rows] == list(range(1, len(vals) + 1))
    seq = [r["v"] for r in rows]
    assert seq[0] is None                       # NULL first
    assert [v for v in seq[1:5]] == [-5.0, 1.0, 2.0, 3.0]
    assert all(math.isnan(v) for v in seq[5:])  # NaN last


# --------------------------------------------------------------------------
# FSQL count/delta window emulation vs DuckDB row_number/trigger algebra
# --------------------------------------------------------------------------

@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(st.integers(2, 40), st.integers(1, 60), st.booleans())
def test_count_window_spec_matches_duckdb(spark, duck, size, every,
                                          sliding):
    """Random [size N] / [size N every M] specs over events must match
    the row_number-based DuckDB formulation — including every > size
    sampling windows and the distributed global index path."""
    _check_count_window(spark, duck, size, every, sliding,
                        partitioned=False)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(st.integers(1, 40), st.integers(1, 60), st.booleans())
def test_partitioned_count_window_matches_duckdb(spark, duck, size,
                                                 every, sliding):
    """`partitioned on user_id` count windows: per-key row numbering,
    per-key trigger high-water marks — the keyed Window path, fuzzed
    the same way as the global one."""
    _check_count_window(spark, duck, size, every, sliding,
                        partitioned=True)


def _check_count_window(spark, duck, size, every, sliding, partitioned):
    from flink_dsl_spark import FsqlEngine
    eng = FsqlEngine(spark)
    # raw nanos-as-long ts orders identically to the restored timestamp
    eng.register_parquet("events",
                         "/root/testdata/sf0.001/events.parquet",
                         event_time_col="ts")
    if partitioned:
        part, sel, grp = (" partitioned on user_id",
                          "user_id, count(*) as cnt",
                          " group by user_id")
        pb, key, tkey = "PARTITION BY user_id ", "user_id, ", "t.user_id, "
        join_on, mgrp = "t.user_id = m.user_id", "GROUP BY user_id"
    else:
        part, sel, grp = "", "count(*) as cnt", ""
        pb, key, tkey = "", "", ""
        join_on, mgrp = "true", ""
    if sliding:
        fsql = (f"select {sel} from events "
                f"[size {size} every {every}{part}]{grp}")
        oracle = f"""
            WITH r AS (SELECT *, row_number() OVER ({pb}ORDER BY ts)
                                 AS rn
                       FROM events),
                 m AS (SELECT {key}max(rn) AS mr FROM r {mgrp}),
                 t AS (SELECT {key}rn, unnest(generate_series(
                           CAST(ceil(rn/{every}.0)*{every} AS BIGINT),
                           CAST(ceil((rn+{size})/{every}.0)*{every}
                                - {every} AS BIGINT),
                           {every})) AS trig FROM r)
            SELECT {tkey}count(*) AS cnt, trig AS trigger
            FROM t JOIN m ON {join_on}
            WHERE trig <= m.mr
            GROUP BY {tkey}trig"""
    else:
        fsql = f"select {sel} from events [size {size}{part}]{grp}"
        oracle = f"""
            WITH r AS (SELECT *, row_number() OVER ({pb}ORDER BY ts)
                                 AS rn
                       FROM events)
            SELECT {key}count(*) AS cnt,
                   CAST(floor((rn - 1) / {size}) AS BIGINT) AS window_no
            FROM r GROUP BY {key}window_no"""
    got = normalize(eng.sql(fsql).toPandas())
    exp = normalize(duck.sql(oracle).df())
    assert len(got) == len(exp), (size, every, sliding)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                  rtol=1e-9, obj=f"[{size}/{every}]")


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(st.integers(5, 80), st.integers(5, 120))
def test_delta_window_spec_matches_duckdb(spark, duck, size, every):
    """Random sliding delta-axis specs [size N on value every M on
    value] vs the DuckDB trigger-join formulation, triggers anchored at
    the first multiple of `every` covering the minimum value."""
    _check_delta_window(spark, duck, size, every, partitioned=False)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(st.integers(5, 80), st.integers(5, 120))
def test_partitioned_delta_window_matches_duckdb(spark, duck, size,
                                                 every):
    """Delta sliding windows under `partitioned on user_id`: triggers
    anchor to each key's own min/max (independent windows per key,
    fsql/Ast.scala:440-445)."""
    _check_delta_window(spark, duck, size, every, partitioned=True)


def _check_delta_window(spark, duck, size, every, partitioned):
    from flink_dsl_spark import FsqlEngine
    eng = FsqlEngine(spark)
    eng.register_parquet("events",
                         "/root/testdata/sf0.001/events.parquet",
                         event_time_col="ts")
    if partitioned:
        fsql = (f"select user_id, count(*) as cnt from events "
                f"[size {size} on value every {every} on value "
                f"partitioned on user_id] group by user_id")
        oracle = f"""
            WITH mx AS (SELECT user_id, min(value) AS vmin,
                               max(value) AS vmax
                        FROM events GROUP BY user_id),
                 tr AS (SELECT user_id, unnest(generate_series(
                            CAST(ceil(vmin/{every}) AS BIGINT)*{every},
                            CAST(floor(vmax/{every}) AS BIGINT)*{every},
                            {every})) AS trig FROM mx)
            SELECT t.user_id, count(*) AS cnt,
                   CAST(t.trig AS DOUBLE) AS trigger
            FROM tr t JOIN events e
              ON e.user_id = t.user_id
             AND e.value > t.trig - {size} AND e.value <= t.trig
            GROUP BY t.user_id, t.trig"""
    else:
        fsql = (f"select count(*) as cnt from events "
                f"[size {size} on value every {every} on value]")
        oracle = f"""
            WITH mx AS (SELECT min(value) AS vmin, max(value) AS vmax
                        FROM events),
                 tr AS (SELECT unnest(generate_series(
                            CAST(ceil(vmin/{every}) AS BIGINT)*{every},
                            CAST(floor(vmax/{every}) AS BIGINT)*{every},
                            {every})) AS trig FROM mx)
            SELECT count(*) AS cnt, CAST(t.trig AS DOUBLE) AS trigger
            FROM tr t JOIN events e
              ON e.value > t.trig - {size} AND e.value <= t.trig
            GROUP BY t.trig"""
    got = normalize(eng.sql(fsql).toPandas())
    exp = normalize(duck.sql(oracle).df())
    assert len(got) == len(exp), (size, every, partitioned)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                  rtol=1e-9, obj=f"[{size} on v / {every}]")


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(st.integers(1, 180), st.sampled_from(["min", "h"]),
       st.booleans())
def test_time_window_spec_matches_duckdb(spark, duck, size, unit,
                                         sliding):
    """Random tumbling/hopping time windows across units cross-check
    duration parsing and the native F.window emission against an
    epoch-bucket DuckDB formulation (slide = size/2 when hopping, so
    every row lands in exactly two windows)."""
    from flink_dsl_spark import FsqlEngine
    eng = FsqlEngine(spark)
    eng.register_parquet("events",
                         "/root/testdata/sf0.001/events.parquet",
                         event_time_col="ts")
    secs = size * (60 if unit == "min" else 3600)
    if sliding:
        if size % 2:
            size += 1
            secs = size * (60 if unit == "min" else 3600)
        half = secs // 2
        fsql = (f"select count(*) as cnt from events "
                f"[size {size} {unit} on ts every {size // 2} {unit}]")
        oracle = f"""
            WITH b AS (SELECT *, CAST(floor(epoch(ts)/{half}) AS BIGINT)
                                 AS hb FROM events),
                 u AS (SELECT *, unnest([hb - 1, hb]) AS ws FROM b)
            SELECT count(*) AS cnt,
                   make_timestamp(ws * {half} * 1000000) AS window_start,
                   make_timestamp((ws + 2) * {half} * 1000000)
                       AS window_end
            FROM u GROUP BY ws"""
    else:
        fsql = f"select count(*) as cnt from events [size {size} {unit} on ts]"
        oracle = f"""
            SELECT count(*) AS cnt,
                   make_timestamp(CAST(floor(epoch(ts)/{secs}) AS BIGINT)
                                  * {secs} * 1000000) AS window_start,
                   make_timestamp((CAST(floor(epoch(ts)/{secs}) AS BIGINT)
                                   + 1) * {secs} * 1000000) AS window_end
            FROM events GROUP BY window_start, window_end"""
    got = normalize(eng.sql(fsql).toPandas())
    exp = normalize(duck.sql(oracle).df())
    assert len(got) == len(exp), (size, unit, sliding)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                  rtol=1e-9, obj=f"[{size} {unit}]")


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(st.integers(1, 90), st.sampled_from(["min", "h"]))
def test_session_window_gap_matches_duckdb(spark, duck, gap, unit):
    """Random session gaps cross-check the native session_window
    aggregation (touching extents merge: strict > in the oracle)."""
    from flink_dsl_spark import FsqlEngine
    eng = FsqlEngine(spark)
    eng.register_parquet("events",
                         "/root/testdata/sf0.001/events.parquet",
                         event_time_col="ts")
    secs = gap * (60 if unit == "min" else 3600)
    fsql = (f"select user_id, count(*) as n from events "
            f"[session {gap} {unit} on ts] group by user_id")
    oracle = f"""
        WITH o AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) > {secs}
                      THEN 1 ELSE 0 END AS new_sess
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (SELECT *, sum(new_sess) OVER
                    (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS sess_no FROM o)
        SELECT user_id, count(*) AS n,
               min(ts) AS window_start,
               max(ts) + INTERVAL {secs} SECOND AS window_end
        FROM s GROUP BY user_id, sess_no"""
    got = normalize(eng.sql(fsql).toPandas())
    exp = normalize(duck.sql(oracle).df())
    assert len(got) == len(exp), (gap, unit)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                  rtol=1e-9, obj=f"[session {gap} {unit}]")


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(st.integers(1, 180), st.sampled_from(["sec", "min"]),
       st.booleans())
def test_session_snapshot_matches_duckdb(spark, duck, gap, unit,
                                         partitioned):
    """Non-aggregating session windows snapshot the LATEST session's
    rows — per key under `partitioned on`, globally otherwise (where
    the distributed bucket-lag/boundary-repair path runs).  Fuzzing the
    gap exercises boundary ties (touching extents stay merged: strict >
    in both formulations)."""
    from flink_dsl_spark import FsqlEngine
    eng = FsqlEngine(spark)
    eng.register_parquet("events",
                         "/root/testdata/sf0.001/events.parquet",
                         event_time_col="ts")
    secs = gap * (1 if unit == "sec" else 60)
    part = " partitioned on user_id" if partitioned else ""
    fsql = (f"select event_id, user_id from events "
            f"[session {gap} {unit} on ts{part}]")
    pb = "PARTITION BY user_id " if partitioned else ""
    over_all = f"({pb.strip()})" if partitioned else "()"
    oracle = f"""
        WITH o AS (SELECT event_id, user_id, ts,
                          CASE WHEN lag(ts) OVER w IS NULL
                                OR epoch(ts) - epoch(lag(ts) OVER w)
                                   > {secs}
                               THEN 1 ELSE 0 END AS ns
                   FROM events WINDOW w AS ({pb}ORDER BY ts)),
             s AS (SELECT *, sum(ns) OVER
                        ({pb}ORDER BY ts ROWS UNBOUNDED PRECEDING) AS r
                   FROM o),
             m AS (SELECT *, max(r) OVER {over_all} AS mr FROM s)
        SELECT event_id, user_id FROM m WHERE r = mr"""
    got = normalize(eng.sql(fsql).toPandas())
    exp = normalize(duck.sql(oracle).df())
    assert len(got) == len(exp), (gap, unit, partitioned)
    pd.testing.assert_frame_equal(
        got, exp, check_dtype=False, rtol=1e-9,
        obj=f"[session {gap} {unit}{part}]")
