"""Aggregates that compile straight over their input: grouping keys
and aggregate arguments are expressions inside the Aggregate
(``groupBy(<key> AS __g{i}).agg(sum(<arg>))``), not hidden columns of
a Project below it.  Each shape that relies on it is checked against
DuckDB at sf0.001; the shapes that still project first (a DISTINCT
aggregate with no Column builder, a nondeterministic key) are checked
too."""

from flink_dsl_spark import FsqlEngine

from .conftest import SF_DIR, assert_matches_oracle, drain_to_memory


def test_group_expression_reused_in_select_having_order(engine, duck):
    """One GROUP BY expression used bare, inside an item, in HAVING
    and as an ORDER BY key that is no output alias."""
    q = ("select o_custkey % 7 as b, count(*) as n, "
         "round(sum(o_totalprice) / (o_custkey % 7 + 1), 4) as per_b "
         "from orders group by o_custkey % 7 "
         "having o_custkey % 7 <> 3 and count(*) > 10 "
         "order by o_custkey % 7 desc")
    assert_matches_oracle(engine.sql(q), duck, q, "key_reuse")


def test_ordinal_group_by_expression(engine, duck):
    q = ("select upper(o_orderpriority) as p, count(*) as n, "
         "round(avg(o_totalprice * 2), 4) as a2 "
         "from orders group by 1 order by 1")
    assert_matches_oracle(engine.sql(q), duck, q, "ordinal_expr")


def test_count_and_sum_distinct_over_expressions(engine, duck):
    q = ("select o_orderstatus, count(distinct o_custkey % 100) as d, "
         "sum(distinct o_custkey % 5) as sd "
         "from orders group by o_orderstatus")
    oracle = q.replace("sum(distinct o_custkey % 5)",
                       "CAST(sum(distinct o_custkey % 5) AS BIGINT)")
    assert_matches_oracle(engine.sql(q), duck, oracle, "distinct_expr")


def test_distinct_aggregate_without_builder(engine, duck):
    """avg(DISTINCT <expr>) is SQL text over a projected argument;
    the plain aggregates beside it read the same projection."""
    q = ("select o_orderstatus, round(avg(distinct o_custkey % 10), 6) "
         "as a, count(*) as n, round(sum(o_totalprice / 1000), 4) as t "
         "from orders group by o_orderstatus")
    assert_matches_oracle(engine.sql(q), duck, q, "avg_distinct_expr")


def test_filter_clause_over_expressions(engine, duck):
    """q69's shape (aggregate FILTER, desugared to CASE at parse time)
    with expression arguments and an expression key."""
    q = ("select substr(o_orderpriority, 1, 1) as p, count(*) as n, "
         "count(*) filter (where o_totalprice * 2 > 300000) as big, "
         "count(distinct o_custkey % 50) "
         "filter (where o_orderstatus = 'F') as cf, "
         "round(sum(o_totalprice / 100) "
         "filter (where o_orderstatus <> 'O'), 4) as t "
         "from orders group by substr(o_orderpriority, 1, 1)")
    assert_matches_oracle(engine.sql(q), duck, q, "filter_expr")


def test_nondeterministic_key_is_computed_once(engine):
    """An unseeded random key and the item that repeats it are one
    value per row: each output row is a distinct key (an item that
    drew its own seed would repeat some of the ~100 values)."""
    rows = engine.sql(
        "select floor(rand() * 100) as b, count(*) as n from orders "
        "group by floor(rand() * 100)").collect()
    assert len({r["b"] for r in rows}) == len(rows) > 50
    assert sum(r["n"] for r in rows) == \
        engine.sql("select count(*) as n from orders").first()["n"]


def test_windowed_stream_aggregate_over_expressions(spark, duck):
    """s01's shape (a time-window aggregate on a stream, complete
    mode) with an expression key, expression arguments and HAVING."""
    eng = FsqlEngine(spark)
    eng.register_stream_parquet("agg_shape_ev", f"{SF_DIR}/events.parquet",
                                event_time_col="ts")
    try:
        out = eng.sql("""
            select upper(event_type) as et, count(*) as cnt,
                   sum(value * 2) as v2, max(value) - min(value) as rng
            from agg_shape_ev [size 1 h on ts]
            group by upper(event_type) having count(*) > 1""")
        assert out.isStreaming
        got = spark.table(drain_to_memory(out, "complete"))
        assert_matches_oracle(got, duck, """
            SELECT upper(event_type) AS et, count(*) AS cnt,
                   sum(value * 2) AS v2, max(value) - min(value) AS rng,
                   make_timestamp(CAST(floor(epoch(ts)/3600) AS BIGINT)
                                  * 3600 * 1000000) AS window_start,
                   make_timestamp((CAST(floor(epoch(ts)/3600) AS BIGINT)
                                   + 1) * 3600 * 1000000) AS window_end
            FROM events
            GROUP BY upper(event_type), window_start, window_end
            HAVING count(*) > 1""", "stream_window_expr")
    finally:
        eng.catalog.unregister("agg_shape_ev")
        eng.close()
