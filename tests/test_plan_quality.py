"""Physical-plan quality gates.

Correctness tests prove the answers are right at small scale; these
tests pin the PLAN SHAPES that make the same queries viable at 100 TB:
filters and projections reaching the parquet scan, dimension joins
broadcast instead of shuffled, aggregates doing map-side partial
aggregation, ORDER BY+LIMIT never materializing a global sort, and hot
paths staying inside whole-stage codegen.  A regression here would pass
every value check and still fall over on a cluster.
"""

import io
import re
from contextlib import redirect_stdout

import pytest

import __spark_entry__ as entry


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def queries():
    return entry.queries()


SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark, queries):
    """WHERE value > 100 must arrive at the parquet reader as a pushed
    filter, and the scan must read only the three projected columns."""
    plan = plan_of(queries["q02_filter_projection"](spark, SF))
    assert "PushedFilters: [" in plan
    assert "GreaterThan(value,100.0)" in plan
    read_schema = next(ln for ln in plan.splitlines()
                       if "ReadSchema" in ln)
    assert "event_type" in read_schema
    assert "payload" not in read_schema, "scan reads unused columns"


def test_dimension_joins_broadcast(spark, queries):
    """q03 joins orders->customer->nation: both dims must broadcast —
    a shuffled dim join at 100 TB turns a map-side lookup into a
    full-table exchange."""
    plan = plan_of(queries["q03_join_group"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_agg_is_partial_then_final(spark, queries):
    """Hash aggregation must combine map-side (partial) before the
    exchange — the difference between shuffling 6 rows per partition
    and shuffling 600 billion."""
    plan = plan_of(queries["q01_pricing_summary"](spark, SF),
                   mode="simple")
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_order_limit_is_take_ordered(spark, queries):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    top-n + driver merge), never a global Sort."""
    plan = plan_of(queries["q12_order_limit_offset"](spark, SF),
                   mode="simple")
    assert "TakeOrderedAndProject" in plan


def test_exists_is_semi_join(spark, queries):
    """EXISTS subqueries must become semi joins, not inner-join+distinct."""
    plan = plan_of(queries["q15_exists"](spark, SF), mode="simple")
    assert "LeftSemi" in plan


def test_hot_paths_whole_stage_codegen(spark, queries):
    """Scan->filter->project->partial-agg pipelines stay fused in
    whole-stage codegen (no interpreted row-at-a-time gaps)."""
    import re
    # AQE defers physical planning, so the pre-execution codegen report
    # is empty; disable it here to inspect the static plan's fusion
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ("q01_pricing_summary", "q02_filter_projection",
                     "llm08_token_stats"):
            plan = plan_of(queries[name](spark, SF), mode="codegen")
            m = re.search(r"Found (\d+) WholeStageCodegen subtrees", plan)
            assert m and int(m.group(1)) >= 1, name
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_lsh_bucket_join_is_equi_join(spark, queries):
    """The minhash LSH candidate join must be an equality join on
    (band, band-hash) — a nested-loop/cartesian here is the O(n^2)
    failure mode LSH exists to avoid."""
    plan = plan_of(queries["llm03_dedup_minhash_lsh"](spark, SF),
                   mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_query_vector_broadcast(spark, queries):
    """Brute-force ANN joins the 1-row query vector by broadcast; the
    corpus side must never shuffle.  Same gate for the int8-quantized
    variant — quantization must not change the plan shape."""
    for name in ("llm06_ann_topk_bruteforce", "llm57_ann_quantized"):
        plan = plan_of(queries[name](spark, SF), mode="simple")
        assert "BroadcastNestedLoopJoin" in plan \
            or "BroadcastHashJoin" in plan, name
        assert "TakeOrderedAndProject" in plan, name


def test_window_agg_single_shuffle(spark, queries):
    """A tumbling time-window aggregation is one groupBy: exactly one
    exchange between scan and result (plus AQE reads)."""
    plan = plan_of(queries["q26_window_tumbling"](spark, SF),
                   mode="simple")
    assert plan.count("Exchange") <= 2


def test_global_count_windows_have_no_single_partition_exchange(
        spark, queries):
    """Un-partitioned count/snapshot windows (q28/q29/q30) used to push
    the whole table through one task via Window.partitionBy().orderBy();
    the distributed _global_index / broadcast-scalar-max rewrite must
    keep every Exchange partitioned."""
    # count-axis windows number rows with the lazy offsets fold over
    # an in-plan min/max range bucket: exactly the one
    # SinglePartition-over-bucket-subtotals exchange of the llm44/q80
    # prefix-sum family is allowed, plus the min/max scalar fold's
    # one-row-per-partition exchange — never a corpus-sized one
    for name in ["q28_count_tumbling", "q29_count_sliding"]:
        plan = queries[name](spark, SF) \
            ._jdf.queryExecution().executedPlan().toString()
        _assert_single_partition_only_over_bucket_agg(plan)
    # the time-axis snapshot replaces its whole-table Window with a
    # broadcast scalar max: a SinglePartition exchange may exist only as
    # the (one-row-per-partition) final step of that scalar aggregate,
    # never under a Sort/Window over the full table
    plan = queries["q30_snapshot_window"](spark, SF) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "q30 regressed to a whole-table Window"
    for ln in plan.splitlines():
        assert "Sort" not in ln or "SinglePartition" not in ln


def test_event_time_filter_pushdown_survives_ntz_normalization(spark):
    """The engine normalizes parquet timestamp encodings at
    registration (nanosAsLong + inferTimestampNTZ=false + NTZ->LTZ
    coercion).  On the standard path the normalization must be a no-op
    projection-wise: a WHERE on the event-time column still reaches the
    parquet scan as a pushed filter, and the scan reads the column as
    plain timestamp — a cast layer between filter and scan would make
    every time-ranged query at 100 TB a full-table read."""
    from flink_dsl_spark import FsqlEngine
    eng = FsqlEngine(spark)
    eng.register_parquet("pq_ev", f"{SF}/events.parquet",
                         event_time_col="ts")
    df = eng.sql("select event_id, value from pq_ev "
                 "where ts >= '2024-06-01 00:00:00' and value > 10")
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(ts," in plan, \
        "event-time predicate did not reach the parquet scan"
    read_schema = next(ln for ln in plan.splitlines()
                       if "ReadSchema" in ln)
    assert "ts:timestamp" in read_schema
    assert "timestamp_ntz" not in read_schema


def test_decontaminate_eval_side_broadcasts(spark, queries):
    """Decontamination must broadcast the (tiny) eval gram set: a
    SortMergeJoin on grams would shuffle the full exploded corpus —
    the non-scalable formulation the operator exists to avoid."""
    plan = plan_of(queries["llm40_decontaminate"](spark, SF),
                   mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_line_dedup_no_single_partition(spark, queries):
    """Corpus line dedup (llm42) is two partial-agg'd keyed shuffles +
    one broadcast join: never a single-partition exchange, never a
    sort-merge join, and the winner agg must partial-aggregate
    (map-side combine is what makes web-corpus hot lines survivable)."""
    p = queries["llm42_line_dedup"](spark, SF) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in p
    assert "SortMergeJoin" not in p
    assert "partial_min" in p or "partial" in p.lower()


def test_dup_spans_shuffles_hashes_not_substrings(spark, queries):
    """Winnowed duplicate spans (llm43): candidate grouping and the
    flag join-back key on the 64-bit span hash — no cartesian, no
    single-partition exchange anywhere."""
    p = queries["llm43_dup_spans"](spark, SF) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


_BKT_AGG_RE = re.compile(r"HashAggregate\(keys=\[[^]\n]*__\w*bkt")
# the range bucket's in-plan min/max: a keyless partial aggregate whose
# only two functions are partial_min and partial_max
_RANGE_AGG_RE = re.compile(
    r"HashAggregate\(keys=\[\], functions=\[partial_min\(.*\), "
    r"partial_max\(.*\)\], output=\[[^,\]]+, [^,\]]+\]\)$")


def _assert_single_partition_only_over_bucket_agg(p: str,
                                                  max_folds: int = 1):
    """Lazy-offsets shape: the per-bucket prefix offsets are built
    inside the plan (bucket aggregate -> cumulative window -> broadcast)
    instead of an eager collect, so a SinglePartition exchange is
    legitimate — but only when its input is the already-aggregated
    bucket subtotals (<= buckets+3 rows: NULL bucket 0, width_bucket
    1..buckets+1, NaN bucket buckets+2), never corpus rows.  Assert
    each SinglePartition exchange is fed directly by the bucket
    HashAggregate (keyed on a __*bkt bookkeeping column — the strict
    regex: a bare 'bkt' substring could false-pass on an unrelated
    aggregate), at most ``max_folds`` of them (a query composing
    several lazy prefix-offset folds passes its own count), and the
    corpus-sized cumsum window stays hash-partitioned by the bucket
    column.  The one other shape allowed is the range bucket's in-plan
    min/max: a SinglePartition exchange fed directly by a keyless
    partial_min/partial_max aggregate, which carries at most one row
    per input partition (it may appear once per branch that reads the
    bucket column)."""
    lines = p.splitlines()
    sp = [i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln]
    folds = 0
    for i in sp:
        assert i + 1 < len(lines), \
            f"SinglePartition with no child in plan:\n{lines[i]}"
        nxt = lines[i + 1]
        if _RANGE_AGG_RE.search(nxt):
            continue
        assert _BKT_AGG_RE.search(nxt), \
            f"SinglePartition not fed by the bucket aggregate:\n{nxt}"
        folds += 1
    assert folds <= max_folds, p
    assert any("Exchange hashpartitioning(" in ln and "bkt" in ln
               for ln in lines), "corpus window lost its bucket partitioning"


def test_token_budget_cumsum_is_distributed(spark, queries):
    """The token-budget running sum (llm44) must use the range-bucket +
    broadcast-offset machinery: bucketed window partitions, offsets
    joined by broadcast, and no corpus-sized single-partition exchange
    (the naive sum() OVER (ORDER BY ...) formulation is exactly that);
    the only single-partition step allowed is the r14 lazy-offsets
    window over the <= buckets+3 aggregated subtotal rows."""
    p = queries["llm44_token_budget"](spark, SF) \
        ._jdf.queryExecution().executedPlan().toString()
    _assert_single_partition_only_over_bucket_agg(p)
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p


def test_domain_mixture_rates_broadcast(spark, queries):
    """Domain mixture (llm45): the per-domain rates table must
    broadcast back onto the corpus — a shuffled join here would
    repartition the whole corpus to join |domains| rows.  The only
    single-partition step allowed is the 1-row feasible-total scalar
    aggregate (the q30 scalar-max pattern)."""
    p = queries["llm45_domain_mixture"](spark, SF) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_mixture_epochs_replication_is_shuffle_free(spark, queries):
    """Multi-epoch mixture (llm55): repeat factors broadcast back like
    llm45's rates, and the epoch replication (explode over sequence)
    adds NO exchange — rows multiply inside their partitions, so the
    plan's only single-partition step is the 1-row feasible-total
    scalar aggregate."""
    p = queries["llm55_mixture_epochs"](spark, SF) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    assert "Generate explode" in p
    assert p.count("SinglePartition") <= 1      # the scalar T agg only


def test_shard_assignment_cumsum_is_distributed(spark, queries):
    """Corpus sharding (llm56) reuses llm44's distributed running sum:
    per-bucket window partitions with broadcast prefix offsets — no
    corpus-sized single-partition exchange (the lazy-offsets subtotal
    window is the one allowed single-partition step), no shuffled
    join."""
    p = queries["llm56_shard_assign"](spark, SF) \
        ._jdf.queryExecution().executedPlan().toString()
    _assert_single_partition_only_over_bucket_agg(p)
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p


def test_kmeans_assignment_is_pure_projection(spark, queries):
    """k-means assignment (llm50) evaluates against broadcast centroid
    LITERALS: exactly one exchange (the spread repartition), no joins
    of any kind, no single-partition step."""
    p = queries["llm50_kmeans"](spark, SF) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in p
    assert "Join" not in p
    assert p.count("Exchange") <= 1


def test_semdedup_joins_only_within_clusters(spark, queries):
    """SemDeDup (llm51): the only corpus-sized join is the
    within-cluster pairing (one sort-merge join on the cluster key —
    inherent to the recipe); assignment must NOT re-join vectors onto
    cluster ids, and nothing may degenerate to a cartesian."""
    p = queries["llm51_semdedup"](spark, SF) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "SinglePartition" not in p
    assert p.count("SortMergeJoin") <= 1


# Window queries whose plans legitimately contain a SinglePartition
# exchange: the oracled next-fit packing configs run partitions=1 BY
# DESIGN (the sequential recurrence is what gives them a SQL oracle;
# production packing is partition-parallel), and scalar
# subqueries/aggregates produce one broadcast row (the q30 pattern).
_SINGLE_PARTITION_BY_DESIGN = {
    "llm36_pack_verified", "llm39_pipeline_verified",
    "llm45_domain_mixture", "llm55_mixture_epochs",
    "llm58_curation_report",     # five 1-row funnel scalar aggregates
    "llm63_mixture_temperature",  # global scalar min(tok/w) over the
                                  # per-domain frame (q30 pattern)
    "q81_mixture_hint",           # same feasible-total scalar
                                  # min(tok/w) as llm45/llm63 — one
                                  # row over the |domains|-row frame
    "q82_mixture_table_hint",     # table-form weights, same scalar
    "q84_mixture_temperature_hint",  # temperature form, same scalar
    "llm69_length_quantiles",     # prefix-sum window over the
                                  # DISTINCT-VALUE table (bounded
                                  # domain), never the corpus
    "q16_scalar_subquery",
    # r6 rotate-backs that are global scalar aggregates — a single
    # output row (the q16/q30 pattern): count(*) over a filtered
    # scan (q20/q21/q23) and a two-distinct-aggregate fold (q22)
    "q20_comma_from", "q21_between_like_null", "q22_agg_distinct",
    "q23_params",
    # found by the r6 FULL-catalog sweep (below-fold queries were
    # never plan-swept before): q13 is the same global count(*)
    # class; q30/q34's snapshot windows compute the latest-window
    # bound as a partial-agg'd 1-row max broadcast back to the scan
    # (the "broadcast scalar maxima" design, README scale notes) —
    # the exchange moves one row per partition, never data
    "q13_in_list", "q30_snapshot_window", "q34_windowed_join",
    # TPC-H Q6 (late r8) is the canonical global scalar aggregate —
    # sum(price*discount) over a filtered scan folds partial 1-row
    # aggregates through one SinglePartition exchange (q16/q30
    # pattern); Q1/Q4 group on keys and need no exemption
    "q54_tpch_q6",
    # TPC-H wave 2 global scalar aggregates (same class as Q6):
    # Q14's promo ratio and Q17's avg_yearly fold to one row; Q15's
    # scalar max(total_revenue) subquery is the q16 pattern (the
    # grouped revenue CTE itself shuffles on l_suppkey)
    "q63_tpch_q14", "q64_tpch_q17", "q67_tpch_q15",
    # Q22's scalar average-acctbal subquery (q16 pattern); the outer
    # anti-join and grouping shuffle on keys
    "q73_tpch_q22",
    # BM25 (r12): the (n_docs, avgdl) corpus-stats aggregate is the
    # canonical global scalar fold (q54 pattern) — partial_count/
    # partial_avg run per task, the SinglePartition exchange carries
    # ONE row per task, and the 1-row result broadcasts back; the
    # scoring path itself shuffles on (id, term) postings only
    "llm77_bm25_scores",
    # tfidf (r14): n_docs became a LAZY count_distinct scalar fold
    # broadcast back via crossJoin (replacing an eager
    # distinct().count() driver job) — the same 1-row
    # partial-aggregated SinglePartition fold as llm77's stats
    "llm19_top_terms_tfidf",
    # bm25 hint (r13): same stats scalar fold as llm77; the scoring
    # path shuffles postings only and the <=k score relation
    # broadcasts back onto the input rows
    "q92_bm25_hint",
    # hybrid RRF (r13): llm77's stats scalar fold rides along, and
    # the candidate rank windows run unpartitioned over the two
    # <=pool-row relations (bounded domain — the llm69 pattern),
    # never the corpus
    "llm78_hybrid_rrf",
    # hybrid RRF hint (r14): llm78's plan plus the <=k fused relation
    # broadcast back onto the input rows (the q92 join-back shape)
    "q94_hybrid_rrf_hint",
}


def test_driver_window_free_of_scale_killers(spark, queries):
    """FULL-catalog sweep (widened from the 50-key window in r6 —
    below-fold queries were never plan-swept, and the first full pass
    surfaced three undocumented scalar-aggregate exchanges): every
    registered batch query must compile to a plan with NO cartesian
    product (even q07's intentional CROSS JOIN broadcasts the 1-row
    side as a BroadcastNestedLoopJoin — checked, no exemption needed)
    and no single-partition exchange outside the documented
    allowlist.  This is the catch-all behind the per-operator gates —
    no query can be registered with a degenerate plan unnoticed."""
    import re
    for name in list(queries):
        # streaming queries (s01..s10, s11+, …) execute on build —
        # a prefix test on "s0" silently stopped matching at s10
        if re.match(r"s\d", name):
            continue
        p = queries[name](spark, SF) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in p, name
        if name not in _SINGLE_PARTITION_BY_DESIGN \
                and "SinglePartition" in p:
            # r14 lazy-offsets: a single-partition step is legitimate
            # ONLY over the already-aggregated bucket subtotals
            # (<= buckets+3 rows) of the distributed prefix-sum family
            try:
                _assert_single_partition_only_over_bucket_agg(p)
            except AssertionError as e:
                raise AssertionError(f"{name}: {e}") from None
