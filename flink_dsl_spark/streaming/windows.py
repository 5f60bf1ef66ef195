"""FSQL stream-window semantics on DataFrames.

Window spec grammar (fsql/parser.scala:157-176):
    stream [size N [unit] [on col] [every M [unit] [on col]]
            [partitioned on col]]

Three policy axes (fsql/Ast.scala:132-136 ``PolicyBased``):
  * time  — ``size N sec``          : extent measured on a time column
  * count — ``size N``  (no unit)   : extent measured in rows
  * delta — ``size N on col``       : extent measured on a numeric column

Execution semantics (the reference never built an executor, so these are
our documented choices — SURVEY.md §2.9, §7.0):

  * AGGREGATING query (GROUP BY / aggregates present):
      - ``every`` present  -> sliding (hopping) windows; one output row per
        (window, group).  Time axis uses Spark-native ``F.window(t, size,
        every)``; count/delta axes use exploded trigger buckets — each row
        joins the O(size/every) triggers whose window contains it, a
        map-side operation that scales linearly (no self-join, no global
        sort at the aggregation step).
      - no ``every``       -> tumbling windows (Flink-0.9 behavior the
        dialect targeted): time -> ``F.window(t, size)``, count -> groups
        of N consecutive rows, delta -> ``floor(col / N)`` buckets.
  * NON-aggregating query: the window is a CQL "now-relation" — the query
    sees the rows of the LATEST window only (snapshot).  ``every`` does not
    change the final snapshot in batch.
  * ``partitioned on k`` -> all of the above per key (independent windows,
    fsql/Ast.scala:440-445).

Count-axis note for 100 TB scale: a totally-ordered count window (no
``partitioned on``) still needs a global row number, but NOT a global
single-task sort: ``_global_index`` range-buckets rows on the order
column (width_bucket over an in-plan min/max), numbers each bucket in
parallel, and rebases with broadcast per-bucket offsets — its only
single-partition Exchanges carry pre-aggregated rows (one per input
partition for the min/max, one per bucket for the offsets), never the
table's rows.  With ``partitioned on k`` the row_number
partitions by key and parallelizes directly.  Global MAX lookups
(snapshot windows, trigger high-water marks) use a scalar aggregate
broadcast-joined back, not a whole-table window.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..ast_nodes import Policy, WindowSpec
from ..errors import PlanError

_TIME_UNIT_STR = {
    "microsec": "microseconds",
    "milisec": "milliseconds",
    "sec": "seconds",
    "min": "minutes",
    "h": "hours",
    "d": "days",
}


def duration_str(p: Policy) -> str:
    return f"{p.value} {_TIME_UNIT_STR[p.unit]}"


def _axis(p: Policy) -> str:
    if p.unit is not None:
        return "time"
    if p.on_col is not None:
        return "delta"
    return "count"


def _unit_seconds(p: Policy) -> float:
    mult = {"microsec": 1e-6, "milisec": 1e-3, "sec": 1.0,
            "min": 60.0, "h": 3600.0, "d": 86400.0}
    return p.value * mult[p.unit]


def _check_every_axis(axis: str, every: Optional[Policy]) -> None:
    """The slide must be measured on the same axis as the extent
    (a `[size 1 h every 10]` mixing time rows is a user error, not a
    silent reinterpretation)."""
    if every is None:
        return
    if axis == "time" and every.unit is None:
        raise PlanError("a time window needs a time-based `every` "
                        "(add a unit: sec/min/h/d)")
    if axis == "count" and (every.unit is not None
                            or every.on_col is not None):
        raise PlanError("a count-based window needs a count-based "
                        "`every` (no unit / `on` column)")
    if axis == "delta" and every.unit is not None:
        raise PlanError("a delta window's `every` must be a plain "
                        "numeric step (optionally `on` the same column)")


def _partition_cols(spec: WindowSpec) -> list[Column]:
    if spec.partition is None:
        return []
    c = spec.partition
    return [F.col(f"{c.binding}.{c.name}" if c.binding else c.name)]


def _order_col(spec: WindowSpec, time_col: Optional[Column]) -> Column:
    """Row order for count windows: the stream's event-time column; the
    reference's count windows assume arrival order — batch emulation pins
    a deterministic order (SURVEY.md §7.3(1))."""
    if time_col is None:
        raise PlanError(
            "count-based window needs an event-time column: add "
            "`on <col>` or register the stream with event_time_col=...")
    return time_col


# --------------------------------------------------------------------------
# distributed total-order helpers (batch only)
# --------------------------------------------------------------------------

def _order_as_double(df: DataFrame, order: Column) -> Optional[Column]:
    """``order`` as a double whose sort order matches the column's, or
    None when no such cast exists.  Numeric / timestamp / date / boolean
    casts are monotone; strings are NOT (lexicographic "10" < "9" but
    numeric 10 > 9), and complex types don't cast at all — those fall
    back to the one-bucket (single-task row_number) path, which is slow
    but correct for any orderable type."""
    from pyspark.sql.types import (BooleanType, DateType, NumericType,
                                   TimestampNTZType, TimestampType)
    dt = df.select(order.alias("__o")).schema[0].dataType
    if isinstance(dt, TimestampNTZType):
        # TIMESTAMP_NTZ has no direct double cast; hop through LTZ
        # (session TZ is UTC under the engine, and any fixed zone
        # preserves order)
        return order.cast("timestamp").cast("double")
    if isinstance(dt, (NumericType, TimestampType, DateType, BooleanType)):
        return order.cast("double")
    return None


def _range_bucket(df: DataFrame, order: Column, buckets: int, out: str,
                  known_range: tuple[float, float] | None = None
                  ) -> DataFrame:
    """``df`` plus an integer column ``out`` holding a range bucket of
    ``order``: bucket ids are non-decreasing along the column's sort
    order and equal values share a bucket.  NULLs -> 0 (sort first),
    NaN -> buckets+2 (sorts last in Spark), everything else via
    ``width_bucket`` over the non-NaN min/max.  One bucket when the
    cast to double is not order-preserving or the range is empty or
    degenerate (NaN rows still go to the top bucket).

    The min/max is a scalar aggregate broadcast cross-joined back, the
    ``_with_global_max`` shape: it runs inside the query, so building
    the plan launches no job, and the single-partition step it adds
    carries one partial-aggregate row per input partition.

    ``known_range``: static (lo, hi) bounds covering every possible
    value of ``order``.  Callers whose order key is a seeded hash know
    its codomain (xxhash64: full int64; md5-60bit: [0, 2^60)); with it
    the bounds are literals and the min/max pass is not planned at
    all.  Its boundaries differ from the observed-range ones, but every
    consumer only needs a monotone bucketing, so results are
    unchanged."""
    num = _order_as_double(df, order) if buckets > 1 else None
    if num is None:
        return df.withColumn(out, F.lit(1))
    if known_range is None:
        safe = F.when(F.isnan(num), F.lit(None)).otherwise(num)
        rng = df.select(F.min(safe).alias("__rb_mn"),
                        F.max(safe).alias("__rb_mx"))
        d = df.crossJoin(F.broadcast(rng))
        mn, mx = F.col("__rb_mn"), F.col("__rb_mx")
    else:
        d = df
        mn, mx = (F.lit(float(v)) for v in known_range)
    base = F.when(mn.isNull() | (mn == mx), F.lit(1)).otherwise(
        F.coalesce(F.width_bucket(num, mn, mx, F.lit(buckets)),
                   F.lit(0)))        # nulls sort first
    d = d.withColumn(out, F.when(F.isnan(num), F.lit(buckets + 2))
                          .otherwise(base))
    return d if known_range is not None else d.drop("__rb_mn", "__rb_mx")


def _lazy_prefix_offsets(d: DataFrame, bkt_col: str, measure,
                         off_name: str,
                         total_name: str | None = None) -> DataFrame:
    """LAZY per-bucket prefix offsets (r14 shape, shared by
    token_budget_filter / shard_corpus / _global_index):
    ``off(b) = sum of measure over buckets < b``, built inside the plan
    as bucket aggregate -> cumulative window -> (caller broadcasts it
    back).  The window runs over at most buckets+3 aggregated rows on
    one task (NULL bucket 0, width_bucket 1..buckets+1, NaN bucket
    buckets+2) — the corpus itself is touched only by the
    partial-aggregated sum.  The first bucket (empty window frame)
    coalesces to 0, identical to the removed eager driver-collect
    form.  With ``total_name`` the same fold also exposes the
    table-wide sum as a column (an unbounded frame over the identical
    tiny window — zero extra passes; r15, closing the last eager
    collect in _global_index).  The plan-quality suite pins this exact
    shape (_assert_single_partition_only_over_bucket_agg)."""
    wo = W.orderBy(bkt_col).rowsBetween(W.unboundedPreceding, -1)
    cols = [F.col(bkt_col),
            F.coalesce(F.sum("__lpo_m").over(wo),
                       F.lit(0)).alias(off_name)]
    if total_name is not None:
        wa = W.orderBy(bkt_col).rowsBetween(W.unboundedPreceding,
                                            W.unboundedFollowing)
        cols.append(F.sum("__lpo_m").over(wa).alias(total_name))
    return (d.groupBy(bkt_col)
             .agg(measure.alias("__lpo_m"))
             .select(*cols))


def _global_index(df: DataFrame, order: Column,
                  idx_name: str = "__idx",
                  buckets: Optional[int] = None,
                  known_range: tuple[float, float] | None = None,
                  total_name: str | None = None) -> DataFrame:
    """Total-order row numbering without a single-partition sort.

    Three distributed phases, all inside the plan (building it runs no
    job):
      1. assign each row a range bucket via ``width_bucket`` over an
         in-plan min/max, or over a statically known range when the
         caller provides one (see _range_bucket) — the bucket is a pure
         function of the value, so recomputation across jobs is
         deterministic;
      2. ``row_number`` per bucket — one task per bucket, parallel;
      3. rebase with per-bucket offsets (count aggregate -> cumulative
         window over at most buckets+3 aggregated rows -> broadcast
         join back).

    Ties within the order column keep row_number's usual arbitrary tie
    order; equal values always share a bucket, so the numbering is a
    valid total order extension exactly like the single-task variant.

    With ``total_name`` the output additionally carries the table-wide
    row count as a column — served by the SAME broadcast-joined
    offsets fold (an unbounded frame over the identical tiny window),
    so callers needing "last N of the total order" filter in-plan
    instead of forcing an eager counting pass.
    """
    spark = df.sparkSession
    if buckets is None:
        buckets = spark.sparkContext.defaultParallelism
    df = _range_bucket(df, order, buckets, "__bkt", known_range=known_range)
    off_df = _lazy_prefix_offsets(df, "__bkt", F.count(F.lit(1)),
                                  "__off", total_name=total_name)
    lrn = F.row_number().over(W.partitionBy("__bkt").orderBy(order))
    return (df.join(F.broadcast(off_df), "__bkt")
              .withColumn(idx_name, (F.col("__off") + lrn).cast("long"))
              .drop("__bkt", "__off"))


def _latest_session_distributed(df: DataFrame, time_col: Column,
                                gap: Column) -> DataFrame:
    """Rows of the latest gap-delimited run of a total time order,
    without a single-partition Window over the rows.

    The old formulation (lag + running sum over an empty partitionBy)
    serialized the whole table through one task.  Instead: range-bucket
    on time, lag WITHIN each bucket (parallel), and repair the one
    missing predecessor per bucket — the previous non-empty bucket's
    max — from a lag over the per-bucket maxima (at most buckets+3
    aggregated rows), broadcast back.  The latest session start is then
    a scalar max over session-start rows.  Every pass is in-plan and
    column-pruned; none moves corpus rows through one task."""
    buckets = df.sparkSession.sparkContext.defaultParallelism
    d = _range_bucket(df, time_col, buckets, "__bkt")
    bprev = (d.groupBy("__bkt").agg(F.max(time_col).alias("__bm"))
              .select("__bkt", F.lag("__bm").over(W.orderBy("__bkt"))
                                 .alias("__prev_bmax")))
    w = W.partitionBy("__bkt").orderBy(time_col)
    d = (d.join(F.broadcast(bprev), "__bkt")
          .withColumn("__prev", F.coalesce(F.lag(time_col).over(w),
                                           F.col("__prev_bmax"))))
    new_sess = F.col("__prev").isNull() | (time_col > F.col("__prev") + gap)
    d = d.withColumn("__ns", new_sess)
    start = d.filter("__ns").select(F.max(time_col).alias("__start"))
    return (d.crossJoin(F.broadcast(start))
             .filter(time_col >= F.col("__start"))
             .drop("__bkt", "__prev_bmax", "__prev", "__ns", "__start"))


def _with_global_max(df: DataFrame, col: Column, out_name: str) -> DataFrame:
    """Attach the table-wide max of ``col`` as a column via a scalar
    aggregate + broadcast cross join (two-phase, distributed) instead of
    a single-partition whole-table Window."""
    mx = df.select(F.max(col).alias(out_name))
    return df.crossJoin(F.broadcast(mx))


# --------------------------------------------------------------------------
# non-aggregating: latest-window snapshot
# --------------------------------------------------------------------------

def last_window_filter(df: DataFrame, spec: WindowSpec,
                       time_col: Optional[Column]) -> DataFrame:
    if df.isStreaming:
        raise PlanError(
            "snapshot (non-aggregating) window queries are batch-emulation "
            "only: a streaming relation has no final 'latest window'; "
            "aggregate over the window or run in batch mode")
    size = spec.size
    axis = _axis(size)
    parts = _partition_cols(spec)

    if spec.kind == "session":
        # "the latest session" as a snapshot: rows of the most recent
        # gap-delimited run (per partition key if given)
        if axis != "time" or time_col is None:
            raise PlanError("session window needs a time gap and an "
                            "event-time column")
        gap = F.expr(f"INTERVAL {duration_str(size)}")
        if parts:
            w = W.partitionBy(*parts).orderBy(time_col)
            prev = F.lag(time_col).over(w)
            new_sess = (prev.isNull() |
                        (time_col > prev + gap)).cast("int")
            run = F.sum(new_sess).over(
                W.partitionBy(*parts).orderBy(time_col)
                .rowsBetween(W.unboundedPreceding, W.currentRow))
            return (df.withColumn("__run", run)
                      .withColumn("__mxrun",
                                  F.max("__run").over(W.partitionBy(*parts)))
                      .filter(F.col("__run") == F.col("__mxrun"))
                      .drop("__run", "__mxrun"))
        return _latest_session_distributed(df, time_col, gap)

    if axis == "count":
        order = _order_col(spec, time_col)
        if parts:
            w = W.partitionBy(*parts).orderBy(order.desc())
            return (df.withColumn("__rn", F.row_number().over(w))
                      .filter(F.col("__rn") <= size.value)
                      .drop("__rn"))
        # last N of a total order: ascending distributed index + the
        # in-plan total (one lazy fold serves both — no eager count)
        df = _global_index(df, order, "__rn", total_name="__rn_total")
        return (df.filter(F.col("__rn") > F.col("__rn_total")
                          - size.value)
                  .drop("__rn", "__rn_total"))

    if axis == "time":
        if time_col is None:
            raise PlanError("time window needs `on <col>` or stream "
                            "event_time_col metadata")
        span = F.expr(f"INTERVAL {duration_str(size)}")
        if parts:
            mx = F.max(time_col).over(W.partitionBy(*parts))
            df = df.withColumn("__mx", mx)
        else:
            df = _with_global_max(df, time_col, "__mx")
        return df.filter(time_col > F.col("__mx") - span).drop("__mx")

    # delta axis: numeric column, extent = last `value` units of the column
    c = size.on_col
    axis_col = F.col(f"{c.binding}.{c.name}" if c.binding else c.name)
    if parts:
        mx = F.max(axis_col).over(W.partitionBy(*parts))
        df = df.withColumn("__mx", mx)
    else:
        df = _with_global_max(df, axis_col, "__mx")
    return (df.filter(axis_col > F.col("__mx") - F.lit(size.value))
              .drop("__mx"))


# --------------------------------------------------------------------------
# aggregating: grouping columns
# --------------------------------------------------------------------------

def window_grouping(df: DataFrame, spec: WindowSpec,
                    time_col: Optional[Column]):
    """Returns (df', group_cols, out_cols) where out_cols is a list of
    (name, Column-over-agg-result) exposing window bounds."""
    size, every = spec.size, spec.every
    axis = _axis(size)
    parts = _partition_cols(spec)
    _check_every_axis(axis, every)

    if spec.kind == "session":
        # gap-based session window (extension): merges rows whose
        # [ts, ts+gap) extents overlap or touch — Spark-native, one
        # keyed shuffle, streaming state bounded by open sessions
        if axis != "time":
            raise PlanError("a session window needs a time gap "
                            "(add a unit: sec/min/h/d)")
        if every is not None:
            raise PlanError("session windows take no `every` clause "
                            "(the gap defines the boundary)")
        if time_col is None:
            raise PlanError("session window needs `on <col>` or stream "
                            "event_time_col metadata")
        win = F.session_window(time_col, duration_str(size))
        df = df.withColumn("__win", win)
        out = [("window_start", F.col("__win.start")),
               ("window_end", F.col("__win.end"))]
        return df, [F.col("__win")], out

    if axis == "time":
        if time_col is None:
            raise PlanError("time window needs `on <col>` or stream "
                            "event_time_col metadata")
        if every is not None:
            win = F.window(time_col, duration_str(size), duration_str(every))
        else:
            win = F.window(time_col, duration_str(size))
        df = df.withColumn("__win", win)
        out = [("window_start", F.col("__win.start")),
               ("window_end", F.col("__win.end"))]
        return df, [F.col("__win")], out

    if axis == "count":
        if df.isStreaming:
            raise PlanError(
                "count-based windows on a streaming relation need the "
                "stateful operator: flink_dsl_spark.streaming.stateful."
                "count_window_agg (row_number emulation is batch-only)")
        order = _order_col(spec, time_col)
        n = size.value
        if every is None:
            # tumbling count window: groups of N consecutive rows —
            # the total is never needed, so don't compute one
            if parts:
                w = W.partitionBy(*parts).orderBy(order)
                df = df.withColumn("__idx", F.row_number().over(w))
            else:
                df = _global_index(df, order, "__idx")
            df = df.withColumn(
                "__win_no", F.floor((F.col("__idx") - 1) / F.lit(n)))
            return df, [F.col("__win_no")], [("window_no", F.col("__win_no"))]
        total = None
        if parts:
            w = W.partitionBy(*parts).orderBy(order)
            df = df.withColumn("__idx", F.row_number().over(w))
        else:
            # the trigger high-water mark needs the table-wide row
            # count: served in-plan by the same lazy offsets fold
            df = _global_index(df, order, "__idx",
                               total_name="__idx_total")
            total = F.col("__idx_total")
        m = every.value
        df = _explode_triggers(df, F.col("__idx"), n, m, parts,
                               integral=True, maxpos=total)
        if total is not None:
            df = df.drop("__idx_total")
        return df, [F.col("__trigger")], [("trigger", F.col("__trigger"))]

    # delta axis
    c = size.on_col
    axis_col = F.col(f"{c.binding}.{c.name}" if c.binding else c.name)
    v = size.value
    if every is None:
        df = df.withColumn("__win_no", F.floor(axis_col / F.lit(v)))
        return df, [F.col("__win_no")], [("window_no", F.col("__win_no"))]
    m = every.value
    df = _explode_triggers(df, axis_col, v, m, parts, integral=False)
    return df, [F.col("__trigger")], [("trigger", F.col("__trigger"))]


def _explode_triggers(df: DataFrame, pos: Column, size: int, every: int,
                      parts: list[Column], integral: bool,
                      maxpos=None) -> DataFrame:
    """Sliding windows on a count/numeric axis without a self-join.

    A window fires at every trigger T (multiple of ``every``) and covers
    positions (T - size, T].  A row at position p therefore belongs to the
    triggers T in [p, p + size) — there are ceil(size/every) of them, so
    this is a bounded row multiplication done map-side with
    ``explode(sequence(...))`` (scales to any data size; no shuffle added
    beyond the aggregation's own).  Triggers that lie beyond the last seen
    position (per partition) have not fired yet and are dropped.

    ``maxpos`` may be an int literal or an in-plan Column (r15: the
    count axis hands over the lazy total column instead of an eagerly
    collected count).
    """
    from pyspark.sql import Column as _Column
    first = (F.ceil(pos / F.lit(every)) * F.lit(every)).cast("long")
    last = (F.ceil((pos + F.lit(size)) / F.lit(every)) * F.lit(every)
            - F.lit(every)).cast("long")
    # every > size yields sampling windows: a row between two triggers'
    # extents belongs to NO window (first > last).  Guard the sequence —
    # an unguarded first > last raises Spark's "Illegal sequence
    # boundaries"; exploding an empty array drops the row, which is the
    # correct sampling semantics.
    triggers = F.when(
        first <= last,
        F.sequence(first, last, F.lit(every).cast("long"))
    ).otherwise(F.array().cast("array<long>"))
    # The high-water mark must attach BEFORE the explode: in sampling
    # mode (every > size) rows whose trigger list is empty vanish at
    # explode, and a post-explode max would shrink to the last row that
    # kept a trigger, wrongly dropping the final fired window.  A known
    # total (count axis) is a literal; per-key marks use a keyed window;
    # a global mark uses a broadcast scalar — never a single-partition
    # whole-table Window.
    if maxpos is not None:
        df = df.withColumn("__maxpos",
                           maxpos if isinstance(maxpos, _Column)
                           else F.lit(maxpos))
    elif parts:
        df = df.withColumn("__maxpos",
                           F.max(pos).over(W.partitionBy(*parts)))
    else:
        df = _with_global_max(df, pos, "__maxpos")
    df = df.withColumn("__trigger", F.explode(triggers))
    return df.filter(F.col("__trigger") <= F.col("__maxpos")).drop("__maxpos")
