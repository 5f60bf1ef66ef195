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

Plan-build shape: every Dataset call re-runs the analyzer over the
plan built so far, so each stage here is ONE call.  A stage that adds
columns is one ``select`` of the columns it keeps (``df["*"]``, the
input frame's resolved columns, or ``col("*")``) plus its new ones —
never a ``withColumn`` chain ending in a ``drop``.  Window keys that
need no row-level work (``__win``, ``__win_no``) are not columns at
all: ``window_grouping`` returns them as grouping expressions.  Column
arithmetic takes Python scalars (``pos / every``), which PySpark sends
inside the operator's one py4j call; the remaining literals and column
references come from the ``lit``/``col`` builders the planner passes
in, its per-engine handle memos.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, DataType, DateType, NumericType,
                               TimestampNTZType, TimestampType)
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


def _partition_cols(spec: WindowSpec, col) -> list[Column]:
    if spec.partition is None:
        return []
    c = spec.partition
    return [col(f"{c.binding}.{c.name}" if c.binding else c.name)]


def _order_col(spec: WindowSpec, time_col: Optional[Column]) -> Column:
    """Row order for count windows: the stream's event-time column; the
    reference's count windows assume arrival order — batch emulation pins
    a deterministic order (SURVEY.md §7.3(1))."""
    if time_col is None:
        raise PlanError(
            "count-based window needs an event-time column: add "
            "`on <col>` or register the stream with event_time_col=...")
    return time_col


def _column_type(df: DataFrame, name: str) -> Optional[DataType]:
    """The type of column ``name`` (``binding.column`` or ``column``),
    read from ``df.schema``, which PySpark keeps per frame: no plan is
    built to ask.  None when no field, or fields of different types,
    carry the unqualified name (a join of two relations that both have
    it); _range_bucket then probes with a select."""
    leaf = name.rsplit(".", 1)[-1].lower()
    types = {f.dataType for f in df.schema.fields
             if f.name.lower() == leaf}
    return types.pop() if len(types) == 1 else None


# --------------------------------------------------------------------------
# distributed total-order helpers (batch only)
# --------------------------------------------------------------------------

def _order_as_double(order: Column, dtype: DataType) -> Optional[Column]:
    """``order`` (of type ``dtype``) as a double whose sort order
    matches the column's, or None when no such cast exists.  Numeric /
    timestamp / date / boolean casts are monotone; strings are NOT
    (lexicographic "10" < "9" but numeric 10 > 9), and complex types
    don't cast at all — those fall back to the one-bucket (single-task
    row_number) path, which is slow but correct for any orderable
    type."""
    if isinstance(dtype, TimestampNTZType):
        # TIMESTAMP_NTZ has no direct double cast; hop through LTZ
        # (session TZ is UTC under the engine, and any fixed zone
        # preserves order)
        return order.cast("timestamp").cast("double")
    if isinstance(dtype, (NumericType, TimestampType, DateType,
                          BooleanType)):
        return order.cast("double")
    return None


def _range_bucket(df: DataFrame, order: Column, buckets: int,
                  dtype: Optional[DataType] = None,
                  known_range: tuple[float, float] | None = None, *,
                  col=F.col, lit=F.lit) -> tuple[DataFrame, Column]:
    """A range bucket of ``order``, as ``(frame, bucket)``: the caller
    selects ``bucket`` from ``frame`` in its own stage and lists only
    ``df``'s columns beside it.  Bucket ids are non-decreasing along
    the column's sort order and equal values share a bucket.  NULLs
    -> 0 (sort first), NaN -> buckets+2 (sorts last in Spark),
    everything else via ``width_bucket`` over the non-NaN min/max.
    One bucket when the cast to double is not order-preserving or the
    range is empty or degenerate (NaN rows still go to the top
    bucket).  ``dtype`` is ``order``'s type; when None it is probed
    with a select.

    The min/max is a scalar aggregate broadcast cross-joined back, the
    ``_with_global_max`` shape: ``frame`` is ``df`` plus the two
    ``__rb_mn``/``__rb_mx`` columns.  It runs inside the query, so
    building the plan launches no job, and the single-partition step
    it adds carries one partial-aggregate row per input partition.

    ``known_range``: static (lo, hi) bounds covering every possible
    value of ``order``.  Callers whose order key is a seeded hash know
    its codomain (xxhash64: full int64; md5-60bit: [0, 2^60)); with it
    the bounds are literals, the min/max pass is not planned at all
    and ``frame`` is ``df``.  Its boundaries differ from the
    observed-range ones, but every consumer only needs a monotone
    bucketing, so results are unchanged."""
    if buckets <= 1:
        return df, lit(1)
    if dtype is None:
        dtype = df.select(order).schema[0].dataType
    num = _order_as_double(order, dtype)
    if num is None:
        return df, lit(1)
    nan = F.isnan(num)
    if known_range is None:
        safe = F.when(nan, None).otherwise(num)
        rng = df.select(F.min(safe).alias("__rb_mn"),
                        F.max(safe).alias("__rb_mx"))
        df = df.crossJoin(F.broadcast(rng))
        mn, mx = col("__rb_mn"), col("__rb_mx")
    else:
        mn, mx = (lit(float(v)) for v in known_range)
    # ifnull: two-argument coalesce (the optimizer rewrites it into
    # one), sent without the Java list coalesce's varargs need
    base = F.when(mn.isNull() | (mn == mx), 1).otherwise(
        F.ifnull(F.width_bucket(num, mn, mx, lit(buckets)),
                 lit(0)))            # nulls sort first
    return df, F.when(nan, buckets + 2).otherwise(base)


def _lazy_prefix_offsets(d: DataFrame, bkt_col: str, measure: Column,
                         off_name: str,
                         total_name: str | None = None, *,
                         col=F.col, lit=F.lit) -> DataFrame:
    """LAZY per-bucket prefix offsets (r14 shape, shared by
    token_budget_filter / shard_corpus / _global_index):
    ``off(b) = sum of measure over buckets < b``, built inside the plan
    as bucket aggregate -> cumulative window -> (caller broadcasts it
    back), in one ``agg``: the window sums the per-bucket aggregate,
    as ``sum(count(*)) over (order by b)`` does in SQL.  The window
    runs over at most buckets+3 aggregated rows on one task (NULL
    bucket 0, width_bucket 1..buckets+1, NaN bucket buckets+2) — the
    corpus itself is touched only by the partial-aggregated sum.  The
    first bucket (empty window frame) coalesces to 0, identical to the
    removed eager driver-collect form.  With ``total_name`` the same
    fold also exposes the table-wide sum as a column (an unbounded
    frame over the identical tiny window — zero extra passes; r15,
    closing the last eager collect in _global_index).  The
    plan-quality suite pins this exact shape
    (_assert_single_partition_only_over_bucket_agg)."""
    b = col(bkt_col)
    by_bkt = W.orderBy(b)
    wo = by_bkt.rowsBetween(W.unboundedPreceding, -1)
    # ifnull: two-argument coalesce, as in _range_bucket
    cols = [F.ifnull(F.sum(measure).over(wo), lit(0)).alias(off_name)]
    if total_name is not None:
        wa = by_bkt.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        cols.append(F.sum(measure).over(wa).alias(total_name))
    return d.groupBy(b).agg(*cols)


def _global_index(df: DataFrame, order: Column,
                  idx_name: str = "__idx",
                  buckets: Optional[int] = None,
                  known_range: tuple[float, float] | None = None,
                  total_name: str | None = None, *,
                  dtype: Optional[DataType] = None,
                  col=F.col, lit=F.lit) -> DataFrame:
    """Total-order row numbering without a single-partition sort:
    ``df``'s columns, then ``total_name`` (if asked), then
    ``idx_name``.

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
    if buckets is None:
        buckets = df.sparkSession.sparkContext.defaultParallelism
    d, bkt = _range_bucket(df, order, buckets, dtype, known_range,
                           col=col, lit=lit)
    kept = df["*"]
    d = d.select(kept, bkt.alias("__bkt"))
    off_df = _lazy_prefix_offsets(d, "__bkt", F.count(lit(1)), "__off",
                                  total_name, col=col, lit=lit)
    lrn = F.row_number().over(W.partitionBy(col("__bkt")).orderBy(order))
    total = [col(total_name)] if total_name is not None else []
    return (d.join(F.broadcast(off_df), "__bkt")
             .select(kept, *total,
                     (col("__off") + lrn).cast("long").alias(idx_name)))


def _latest_session_distributed(df: DataFrame, time_col: Column,
                                gap: Column, dtype: Optional[DataType],
                                col, lit) -> DataFrame:
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
    d, bkt = _range_bucket(df, time_col, buckets, dtype, col=col, lit=lit)
    kept = df["*"]
    d = d.select(kept, bkt.alias("__bkt"))
    b = col("__bkt")
    bprev = (d.groupBy(b).agg(F.max(time_col).alias("__bm"))
              .select(b, F.lag(col("__bm")).over(W.orderBy(b))
                          .alias("__prev_bmax")))
    w = W.partitionBy(b).orderBy(time_col)
    prev = F.coalesce(F.lag(time_col).over(w), col("__prev_bmax"))
    d = (d.join(F.broadcast(bprev), "__bkt")
          .select(kept, prev.alias("__prev")))
    new_sess = col("__prev").isNull() | (time_col > col("__prev") + gap)
    start = d.filter(new_sess).select(F.max(time_col).alias("__start"))
    return (d.crossJoin(F.broadcast(start))
             .filter(time_col >= col("__start"))
             .select(kept))


def _with_global_max(df: DataFrame, c: Column, out_name: str) -> DataFrame:
    """Attach the table-wide max of ``c`` as a column via a scalar
    aggregate + broadcast cross join (two-phase, distributed) instead of
    a single-partition whole-table Window."""
    mx = df.select(F.max(c).alias(out_name))
    return df.crossJoin(F.broadcast(mx))


# --------------------------------------------------------------------------
# non-aggregating: latest-window snapshot
# --------------------------------------------------------------------------

def last_window_filter(df: DataFrame, spec: WindowSpec,
                       time_col: Optional[str], *,
                       col=F.col, lit=F.lit) -> DataFrame:
    """``df``'s rows of the latest window, with ``df``'s columns.
    ``time_col`` is the event-time column's name; ``col``/``lit``
    build column and literal handles (the planner passes its memos)."""
    if df.isStreaming:
        raise PlanError(
            "snapshot (non-aggregating) window queries are batch-emulation "
            "only: a streaming relation has no final 'latest window'; "
            "aggregate over the window or run in batch mode")
    size = spec.size
    axis = _axis(size)
    parts = _partition_cols(spec, col)
    tc = col(time_col) if time_col is not None else None

    if spec.kind == "session":
        # "the latest session" as a snapshot: rows of the most recent
        # gap-delimited run (per partition key if given)
        if axis != "time" or tc is None:
            raise PlanError("session window needs a time gap and an "
                            "event-time column")
        gap = F.expr(f"INTERVAL {duration_str(size)}")
        if parts:
            w = W.partitionBy(*parts).orderBy(tc)
            prev = F.lag(tc).over(w)
            new_sess = (prev.isNull() | (tc > prev + gap)).cast("int")
            run = F.sum(new_sess).over(
                W.partitionBy(*parts).orderBy(tc)
                .rowsBetween(W.unboundedPreceding, W.currentRow))
            d = df.select(col("*"), run.alias("__run"))
            d = d.select(col("*"), F.max(col("__run"))
                         .over(W.partitionBy(*parts)).alias("__mxrun"))
            return (d.filter(col("__run") == col("__mxrun"))
                     .select(df["*"]))
        return _latest_session_distributed(
            df, tc, gap, _column_type(df, time_col), col, lit)

    if axis == "count":
        order = _order_col(spec, tc)
        if parts:
            w = W.partitionBy(*parts).orderBy(order.desc())
            return (df.select(col("*"), F.row_number().over(w)
                              .alias("__rn"))
                      .filter(col("__rn") <= size.value)
                      .select(df["*"]))
        # last N of a total order: ascending distributed index + the
        # in-plan total (one lazy fold serves both — no eager count)
        d = _global_index(df, order, "__rn", total_name="__rn_total",
                          dtype=_column_type(df, time_col),
                          col=col, lit=lit)
        return (d.filter(col("__rn") > col("__rn_total") - size.value)
                 .select(df["*"]))

    if axis == "time":
        if tc is None:
            raise PlanError("time window needs `on <col>` or stream "
                            "event_time_col metadata")
        span = F.expr(f"INTERVAL {duration_str(size)}")
        if parts:
            d = df.select(col("*"), F.max(tc).over(W.partitionBy(*parts))
                          .alias("__mx"))
        else:
            d = _with_global_max(df, tc, "__mx")
        return d.filter(tc > col("__mx") - span).select(df["*"])

    # delta axis: numeric column, extent = last `value` units of the column
    c = size.on_col
    axis_col = col(f"{c.binding}.{c.name}" if c.binding else c.name)
    if parts:
        d = df.select(col("*"), F.max(axis_col)
                      .over(W.partitionBy(*parts)).alias("__mx"))
    else:
        d = _with_global_max(df, axis_col, "__mx")
    return (d.filter(axis_col > col("__mx") - size.value)
             .select(df["*"]))


# --------------------------------------------------------------------------
# aggregating: grouping columns
# --------------------------------------------------------------------------

def window_grouping(df: DataFrame, spec: WindowSpec,
                    time_col: Optional[str], *, col=F.col, lit=F.lit):
    """Returns (df', group_cols, out_cols).  ``df'`` is ``df`` plus
    the columns the grouping needs computed first (the count axis's
    row index, a sliding window's exploded trigger); ``group_cols``
    are grouping expressions for the caller's ``groupBy``;
    ``out_cols`` is a list of (name, Column-over-agg-result) exposing
    window bounds.  ``time_col`` is the event-time column's name."""
    size, every = spec.size, spec.every
    axis = _axis(size)
    parts = _partition_cols(spec, col)
    _check_every_axis(axis, every)
    tc = col(time_col) if time_col is not None else None

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
        if tc is None:
            raise PlanError("session window needs `on <col>` or stream "
                            "event_time_col metadata")
        win = F.session_window(tc, duration_str(size))
        out = [("window_start", col("__win.start")),
               ("window_end", col("__win.end"))]
        return df, [win.alias("__win")], out

    if axis == "time":
        if tc is None:
            raise PlanError("time window needs `on <col>` or stream "
                            "event_time_col metadata")
        if every is not None:
            win = F.window(tc, duration_str(size), duration_str(every))
        else:
            win = F.window(tc, duration_str(size))
        out = [("window_start", col("__win.start")),
               ("window_end", col("__win.end"))]
        return df, [win.alias("__win")], out

    if axis == "count":
        if df.isStreaming:
            raise PlanError(
                "count-based windows on a streaming relation need the "
                "stateful operator: flink_dsl_spark.streaming.stateful."
                "count_window_agg (row_number emulation is batch-only)")
        order = _order_col(spec, tc)
        n = size.value
        # the trigger high-water mark of a sliding window needs the
        # table-wide row count: served in-plan by the same lazy
        # offsets fold; a tumbling window never needs it
        total = "__idx_total" if every is not None and not parts \
            else None
        if parts:
            w = W.partitionBy(*parts).orderBy(order)
            df = df.select(col("*"), F.row_number().over(w).alias("__idx"))
        else:
            df = _global_index(df, order, "__idx", total_name=total,
                               dtype=_column_type(df, time_col),
                               col=col, lit=lit)
        if every is None:
            # tumbling count window: groups of N consecutive rows
            win_no = F.floor((col("__idx") - 1) / n).alias("__win_no")
            return df, [win_no], [("window_no", col("__win_no"))]
        df = _explode_triggers(df, col("__idx"), n, every.value, parts,
                               maxpos=col(total) if total else None,
                               col=col, lit=lit)
        return df, [col("__trigger")], [("trigger", col("__trigger"))]

    # delta axis
    c = size.on_col
    axis_col = col(f"{c.binding}.{c.name}" if c.binding else c.name)
    v = size.value
    if every is None:
        win_no = F.floor(axis_col / v).alias("__win_no")
        return df, [win_no], [("window_no", col("__win_no"))]
    df = _explode_triggers(df, axis_col, v, every.value, parts,
                           col=col, lit=lit)
    return df, [col("__trigger")], [("trigger", col("__trigger"))]


def _explode_triggers(df: DataFrame, pos: Column, size: int, every: int,
                      parts: list[Column], maxpos: Optional[Column] = None,
                      *, col, lit) -> DataFrame:
    """Sliding windows on a count/numeric axis without a self-join.

    A window fires at every trigger T (multiple of ``every``) and covers
    positions (T - size, T].  A row at position p therefore belongs to the
    triggers T in [p, p + size) — there are ceil(size/every) of them, so
    this is a bounded row multiplication done map-side with
    ``explode(sequence(...))`` (scales to any data size; no shuffle added
    beyond the aggregation's own).  Triggers that lie beyond the last seen
    position (per partition) have not fired yet and are dropped.

    ``maxpos`` is an in-plan Column holding the last position (r15:
    the count axis hands over the lazy total column instead of an
    eagerly collected count); without it the mark is computed here.
    The result is ``df`` plus ``__trigger`` (and ``__maxpos`` when the
    mark was computed here).
    """
    first = (F.ceil(pos / every) * every).cast("long")
    last = (F.ceil((pos + size) / every) * every - every).cast("long")
    # every > size yields sampling windows: a row between two triggers'
    # extents belongs to NO window (first > last).  Guard the sequence —
    # an unguarded first > last raises Spark's "Illegal sequence
    # boundaries"; exploding an empty array drops the row, which is the
    # correct sampling semantics.
    triggers = F.when(
        first <= last,
        F.sequence(first, last, lit(every).cast("long"))
    ).otherwise(F.array().cast("array<long>"))
    # The high-water mark must attach BEFORE the explode: in sampling
    # mode (every > size) rows whose trigger list is empty vanish at
    # explode, and a post-explode max would shrink to the last row that
    # kept a trigger, wrongly dropping the final fired window.  A known
    # total (count axis) is a column already; per-key marks use a
    # keyed window; a global mark uses a broadcast scalar — never a
    # single-partition whole-table Window.
    if maxpos is None:
        if parts:
            df = df.select(col("*"), F.max(pos).over(W.partitionBy(*parts))
                           .alias("__maxpos"))
        else:
            df = _with_global_max(df, pos, "__maxpos")
        maxpos = col("__maxpos")
    df = df.select(col("*"), F.explode(triggers).alias("__trigger"))
    return df.filter(col("__trigger") <= maxpos)
