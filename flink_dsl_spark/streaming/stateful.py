"""Streaming-native COUNT/DELTA windows and running OVER aggregates via
``applyInPandasWithState``.

Batch mode emulates FSQL count windows with ``row_number`` (windows.py);
a streaming DataFrame forbids rank functions, so the streaming path keeps
per-key state instead — exactly the design SURVEY.md §2.9 calls for
("count-based window -> stateful op keeping a bounded deque").

Semantics (matching the batch emulation in windows.py):
  * ``[size N]``            — tumbling: each key emits one aggregated row
    per N arrived rows (window_no = 0, 1, ...).
  * ``[size N every M]``    — sliding: a trigger fires every M rows; each
    emission aggregates the last ``min(N, seen)`` rows (trigger = row
    count at the firing point).
  * ``partitioned on k``    — the group key; state and windows are per
    key, so the operator scales horizontally with key cardinality.  With
    no partition key all rows share one group — inherently sequential,
    same documented limitation as the batch path (a totally-ordered
    stream has a total order).

Aggregates supported: sum/count/min/max/avg — the complete aggregate
surface of the reference (flinkdsl/typer.scala_:276-282); avg derives
from sum/count.  State per (key, agg-col) is a bounded float buffer of
the last N values (a few KB at typical sizes), kept in the state store
across micro-batches.

Row order: a key's micro-batch rows may arrive as several Arrow chunks
(``spark.sql.execution.arrow.maxRecordsPerBatch``); every operator
concatenates ALL of them and sorts once (one stable ``np.lexsort``) by
``order_col`` (count windows), the delta column, or the ORDER BY keys
(running_agg), so chunk boundaries never change the processing order.
Without an order column rows keep arrival order.

Cost shape: the per-key Arrow round trip grows with the number and type
of columns shipped, so each operator selects only the columns it reads
(keys, order/delta column, aggregate inputs) before the keyed exchange,
and a TimestampType order key travels as its ``unix_micros`` int64
(same order, no per-key tz-aware conversion in either direction); the
planner's streaming OVER prunes running_agg's input the same way.  The
per-key bodies are numpy only: window sums add left to right in the
order the rows entered the window, so results are bit-identical to a
sequential per-row loop.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                               LongType, StructField, StructType,
                               TimestampType)

from ..errors import PlanError

_SUPPORTED = ("sum", "count", "min", "max", "avg")

# window-matrix cells aggregated per numpy call: bounds the per-key
# working memory however many windows one micro-batch fires
_BLOCK_CELLS = 1 << 20


def count_window_agg(sdf: DataFrame,
                     key_cols: list[str],
                     aggs: list[tuple[str, str, str]],
                     size: int,
                     every: Optional[int] = None,
                     order_col: Optional[object] = None) -> DataFrame:
    """Aggregate a streaming DataFrame over count-based windows.

    Parameters
    ----------
    sdf : streaming DataFrame
    key_cols : partition keys (``partitioned on``); [] = single global
        window sequence (sequential — see module docstring)
    aggs : list of ``(fn, col, alias)``, fn in sum/count/min/max/avg
    size : window extent in rows (``[size N]``)
    every : trigger period in rows (``every M``); None = tumbling
    order_col : processing-order column(s) (str or list of str) —
        recommended: event time plus a unique tiebreaker, which makes
        window contents fully deterministic; NULLs sort last.  Ignored
        unless every named column is in ``sdf``.

    Returns a streaming DataFrame (append output mode) with schema
    ``key_cols + [window_no] + [alias...]`` for tumbling windows, or
    ``key_cols + [trigger] + [alias...]`` for sliding (``every`` given)
    — ``trigger`` is the firing row count, matching the batch
    exploded-trigger emulation's column name and values
    (windows.py _explode_triggers).
    """
    for fn, _c, _a in aggs:
        if fn not in _SUPPORTED:
            raise PlanError(
                f"count_window_agg supports {_SUPPORTED}, got {fn!r}")
    m = every if every is not None else size
    if m <= 0 or size <= 0:
        raise PlanError("window size/every must be positive")
    order_cols = ([order_col] if isinstance(order_col, str)
                  else list(order_col or []))
    if not all(c in sdf.columns for c in order_cols):
        order_cols = []

    agg_cols = [c for _f, c, _a in aggs]
    keyed, key_fields = _keyed_input(sdf, key_cols,
                                     order_cols + agg_cols, order_cols)

    sliding = every is not None
    win_name = "trigger" if sliding else "window_no"
    out_schema = StructType(
        list(key_fields)
        + [StructField(win_name, LongType())]
        + [StructField(alias, DoubleType()) for _f, _c, alias in aggs])
    out_names = [f.name for f in out_schema.fields]
    fns = [f for f, _c, _a in aggs]

    # state: rows seen + one bounded value-buffer per agg column, encoded
    # as a fixed-width struct (buffers as array<double>, nulls as NaN)
    state_schema = StructType(
        [StructField("seen", LongType())]
        + [StructField(f"buf{i}", ArrayType(DoubleType()))
           for i in range(len(agg_cols))])

    def fn(key, pdf_iter: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            row = state.get
            seen = row[0]
            bufs = [np.asarray(row[1 + i], dtype="float64")
                    for i in range(len(agg_cols))]
        else:
            seen = 0
            bufs = [np.empty(0) for _ in agg_cols]
        chunks = list(pdf_iter)
        if chunks:
            cols = _columns(chunks, order_cols + agg_cols)
            n = sum(len(ch) for ch in chunks)
            perm = (_order([cols[c] for c in order_cols], nulls_first=False)
                    if order_cols else slice(None))
            # ext = carried buffer + this batch; row g of the key (1-based
            # global count) sits at ext index g - base
            exts = [np.concatenate((b, _as_float(cols[c])[perm]))
                    for b, c in zip(bufs, agg_cols)]
            base = seen - min(seen, size) + 1
            fires = np.arange((seen // m + 1) * m, seen + n + 1, m)
            if len(fires):
                # window k ends at ext index fires[k] - base; front-pad
                # NaN (= NULL) cells so every window is a full-width
                # row of the padded buffer starting at starts[k]
                lead = max(0, size - 1 - int(fires[0] - base))
                starts = fires - base + lead - (size - 1)
                padded = [np.concatenate((np.full(lead, np.nan), e))
                          for e in exts]
                vals = _window_aggs(
                    fns, len(fires), size,
                    lambda lo, hi: [np.lib.stride_tricks
                                    .sliding_window_view(p, size)
                                    [starts[lo:hi]] for p in padded])
                win = fires if sliding else fires // m - 1
                data = {k: [v] * len(fires)
                        for k, v in zip(out_names, key)}
                data[win_name] = win
                data.update(zip(out_names[len(key) + 1:], vals))
                yield pd.DataFrame(data, copy=False)
            seen += n
            bufs = [e[-size:] for e in exts]
        state.update(tuple([seen] + [b.tolist() for b in bufs]))

    out = keyed.groupBy(*[f.name for f in key_fields]) \
        .applyInPandasWithState(fn, out_schema, state_schema, "append",
                                GroupStateTimeout.NoTimeout)
    return out if key_cols else out.drop(key_fields[0].name)


def delta_window_agg(sdf: DataFrame,
                     key_cols: list[str],
                     aggs: list[tuple[str, str, str]],
                     size: float,
                     every: float,
                     delta_col: str) -> DataFrame:
    """Sliding DELTA-axis windows on a streaming DataFrame.

    ``[size N on col every M on col]``: a trigger fires at every multiple
    T = k·M of ``every`` on the (assumed per-key monotone non-decreasing)
    numeric column; each firing aggregates rows with col in (T-N, T] —
    the same window bounds as the batch exploded-trigger emulation
    (windows.py _explode_triggers).  Trigger T fires when the first row
    with col > T arrives, so — unlike batch end-of-data semantics — a
    trigger exactly at the maximum seen value stays open; a trigger
    whose window holds no row emits nothing; a row whose col is NULL
    belongs to no window (batch parity).  State per key is the bounded
    row buffer of the trailing ``size`` units plus the last fired
    trigger.

    Output schema: key_cols + [trigger] + aliases (append mode).
    """
    for fn, _c, _a in aggs:
        if fn not in _SUPPORTED:
            raise PlanError(
                f"delta_window_agg supports {_SUPPORTED}, got {fn!r}")
    if size <= 0 or every <= 0:
        raise PlanError("window size/every must be positive")

    agg_cols = [c for _f, c, _a in aggs]
    keyed, key_fields = _keyed_input(sdf, key_cols,
                                     [delta_col] + agg_cols, [])
    out_schema = StructType(
        list(key_fields)
        + [StructField("trigger", DoubleType())]
        + [StructField(alias, DoubleType()) for _f, _c, alias in aggs])
    out_names = [f.name for f in out_schema.fields]
    fns = [f for f, _c, _a in aggs]
    # state: last fired trigger, position buffer, one value buffer per agg
    state_schema = StructType(
        [StructField("last_t", DoubleType()),
         StructField("pos", ArrayType(DoubleType()))]
        + [StructField(f"buf{i}", ArrayType(DoubleType()))
           for i in range(len(agg_cols))])
    eps = 1e-12

    def fn(key, pdf_iter: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            row = state.get
            last_t = row[0]
            pos = np.asarray(row[1], dtype="float64")
            bufs = [np.asarray(row[2 + i], dtype="float64")
                    for i in range(len(agg_cols))]
        else:
            last_t = None
            pos = np.empty(0)
            bufs = [np.empty(0) for _ in agg_cols]
        chunks = list(pdf_iter)
        if chunks:
            cols = _columns(chunks, [delta_col] + agg_cols)
            c = _as_float(cols[delta_col])
            perm = _order([c], nulls_first=False)
            perm = perm[~np.isnan(c[perm])]     # NULL: in no window
            c = c[perm]
            vcols = [_as_float(cols[a])[perm] for a in agg_cols]
            if len(c):
                # the fired triggers are k*every for k in [k_lo, k_hi]:
                # above the last fired one (or, for a key with none yet,
                # from its first buffered row), below the largest new
                # position
                thr = c - eps
                if last_t is not None:
                    k_lo = np.floor(last_t / every) + 1
                else:
                    k_lo = np.floor((pos[0] if len(pos) else thr[0])
                                    / every)
                k_hi = np.floor(thr[-1] / every)
                if k_hi * every >= thr[-1]:
                    k_hi -= 1
                # only triggers within `size` of some buffered row can
                # hold a row: enumerate those, not every multiple
                allp = np.concatenate((pos, c))
                klo = np.floor((allp - eps) / every)
                cnt = (np.floor((allp + size) / every) - klo + 1
                       ).astype("int64")
                ks = np.repeat(klo, cnt) + (
                    np.arange(cnt.sum()) - np.repeat(cnt.cumsum() - cnt,
                                                     cnt))
                ks = np.unique(ks[(ks >= k_lo) & (ks <= k_hi)])
                t = ks * every
                lo_t = (t - size) + eps
                hi_t = t + eps
                # rows admitted before trigger t fires: every carried
                # row, and the new rows before the first with c-eps > t
                fire = np.searchsorted(thr, t, side="right")
                a = np.searchsorted(c, lo_t, side="right")
                b = np.minimum(fire, np.searchsorted(c, hi_t,
                                                     side="right"))
                width = np.maximum(b - a, 0)
                cmask = ((pos[None, :] > lo_t[:, None])
                         & (pos[None, :] <= hi_t[:, None]))
                keep = (width > 0) | cmask.any(axis=1)
                t, a, width, cmask = t[keep], a[keep], width[keep], \
                    cmask[keep]
                if len(t):
                    wmax = int(width.max())
                    span = np.arange(wmax)

                    def windows(lo, hi):
                        # carried rows (buffer order) then new rows
                        # (sorted order): the order they were admitted
                        idx = a[lo:hi, None] + span
                        inw = span < width[lo:hi, None]
                        idx = np.where(inw, idx, 0)
                        return [np.concatenate(
                            (np.where(cmask[lo:hi], bf, np.nan),
                             np.where(inw, vc[idx], np.nan)), axis=1)
                            for bf, vc in zip(bufs, vcols)]
                    vals = _window_aggs(fns, len(t), len(pos) + wmax,
                                        windows)
                    data = {k: [v] * len(t)
                            for k, v in zip(out_names, key)}
                    data["trigger"] = t
                    data.update(zip(out_names[len(key) + 1:], vals))
                    yield pd.DataFrame(data, copy=False)
                if k_hi >= k_lo:
                    last_t = float(k_hi * every)
            pos = np.concatenate((pos, c))
            bufs = [np.concatenate((bf, vc)) for bf, vc in zip(bufs, vcols)]
            if last_t is not None:
                # drop the leading rows at col <= last_t - size: they
                # serve no future trigger (triggers only move forward)
                stale = pos <= (last_t - size) + eps
                drop = len(pos) if stale.all() else int(np.argmin(stale))
                pos = pos[drop:]
                bufs = [bf[drop:] for bf in bufs]
        state.update(tuple([last_t, pos.tolist()]
                           + [bf.tolist() for bf in bufs]))

    out = keyed.groupBy(*[f.name for f in key_fields]) \
        .applyInPandasWithState(fn, out_schema, state_schema, "append",
                                GroupStateTimeout.NoTimeout)
    return out if key_cols else out.drop(key_fields[0].name)


def _keyed_input(sdf: DataFrame, key_cols: list[str], read: list[str],
                 order_cols: list[str]):
    """The stateful pass's input: only the keys and the columns the
    per-key body reads (each once), a TimestampType order column
    replaced by its ``unix_micros`` under the same name; with no key
    columns, one constant grouping column.  Returns (frame, group-key
    fields)."""
    fields = {f.name: f for f in sdf.schema.fields}
    sel = []
    for c in dict.fromkeys(key_cols + read):
        col = F.col("`" + c.replace("`", "``") + "`")
        if c in order_cols and c not in key_cols \
                and isinstance(fields[c].dataType, TimestampType):
            col = F.unix_micros(col).alias(c)
        sel.append(col)
    if key_cols:
        return sdf.select(*sel), [fields[k] for k in key_cols]
    gk = _fresh_name("__gk", fields)
    return (sdf.select(*sel, F.lit(0).alias(gk)),
            [StructField(gk, IntegerType(), False)])


def _columns(chunks: list, names: list[str]) -> dict:
    """A key's Arrow chunks as one numpy array per named column (chunks
    concatenated in arrival order)."""
    names = list(dict.fromkeys(names))
    if len(chunks) == 1:
        return {c: chunks[0][c].to_numpy() for c in names}
    return {c: np.concatenate([ch[c].to_numpy() for ch in chunks])
            for c in names}


def _nulls(a: np.ndarray) -> np.ndarray:
    """NULL mask of a column as pandas hands it over: NaN in float
    columns (nullable integrals included), NaT in datetimes, None in
    object columns."""
    k = a.dtype.kind
    if k == "f":
        return np.isnan(a)
    if k in "mM":
        return np.isnat(a)
    if k == "O":
        return pd.isna(a)
    return np.zeros(len(a), dtype=bool)


def _order(keys: list, nulls_first: bool) -> np.ndarray:
    """The stable ascending permutation over several key columns (the
    first key primary): one ``np.lexsort``.  NULLs sort first or last
    per key; non-numeric keys (strings, dates, decimals) sort by their
    rank among the key's distinct non-null values."""
    lex = []
    for a in keys:
        null = _nulls(a)
        if a.dtype.kind == "O":
            v = np.zeros(len(a), dtype="int64")
            if not null.all():
                v[~null] = np.unique(a[~null], return_inverse=True)[1]
        elif a.dtype.kind in "mM":
            v = a.view("int64")
        elif null.any():
            v = np.where(null, 0, a)
        else:
            v = a
        if null.any():
            lex.append(~null if nulls_first else null)
        lex.append(v)
    return np.lexsort(lex[::-1])


def _as_float(a: np.ndarray) -> np.ndarray:
    """A column as float64 with NaN for NULL (pandas' astype for object
    columns such as decimals)."""
    if a.dtype.kind == "O":
        return pd.Series(a).astype("float64").to_numpy()
    return a.astype("float64", copy=False)


def _window_aggs(fns: list[str], n: int, width: int, windows) -> list:
    """Aggregate ``n`` windows per aggregate: ``windows(lo, hi)`` returns
    one (hi-lo, width) float matrix per aggregate (NaN = NULL or no
    row), each window's values in the order they entered it.  Matches a
    sequential per-row loop exactly: sums add left to right from 0.0
    (np.add.accumulate, never the pairwise add.reduce), min/max return
    the first extreme value, an all-NULL window's sum/min/max/avg is
    NULL (NaN), count is the non-NULL count.  Works in blocks of
    ``_BLOCK_CELLS`` cells."""
    out = [np.empty(n) for _ in fns]
    step = max(1, _BLOCK_CELLS // width)
    for lo in range(0, n, step):
        hi = min(n, lo + step)
        for o, fn, w in zip(out, fns, windows(lo, hi)):
            live = ~np.isnan(w)
            cnt = live.sum(axis=1)
            if fn == "count":
                o[lo:hi] = cnt
                continue
            if fn in ("sum", "avg"):
                z = np.concatenate((np.zeros((hi - lo, 1)),
                                    np.where(live, w, 0.0)), axis=1)
                r = np.add.accumulate(z, axis=1)[:, -1]
                if fn == "avg":
                    with np.errstate(invalid="ignore", divide="ignore"):
                        r = r / cnt
            else:
                red = np.fmin if fn == "min" else np.fmax
                r = red.reduce(w, axis=1)
                # +0.0 and -0.0 tie: keep the first one, as a scan does
                zero = r == 0
                if zero.any():
                    first = np.argmax(w[zero] == 0, axis=1)
                    r[zero] = w[zero][np.arange(len(first)), first]
            o[lo:hi] = np.where(cnt > 0, r, np.nan)
    return out


def _fresh_name(base: str, taken) -> str:
    """A bookkeeping column name that cannot shadow an input column —
    withColumn silently REPLACES same-named columns (the __tb_*/__rw_*
    collision class), so every synthesized name derives from the
    actual schema."""
    name, i = base, 0
    taken = set(taken)
    while name in taken:
        i += 1
        name = f"{base}_{i}"
    return name


def running_agg(sdf: DataFrame,
                key_cols: list[str],
                aggs: list[tuple[str, Optional[str], str]],
                order_cols: list[str],
                offsets: Optional[list[tuple]] = None,
                firsts: Optional[list[tuple]] = None,
                nths: Optional[list[tuple]] = None,
                ranks: Optional[list[tuple]] = None,
                lasts: Optional[list[tuple]] = None) -> DataFrame:
    """Per-ROW running aggregates over a keyed stream — the streaming
    form of the batch analytic ``agg(x) OVER (PARTITION BY key ORDER BY
    t ROWS UNBOUNDED PRECEDING..CURRENT ROW)``: every arriving row is
    emitted with the aggregate of all rows seen so far for its key.

    Parameters
    ----------
    aggs : ``(fn, col, alias)``; fn in sum/count/min/max/avg, col None
        means ``count(*)``.  Inputs must be numeric (DecimalType is
        rejected — Arrow round-trips it through Python objects, so
        cast to double first).
    offsets : ``(col, k, default, alias [, ignore_nulls])`` lag specs
        — the streaming
        form of ``lag(col, k, default) OVER (PARTITION BY key ORDER
        BY t)``: each row is emitted with the column value k rows
        earlier for its key, or ``default`` where no such row exists.
        ``k >= 0`` only (lag looks backward — a stream cannot look
        ahead); state per (key, spec) is the last k values, O(k)
        independent of stream length.  Any non-decimal atomic column
        type is allowed; output type is the input column's.  A
        nullable integral lag shares the running-sum per-value
        premise: values are exact below 2^53 (the Arrow float64
        transfer bound).  With ``ignore_nulls`` (r11) the tail keeps
        the last k NON-null values and each row is emitted with the
        k-th most recent non-null strictly before it — still O(k).
    firsts : ``(col, alias [, ignore_nulls])`` first_value specs —
        each row is emitted
        with its key's FIRST row's value (possibly NULL, the
        ignoreNulls=False default both engines share).  State per
        (key, spec) is one captured value plus a set-flag — O(1); the
        empty-vs-[NULL] array distinction is what separates "not yet
        seen" from "first value was NULL".  Same atomic-type rules as
        offsets.  With ``ignore_nulls`` (r11) the capture waits for
        the key's first NON-null value; rows before it emit NULL.
    nths : ``(col, n, alias [, ignore_nulls])`` nth_value specs
        (n >= 1) — each row is
        emitted with the value at its key's n-th row in order, or
        NULL while fewer than n rows have arrived (the batch
        ``nth_value(col, n)`` under the running ROWS frame).  State
        per (key, spec) is the first n values — O(n), stream-length
        independent; the buffer LENGTH (not nullness) marks how many
        rows are captured, so NULL values buffer exactly.  Same
        atomic-type rules as offsets.  With ``ignore_nulls`` (r11)
        the buffer keeps the first n NON-null values and a row sees
        the n-th once n non-nulls have arrived at or before it.
    lasts : ``(col, alias)`` IGNORE-NULLS last_value specs (r11) —
        each row is emitted with its key's most recent NON-null value
        at or before it (NULL until one arrives): the streaming
        ``last_value(col) IGNORE NULLS`` under the running ROWS frame
        (the RESPECT-NULLS form is the current row and compiles
        inline planner-side, no spec here).  State per (key, spec) is
        one captured value — O(1).
    ranks : ``(kind, alias)`` ranking specs, kind in ``rank`` /
        ``dense_rank`` (r11) — each row is emitted with its SQL rank
        over the rows seen so far for its key: peers (rows equal on
        every order column; NULL peers NULL, matching the batch
        window's ascending NULLS-FIRST grouping) share a rank, rank
        jumps past peer runs while dense_rank increments by one per
        distinct order key.  State per key is the LAST row's order-key
        values (one captured value per order column, shared across
        specs) plus one scalar per spec — O(1), stream-length
        independent: a peer run can only continue at the state
        boundary through the last row seen.  Output is long (cast to
        int planner-side for batch-dtype parity).  Order columns must
        be atomic and non-decimal when ranks are used (the captured
        last key round-trips through the Arrow state store).
    order_cols : intra-batch processing order (event time + a unique
        tiebreaker pins determinism), one sort over all of a key's
        Arrow chunks; NULL order keys sort FIRST, matching Spark's
        ascending default in the batch window.
        Cross-batch order is arrival order — the same documented
        premise as the count windows above (a single-file availableNow
        source is one ordered batch).

    State per (key, agg) is O(1) scalars (non-null count + running
    sum/min/max) — no buffer at all, so state size is independent of
    stream length; a billion-row key costs the same bytes as a ten-row
    key.  Output: every input column (in input order) followed by one
    column per alias; append mode, one output row per input row.

    Output types follow the batch window's: count -> long, avg ->
    double, sum -> long for integral inputs else double, min/max ->
    the input type.  The per-batch computation is vectorized
    (numpy cumulative ops seeded with the carried-in state scalars):
    integral columns accumulate in int64 — with or without NULLs —
    so running totals keep JVM-long wraparound parity instead of
    drifting once past 2^53 (a nullable integral column itself
    arrives from Arrow as float64, so its individual VALUES are exact
    only below 2^53 — that per-value transfer bound is the one
    documented premise); double sums seed the cumsum with the
    carried-in state, so the addition order across micro-batches is
    (carry+x1)+x2+..., the same sequential order as the batch
    engine's and DuckDB's cumulative frame when the order key is
    unique.  Premise shared with every Arrow-batched path: a NULL in
    a double column arrives in pandas as NaN, so NaN values are
    treated as NULL (batch Spark would propagate a true NaN into the
    running sum — the distinction does not survive Arrow).
    """
    from pyspark.sql.types import (DecimalType, FractionalType,
                                   IntegralType, NumericType)

    # normalize the optional trailing ignore_nulls flag on each spec
    # kind (older callers pass the short tuples)
    offsets = [(o + (False,) if len(o) == 4 else o)
               for o in (offsets or [])]
    firsts = [(f + (False,) if len(f) == 2 else f)
              for f in (firsts or [])]
    nths = [(x + (False,) if len(x) == 3 else x) for x in (nths or [])]
    ranks = ranks or []
    lasts = lasts or []
    for fn, c, _a in aggs:
        if fn not in _SUPPORTED:
            raise PlanError(
                f"running_agg supports {_SUPPORTED}, got {fn!r}")
        if c is None and fn != "count":
            raise PlanError(f"{fn}(*) is not valid")
    for kind, _a in ranks:
        if kind not in ("rank", "dense_rank"):
            raise PlanError(
                f"running_agg rank specs support rank/dense_rank, "
                f"got {kind!r}")
    if not aggs and not offsets and not firsts and not nths \
            and not ranks and not lasts:
        raise PlanError("running_agg needs at least one aggregate, "
                        "lag, first_value, last_value, nth_value, or "
                        "rank spec")
    if not order_cols:
        raise PlanError("running_agg requires an ordering column")
    missing = [c for c in order_cols if c not in sdf.columns]
    if missing:
        raise PlanError(
            f"running_agg order column(s) {missing} not found in "
            f"input columns {sdf.columns}")

    in_fields = list(sdf.schema.fields)
    by_name = {f.name: f for f in in_fields}
    integral: list[bool] = []
    for fn, c, _a in aggs:
        if c is None:
            integral.append(True)
            continue
        t = by_name[c].dataType
        if not isinstance(t, NumericType) or isinstance(t, DecimalType):
            raise PlanError(
                f"running {fn}({c}) needs a non-decimal numeric "
                f"column, got {t.simpleString()} (cast decimals to "
                f"double first)")
        # avg accumulates its numerator in float64 even for integral
        # inputs — batch Spark's Average keeps a DOUBLE sum buffer for
        # longs, so an int64 numerator would diverge from batch once
        # the running total passes 2^53 (round-10 ADVICE); sum keeps
        # the int64 path for JVM-long wraparound parity
        integral.append(isinstance(t, IntegralType) and fn != "avg")

    from pyspark.sql.types import (BooleanType, FractionalType, MapType,
                                   StringType)
    checked_offsets: list[tuple] = []
    for c, k, dflt, a, ign in offsets:
        if c not in by_name:
            raise PlanError(
                f"lag column {c!r} not found in input columns "
                f"{sdf.columns}")
        t = by_name[c].dataType
        if isinstance(t, DecimalType):
            raise PlanError(
                f"lag({c}) on a decimal column is not supported on "
                f"streams (cast to double first)")
        if isinstance(t, (ArrayType, MapType, StructType)):
            raise PlanError(
                f"lag({c}) needs an atomic column type, got "
                f"{t.simpleString()}")
        if not isinstance(k, int) or isinstance(k, bool) or k < 0:
            raise PlanError("lag offset must be an integer >= 0")
        # type-check the default at PLAN time: a mismatched literal
        # would otherwise die in the executor as an opaque Arrow
        # conversion error on the first micro-batch
        if dflt is not None:
            if isinstance(t, StringType):
                ok = isinstance(dflt, str)
            elif isinstance(t, BooleanType):
                ok = isinstance(dflt, bool)
            elif isinstance(t, IntegralType):
                ok = isinstance(dflt, int) and not isinstance(dflt, bool)
            elif isinstance(t, FractionalType):
                ok = isinstance(dflt, (int, float)) \
                    and not isinstance(dflt, bool)
                if ok:
                    dflt = float(dflt)
            else:
                ok = False        # date/timestamp/binary: NULL only
            if not ok:
                raise PlanError(
                    f"lag({c}) default {dflt!r} does not match the "
                    f"column type {t.simpleString()} (use a matching "
                    f"literal or omit the default)")
        checked_offsets.append((c, k, dflt, a, bool(ign)))
    offsets = checked_offsets
    def _check_value_col(c: str, what: str) -> None:
        if c not in by_name:
            raise PlanError(
                f"{what} column {c!r} not found in input columns "
                f"{sdf.columns}")
        t = by_name[c].dataType
        if isinstance(t, DecimalType):
            raise PlanError(
                f"{what}({c}) on a decimal column is not "
                f"supported on streams (cast to double first)")
        if isinstance(t, (ArrayType, MapType, StructType)):
            raise PlanError(
                f"{what}({c}) needs an atomic column type, got "
                f"{t.simpleString()}")

    for c, _a, _ig in firsts:
        _check_value_col(c, "first_value")
    for c, n, _a, _ig in nths:
        _check_value_col(c, "nth_value")
        if not isinstance(n, int) or isinstance(n, bool) or n < 1:
            raise PlanError("nth_value n must be an integer >= 1")
    for c, _a in lasts:
        _check_value_col(c, "last_value")
    if ranks:
        # the captured last order key lives in the Arrow state store —
        # same atomic/non-decimal rules as the lag tail
        for oc in order_cols:
            _check_value_col(oc, "rank/dense_rank ORDER BY")

    def _out_type(i):
        fn, c, _a = aggs[i]
        if fn == "count":
            return LongType()
        if fn == "avg":
            return DoubleType()
        if fn == "sum":
            return LongType() if integral[i] else DoubleType()
        return by_name[c].dataType                     # min/max
    out_schema = StructType(
        in_fields + [StructField(a, _out_type(i))
                     for i, (_f, _c, a) in enumerate(aggs)]
        + [StructField(a, by_name[c].dataType)
           for c, _k, _d, a, _ig in offsets]
        + [StructField(a, by_name[c].dataType) for c, a, _ig in firsts]
        + [StructField(a, by_name[c].dataType)
           for c, _n, a, _ig in nths]
        + [StructField(a, LongType()) for _k, a in ranks]
        + [StructField(a, by_name[c].dataType) for c, a in lasts])

    # state: rows seen + per-agg (non-null n, sum, min, max) scalars
    def _acc_type(i):
        return LongType() if integral[i] else DoubleType()
    state_fields = [StructField("seen", LongType())]
    for i in range(len(aggs)):
        state_fields += [StructField(f"n{i}", LongType()),
                         StructField(f"s{i}", _acc_type(i)),
                         StructField(f"mn{i}", _acc_type(i)),
                         StructField(f"mx{i}", _acc_type(i))]
    # lag state: the last k values per spec (O(k), stream-length
    # independent), typed as an array of the input column's type
    for j, (c, _k, _d, _a, _ig) in enumerate(offsets):
        state_fields.append(
            StructField(f"tl{j}", ArrayType(by_name[c].dataType)))
    # first_value state: one captured value per spec — the empty
    # array means "not yet seen", [NULL] means "first value was NULL"
    # (under IGNORE NULLS the capture waits for a non-null, so [NULL]
    # never occurs there)
    for j, (c, _a, _ig) in enumerate(firsts):
        state_fields.append(
            StructField(f"fv{j}", ArrayType(by_name[c].dataType)))
    # nth_value state: the first n values per spec (O(n)); the array
    # LENGTH marks how many rows are captured (NULL values buffer;
    # under IGNORE NULLS only non-nulls do)
    for j, (c, _n, _a, _ig) in enumerate(nths):
        state_fields.append(
            StructField(f"nv{j}", ArrayType(by_name[c].dataType)))
    # IGNORE-NULLS last_value state: the most recent non-null per
    # spec — empty array until one arrives
    for j, (c, _a) in enumerate(lasts):
        state_fields.append(
            StructField(f"lv{j}", ArrayType(by_name[c].dataType)))
    # rank state: one last-emitted value per spec, plus the LAST row's
    # order-key values (one single-element array per order column,
    # shared by every spec — empty array = no row seen yet, [NULL] =
    # last key was NULL; the first_value encoding)
    for j in range(len(ranks)):
        state_fields.append(StructField(f"rk{j}", LongType()))
    if ranks:
        for m, oc in enumerate(order_cols):
            state_fields.append(
                StructField(f"lk{m}", ArrayType(by_name[oc].dataType)))
    state_schema = StructType(state_fields)
    tail_base = 1 + 4 * len(aggs)
    first_base = tail_base + len(offsets)
    nth_base = first_base + len(firsts)
    last_base = nth_base + len(nths)
    rank_base = last_base + len(lasts)
    lk_base = rank_base + len(ranks)

    gk = _fresh_name("__gk", sdf.columns)
    keyed = sdf if key_cols else sdf.withColumn(gk, F.lit(0))
    group_keys = key_cols if key_cols else [gk]
    out_names = [f.name for f in out_schema.fields]
    in_names = [f.name for f in in_fields]

    def _obj(a: np.ndarray, t) -> np.ndarray:
        """Column values as an object ndarray with None for NULL — the
        one representation Arrow converts back to the declared column
        type losslessly for every supported kind (float NaN and
        int-as-float would otherwise leak through).  The elements are
        plain Python values (datetimes at microsecond precision), so
        they also go into the state as they are."""
        null = _nulls(a)
        if a.dtype.kind == "f" and isinstance(t, IntegralType):
            out = np.where(null, 0, a).astype("int64").astype(object)
        elif a.dtype.kind == "M":
            out = a.astype("datetime64[us]").astype(object)
        elif a.dtype.kind == "m":
            out = a.astype("timedelta64[us]").astype(object)
        else:
            out = a.astype(object)
        if null.any():
            out[null] = None
        return out

    def _nullable(a: np.ndarray, empty: np.ndarray):
        # int64 results must not upcast to float64 when the
        # empty-prefix mask applies (precision + a NaN under a
        # LongType field): a masked IntegerArray.  float64 NaN
        # converts to an Arrow null (the shared NaN==NULL premise).
        if not empty.any():
            return a
        if a.dtype.kind == "i":
            return pd.arrays.IntegerArray(a, empty)
        return np.where(empty, np.nan, a)

    def fn(key, pdf_iter: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            row = state.get
            seen = row[0]
            accs = [list(row[1 + 4 * i: 5 + 4 * i])
                    for i in range(len(aggs))]
            tails = [list(row[tail_base + j] or ())
                     for j in range(len(offsets))]
            fvals = [list(row[first_base + j] or ())
                     for j in range(len(firsts))]
            nbufs = [list(row[nth_base + j] or ())
                     for j in range(len(nths))]
            lvals = [list(row[last_base + j] or ())
                     for j in range(len(lasts))]
            rvals = [row[rank_base + j] for j in range(len(ranks))]
            lastkey = ([list(row[lk_base + m] or ())
                        for m in range(len(order_cols))]
                       if ranks else [])
        else:
            seen = 0
            accs = [[0, None, None, None] for _ in aggs]
            tails = [[] for _ in offsets]
            fvals = [[] for _ in firsts]
            nbufs = [[] for _ in nths]
            lvals = [[] for _ in lasts]
            rvals = [0 for _ in ranks]
            lastkey = [[] for _ in order_cols] if ranks else []

        chunks = list(pdf_iter)
        if chunks:
            # one sort over ALL of the key's chunks (a per-chunk sort
            # would let chunk boundaries reorder the running values);
            # NULLS FIRST: Spark's ascending default, which the batch
            # window this operator mirrors uses
            cols = _columns(chunks, in_names)
            perm = _order([cols[c] for c in order_cols], nulls_first=True)
            cols = {c: a[perm] for c, a in cols.items()}
            n_rows = len(perm)
            res = dict(cols)
            star = np.arange(1, n_rows + 1, dtype="int64") + seen
            cum_cache: dict = {}
            for i, (afn, c, alias) in enumerate(aggs):
                acc = accs[i]
                if c is None:                          # count(*)
                    res[alias] = star
                    continue
                key_c = (c, integral[i])
                if key_c in cum_cache:
                    nn, rs, rmn, rmx = cum_cache[key_c]
                else:
                    arr = cols[c]
                    nanmask = _nulls(arr)
                    nn = (~nanmask).cumsum() + acc[0]
                    if integral[i] and arr.dtype.kind == "i":
                        # non-null int64 end to end: exact, and
                        # overflow wraps exactly like the JVM long
                        # adds of the batch window
                        arr = arr.astype("int64", copy=False)
                        rs = arr.cumsum(dtype="int64") \
                            + np.int64(acc[1] or 0)
                        rmn = np.minimum.accumulate(
                            arr if acc[2] is None else
                            np.minimum(arr, np.int64(acc[2])))
                        rmx = np.maximum.accumulate(
                            arr if acc[3] is None else
                            np.maximum(arr, np.int64(acc[3])))
                    elif integral[i]:
                        # nullable integral: Arrow hands the column
                        # over as float64 with NaN nulls (each VALUE
                        # exact below 2^53 — the documented transfer
                        # bound), but the RUNNING totals accumulate
                        # in int64 so long sums keep JVM wraparound
                        # parity instead of losing precision once the
                        # total passes 2^53
                        ints = np.where(nanmask, 0, arr).astype("int64")
                        rs = ints.cumsum(dtype="int64") \
                            + np.int64(acc[1] or 0)
                        # masked min/max: null rows contribute the
                        # identity, so they never move the running
                        # extreme; all-null prefixes are nulled by
                        # the nn==0 mask below
                        hi = np.int64(np.iinfo("int64").max)
                        lo = np.int64(np.iinfo("int64").min)
                        mn_in = np.where(nanmask, hi, ints)
                        if acc[2] is not None:
                            mn_in = np.minimum(mn_in, np.int64(acc[2]))
                        rmn = np.minimum.accumulate(mn_in)
                        mx_in = np.where(nanmask, lo, ints)
                        if acc[3] is not None:
                            mx_in = np.maximum(mx_in, np.int64(acc[3]))
                        rmx = np.maximum.accumulate(mx_in)
                    else:
                        # double path: NaN marks null.  x + 0.0 is
                        # bitwise x for every finite x, so
                        # substituting 0 for NULL keeps the cumsum
                        # identical to skipping nulls; seeding the
                        # cumsum with the carry makes the cross-batch
                        # addition order (carry+x1)+x2+... — the same
                        # sequence the batch cumulative frame
                        # evaluates; fmin/fmax ignore NaN
                        arr = arr.astype("float64", copy=False)
                        filled = np.where(nanmask, 0.0, arr)
                        rs = np.concatenate(
                            ([acc[1] or 0.0], filled)).cumsum()[1:]
                        rmn = np.fmin.accumulate(
                            arr if acc[2] is None
                            else np.fmin(arr, acc[2]))
                        rmx = np.fmax.accumulate(
                            arr if acc[3] is None
                            else np.fmax(arr, acc[3]))
                    cum_cache[key_c] = (nn, rs, rmn, rmx)
                empty = nn == 0                       # no value yet
                if afn == "count":
                    res[alias] = nn
                elif afn == "avg":
                    with np.errstate(invalid="ignore", divide="ignore"):
                        res[alias] = _nullable(rs.astype("float64") / nn,
                                               empty)
                elif afn == "sum":
                    res[alias] = _nullable(rs, empty)
                else:
                    res[alias] = _nullable(rmn if afn == "min" else rmx,
                                           empty)
                # carry the batch-final scalars forward
                acc[0] = int(nn[-1])
                if acc[0] > 0:
                    cast = int if integral[i] else float
                    acc[1] = cast(rs[-1])
                    acc[2] = None if (not integral[i]
                                      and np.isnan(rmn[-1])) \
                        else cast(rmn[-1])
                    acc[3] = None if (not integral[i]
                                      and np.isnan(rmx[-1])) \
                        else cast(rmx[-1])
            for j, (c, k, dflt, alias, ign) in enumerate(offsets):
                vals = _obj(cols[c], by_name[c].dataType)
                if k == 0:                    # lag 0 is the value itself
                    res[alias] = vals
                    continue
                tail = tails[j]
                if ign:
                    # IGNORE NULLS: the tail carries the last k
                    # NON-null values; row i's answer is the k-th most
                    # recent non-null strictly before it — index
                    # (len(tail) + #batch-non-nulls-before-i - k)
                    # into tail+batch-non-nulls, default when negative
                    m = ~_nulls(cols[c])
                    nn = np.concatenate(
                        [np.array(tail, dtype=object), vals[m]])
                    c_excl = np.concatenate(
                        ([0], m.cumsum()[:-1])) + len(tail)
                    idx = c_excl - k
                    out = np.empty(n_rows, dtype=object)
                    out[:] = dflt
                    ok = idx >= 0
                    if ok.any():
                        out[ok] = nn[idx[ok]]
                    res[alias] = out
                    tails[j] = list(nn[max(0, len(nn) - k):])
                    continue
                # global row g's lag-k lives at g-k: rows [seen-k,
                # seen-1] are the carried tail, earlier rows get the
                # default.  Prepending (default-pad + tail) — exactly
                # k cells — makes ext[i] the lag of batch row i.
                pad = np.empty(k - len(tail), dtype=object)
                pad[:] = dflt
                ext = np.concatenate(
                    [pad, np.array(tail, dtype=object), vals])
                res[alias] = ext[:n_rows]
                tails[j] = list(ext[len(ext) - k:])
            for j, (c, alias, ign) in enumerate(firsts):
                out = np.empty(n_rows, dtype=object)
                if ign and not fvals[j]:
                    # IGNORE NULLS: the capture waits for the key's
                    # first NON-null; rows before it (this batch's
                    # prefix — earlier batches already emitted NULL)
                    # see NULL
                    live = np.flatnonzero(~_nulls(cols[c]))
                    if len(live):
                        hit = int(live[0])
                        fvals[j] = [_obj(cols[c][hit:hit + 1],
                                         by_name[c].dataType)[0]]
                        out[hit:] = fvals[j][0]
                    res[alias] = out
                    continue
                if not fvals[j]:
                    # capture the key's very first row's value —
                    # via the object conversion so NULL/ints survive
                    fvals[j] = [_obj(cols[c][:1], by_name[c].dataType)[0]]
                out[:] = fvals[j][0]
                res[alias] = out
            for j, (c, n, alias, ign) in enumerate(nths):
                buf = nbufs[j]
                out = np.empty(n_rows, dtype=object)
                if ign:
                    # IGNORE NULLS: buffer the first n NON-null
                    # values (buffer length = min(non-nulls seen, n),
                    # so it doubles as the carried non-null count); a
                    # row sees the n-th once n non-nulls have arrived
                    # at or before it
                    m = ~_nulls(cols[c])
                    before = len(buf)
                    if before < n:
                        live = np.flatnonzero(m)[:n - before]
                        buf.extend(_obj(cols[c][live], by_name[c].dataType))
                    if len(buf) >= n:
                        out[m.cumsum() + before >= n] = buf[n - 1]
                    res[alias] = out
                    continue
                if len(buf) < n:
                    # only the n - len(buf) leading values are needed,
                    # never the whole batch column
                    buf.extend(_obj(cols[c][:n - len(buf)],
                                    by_name[c].dataType))
                # local row i sits at global position seen + i + 1;
                # rows at or past position n see the captured value
                # (by then the buffer is complete — it filled from
                # this batch's own prefix), earlier rows see NULL
                k = min(n_rows, max(0, n - seen - 1))
                out[k:] = buf[n - 1] if len(buf) >= n else None
                res[alias] = out
            for j, (c, alias) in enumerate(lasts):
                # IGNORE-NULLS last_value: the most recent non-null at
                # or before each row — vectorized ffill over positions
                # of non-nulls, seeded with the carried capture
                vals = _obj(cols[c], by_name[c].dataType)
                m = ~_nulls(cols[c])
                last_pos = np.maximum.accumulate(
                    np.where(m, np.arange(n_rows), -1))
                carry = lvals[j][0] if lvals[j] else None
                res[alias] = np.where(last_pos >= 0,
                                      vals[np.maximum(last_pos, 0)], carry)
                if m.any():
                    lvals[j] = [vals[last_pos[-1]]]
            if ranks:
                # isnew[i]: row i starts a new peer run — it differs
                # from row i-1 on ANY order column (NULL peers NULL,
                # matching the NULLS-FIRST sort above; a float NaN is
                # NULL, the shared NaN==NULL premise)
                isnew = np.zeros(n_rows, dtype=bool)
                for oc in order_cols:
                    a, null = cols[oc], _nulls(cols[oc])
                    isnew[1:] |= ~((a[1:] == a[:-1])
                                   | (null[1:] & null[:-1]))
                if seen == 0:
                    isnew[0] = True
                else:
                    # row 0 continues the carried peer run only when
                    # it equals the LAST row's captured order key
                    same = True
                    for m, oc in enumerate(order_cols):
                        cur = _obj(cols[oc][:1], by_name[oc].dataType)[0]
                        prv = lastkey[m][0] if lastkey[m] else None
                        if not ((cur is None and prv is None)
                                or (cur is not None and prv is not None
                                    and cur == prv)):
                            same = False
                            break
                    isnew[0] = not same
                newcum = isnew.cumsum()
                for j, (kind, alias) in enumerate(ranks):
                    if kind == "dense_rank":
                        # one increment per distinct order key; the
                        # carried scalar is the last emitted dense rank
                        vals = np.int64(rvals[j]) + newcum
                    else:
                        # rank = global position where a run starts,
                        # held flat across the run; positions only
                        # grow, so a running max over (position if
                        # new else 0 / the carried rank at row 0)
                        # reproduces SQL rank incrementally
                        cand = np.where(isnew, star, np.int64(0))
                        if not isnew[0]:
                            cand[0] = rvals[j]
                        vals = np.maximum.accumulate(cand)
                    res[alias] = vals
                    rvals[j] = int(vals[-1])
                lastkey = [
                    [_obj(cols[oc][-1:], by_name[oc].dataType)[0]]
                    for oc in order_cols]
            seen += n_rows
            yield pd.DataFrame({c: res[c] for c in out_names},
                               copy=False)
        state.update(tuple(
            [seen] + [x for acc in accs for x in acc]
            + [tails[j] for j in range(len(offsets))]
            + [fvals[j] for j in range(len(firsts))]
            + [nbufs[j] for j in range(len(nths))]
            + [lvals[j] for j in range(len(lasts))]
            + [rvals[j] for j in range(len(ranks))]
            + (lastkey if ranks else [])))

    out = keyed.groupBy(*group_keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout)
    return out if key_cols else out.drop(group_keys[0])
